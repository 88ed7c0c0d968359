"""Regression tests for the round-1 advisor findings (ADVICE.md r1):

1. pipeline snapshot mode: MergeResult audit frames must survive the
   snapshot swap (eager checkpoint before write_snapshot).
2. salted_join rejects right/full join types (replicated right side).
3. interval_join: outer types rejected; how='left' preserves points.
4. asof_join: a right row whose value is legitimately NULL must win as
   the latest row (no carry-forward of older non-null values).
5. merge counters _batch_rows counts RAW incoming rows, pre-dedup.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_world_banks_with_python_and_postgresql_spark import schemas
from etl_world_banks_with_python_and_postgresql_spark.operators.asof import asof_join
from etl_world_banks_with_python_and_postgresql_spark.operators.merge import merge_scd
from etl_world_banks_with_python_and_postgresql_spark.operators.range_join import (
    interval_join,
)
from etl_world_banks_with_python_and_postgresql_spark.operators.skew import salted_join


def test_snapshot_mode_audit_frames_survive_swap(spark, tmp_path):
    from etl_world_banks_with_python_and_postgresql_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from tests.test_pipeline import BANKS, RATES, banks_html, rates_html

    b = tmp_path / "banks.html"
    r = tmp_path / "rates.html"
    b.write_text(banks_html(BANKS))
    r.write_text(rates_html(RATES))
    cfg = PipelineConfig(
        banks_source=str(b),
        rates_source=str(r),
        target_dir=str(tmp_path / "t"),
        now=datetime(2024, 7, 2, 12, 0, 0),
    )
    res = run_pipeline(spark, cfg)
    # force a cold re-evaluation: drop every cached stage/exchange so lazy
    # plans rooted at pre-swap files would raise FILE_NOT_EXIST
    spark.catalog.clearCache()
    assert res.banks.actions.count() > 0
    assert res.banks.counters.count() == 1
    assert res.banks.changed.count() > 0
    assert res.rates.actions.count() > 0
    assert res.banks.actions.filter("action = 'error'").count() == 0
    # the returned target is rooted at the committed snapshot
    assert res.banks.target.count() == res.banks.actions.count()


def test_salted_join_rejects_right_preserving_types(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(df, df, on=["k"], how=how)
    # left-preserving types still work
    assert salted_join(df, df, on=["k"], how="left_semi", salt=4).count() == 10


def test_interval_join_left_preserves_points(spark):
    points = spark.createDataFrame(
        [(1, 5.0), (2, 25.0), (3, 99.0)], "pid int, v double"
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 20.0, 30.0)], "iid int, lo double, hi double"
    )
    out = interval_join(points, intervals, "v", "lo", "hi", bucket_width=10.0,
                        how="left")
    rows = {r["pid"]: r for r in out.collect()}
    assert len(rows) == 3
    assert rows[1]["iid"] == 10
    assert rows[2]["iid"] == 20
    assert rows[3]["iid"] is None and rows[3]["lo"] is None
    with pytest.raises(ValueError, match="interval_join"):
        interval_join(points, intervals, "v", "lo", "hi", 10.0, how="right")


def test_asof_join_null_right_value_wins(spark):
    left = spark.createDataFrame([("a", 10), ("a", 30)], "key string, ts int")
    right = spark.createDataFrame(
        [("a", 5, 1.0), ("a", 20, None)], "key string, ts int, px double"
    )
    out = asof_join(left, right, key="key", ts="ts", value_cols=["px"])
    got = {r["ts"]: r["px"] for r in out.collect()}
    assert got[10] == 1.0
    # latest right row at ts=20 carries px=NULL -> the as-of value IS NULL,
    # not the older 1.0
    assert got[30] is None


def test_asof_join_no_prior_row_is_null(spark):
    left = spark.createDataFrame([("a", 1)], "key string, ts int")
    right = spark.createDataFrame([("a", 5, 2.0)], "key string, ts int, px double")
    out = asof_join(left, right, key="key", ts="ts", value_cols=["px"])
    assert out.collect()[0]["px"] is None


def test_merge_batch_rows_counts_raw_pre_dedup(spark):
    target = spark.createDataFrame([], schemas.WORLD_BANK_DATA)
    batch = spark.createDataFrame(
        [("B1", 1.0, None, "b0"), ("B1", 2.0, None, "b0"), ("B2", 3.0, None, "b0")],
        "bank_name string, market_cap_usd double, last_modified_date date, batch_id string",
    )
    res = merge_scd(
        target,
        batch,
        keys=["bank_name"],
        compare_col="market_cap_usd",
        set_cols=["market_cap_usd", "last_modified_date"],
        batch_id="b0",
        table_name="world_bank_data",
        now=datetime(2024, 7, 2),
    )
    row = res.counters.collect()[0]
    assert row["_batch_rows"] == 3  # raw rows, not the 2 distinct keys
    assert row["new_inserts_count"] == 2  # dedup still governs the merge
    assert "_dup_n" not in res.actions.columns


def _persisted_rdd_count(spark):
    jsc = spark.sparkContext._jsc.sc()
    return jsc.getPersistentRDDs().size()


def test_dedup_pair_ops_release_caches(spark):
    """ADVICE r3: the pair operators' internal shingle/signature caches
    must not outlive the call in default (unpersist_after=True) mode --
    repeated ingests in a long-lived session otherwise accumulate dead
    blocks. Each eager call may leave exactly ONE persisted RDD (the
    checkpointed, result-sized output the caller owns) -- never its
    corpus-sized shingle caches. Results must equal the lazy mode."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_novel,
        ngram_jaccard_pairs,
    )
    from etl_world_banks_with_python_and_postgresql_spark.sources.catalog import load

    docs = load(spark, "documents", "/root/testdata/sf0.001")
    spark.catalog.clearCache()
    base = _persisted_rdd_count(spark)

    # hold every result alive: growth beyond one checkpoint per call
    # means an internal cache leaked (broken code leaves 2-3 per call)
    results = [ngram_jaccard_pairs(docs, threshold=0.8) for _ in range(2)]
    assert _persisted_rdd_count(spark) <= base + 2
    eager = sorted(map(tuple, results[0].collect()))
    lazy_df = ngram_jaccard_pairs(docs, threshold=0.8, unpersist_after=False)
    assert sorted(map(tuple, lazy_df.collect())) == eager
    spark.catalog.clearCache()
    base = _persisted_rdd_count(spark)

    results = [minhash_lsh_pairs(docs, threshold=0.5) for _ in range(2)]
    assert _persisted_rdd_count(spark) <= base + 2
    eager = sorted(map(tuple, results[0].collect()))
    lazy_df = minhash_lsh_pairs(docs, threshold=0.5, unpersist_after=False)
    assert sorted(map(tuple, lazy_df.collect())) == eager
    spark.catalog.clearCache()
    base = _persisted_rdd_count(spark)

    new = docs.filter(F.col("source") != "src0")
    corpus = docs.filter(F.col("source") == "src0")
    results = [minhash_novel(new, corpus, threshold=0.5) for _ in range(2)]
    assert _persisted_rdd_count(spark) <= base + 2
    eager = {r["doc_id"] for r in results[0].collect()}
    lazy_df = minhash_novel(new, corpus, threshold=0.5, unpersist_after=False)
    assert {r["doc_id"] for r in lazy_df.collect()} == eager
    spark.catalog.clearCache()


def test_auto_lsh_layout_holds_recall_operating_point():
    """ADVICE r5: auto-sizing bits_per_band up from the 6-bit floor must
    scale bands alongside, so the S-curve recall 1-(1-s^r)^B at the
    caller's threshold does not silently drop for default callers."""
    import math

    from etl_world_banks_with_python_and_postgresql_spark.operators.similarity import (
        _auto_lsh_layout,
    )

    def recall(bits, bands, t):
        s = 1.0 - math.acos(t) / math.pi
        return 1.0 - (1.0 - s**bits) ** bands

    # small corpora: unchanged floor layout
    assert _auto_lsh_layout(1_000, 12, 0.9) == (6, 12)

    for n in (100_000, 1_000_000, 10_000_000):
        for t in (0.9, 0.95):
            bits, bands = _auto_lsh_layout(n, 12, t)
            # bucket-cliff guard holds
            assert 2**bits >= min(n, 2**24 * 100) / 100
            # recall at the operating point >= what the 6-bit floor
            # with the caller's 12 bands gave (cap not binding here)
            assert bands <= 12 * 8
            assert recall(bits, bands, t) >= recall(6, 12, t) - 1e-9, (
                n, t, bits, bands,
            )

    # beyond the cap: graceful degradation, bands pinned at 8x
    bits, bands = _auto_lsh_layout(2**24 * 100, 12, 0.85)
    assert bits == 24 and bands == 96

    # bands never shrink below the caller's request
    for n in (10, 10**9):
        for t in (0.5, 0.99):
            _, b = _auto_lsh_layout(n, 12, t)
            assert b >= 12


# ---- round-7 advisor findings (ADVICE.md r7) ----


def test_no_print_in_library():
    """ADVICE r7: replay notices must go through logging, not stdout.
    Generalized to a lint: zero print( calls anywhere in the package
    (executor/driver stdout is easily lost and cannot be filtered)."""
    import ast
    import os

    pkg = "etl_world_banks_with_python_and_postgresql_spark"
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            tree = ast.parse(open(path).read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == "print"
                ):
                    offenders.append(f"{path}:{node.lineno}")
    assert not offenders, f"print() in library code: {offenders}"


def test_scan_huff_table_guards_oversized_alphabet():
    """ADVICE r7: >255 distinct symbols in one scan alphabet must fail
    with a clear message, not an opaque bytes() ValueError."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.jpeg import _scan_huff_table

    bits, vals = _scan_huff_table(list(range(255)))
    assert sum(bits) == 255
    with pytest.raises(ValueError, match="at most 255"):
        _scan_huff_table(list(range(256)))


def test_ivm_ingest_reads_ledger_once(spark, tmp_path, monkeypatch):
    """ADVICE r7: _ingest tripled metadata IO (three ledger loads per
    call); now exactly ONE read feeds auto-id, replay check, and the
    CAS-guarded commit."""
    from etl_world_banks_with_python_and_postgresql_spark import committer as cm
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import CdcAggView, signed

    v = CdcAggView(
        path=str(tmp_path / "agg"),
        keys=["k"],
        measures={"s": "cast(x as decimal(18,2))"},
    )
    delta = signed(spark.createDataFrame([(1, 1.0)], "k int, x double"), +1)
    v.ingest(delta)  # seed (auto-id 0)

    loads = []
    real_load = cm.JsonCommitter.load

    def counting_load(self, path):
        if path.endswith("_ledger.json"):
            loads.append(path)
        return real_load(self, path)

    monkeypatch.setattr(cm.JsonCommitter, "load", counting_load)
    v.ingest(delta)  # auto-id 1
    # one load in _ingest + one inside the guarded commit's CAS check
    # (the flock-protected re-read that makes the swap atomic)
    assert len(loads) <= 2, loads


def test_diag_import_graph_resolves_init_relative_imports(tmp_path, monkeypatch):
    """ADVICE r8: relative imports inside an __init__.py resolve against
    the package ITSELF, not its parent -- `from .ivm import X` in
    operators/__init__.py is pkg.operators.ivm. Mis-resolution pruned
    the re-export edge and let --changed-since under-select registry
    entries whose closure routes through package __init__ re-exports."""
    import sys

    sys.path.insert(0, "/root/repo")
    try:
        import diag
    finally:
        sys.path.remove("/root/repo")

    pkg = tmp_path / "pkg"
    (pkg / "operators").mkdir(parents=True)
    (pkg / "__init__.py").write_text("from .operators import helper\n")
    (pkg / "operators" / "__init__.py").write_text(
        "from .ivm import thing\n"
    )
    (pkg / "operators" / "ivm.py").write_text("thing = 1\n")
    (pkg / "operators" / "helper.py").write_text(
        "from . import ivm\n"  # plain-module relative import, unchanged
    )
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(diag, "PKG", "pkg")
    graph = diag._package_import_graph()
    assert "pkg.operators.ivm" in graph["pkg.operators"]
    assert "pkg.operators.helper" in graph["pkg"]
    # plain modules still resolve against their parent package
    assert "pkg.operators.ivm" in graph["pkg.operators.helper"]
    # and nothing resolved to the bogus parent-level name
    assert "pkg.ivm" not in graph


# ---------------------------------------------------------------------
# round-10 fixes (ADVICE.md r9)
# ---------------------------------------------------------------------


def _mini_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_compact_minhash_index_blocks_on_appender_lock(spark, tmp_path):
    """ADVICE r9: compaction's destructive swap must serialize against
    in-flight appenders. Mechanism: appenders hold the SHARED
    maintenance lock, compaction the EXCLUSIVE one -- while a shared
    holder is live, compact_minhash_index cannot start its read."""
    import threading
    import time

    from etl_world_banks_with_python_and_postgresql_spark.committer import (
        maintenance_lock,
    )
    from etl_world_banks_with_python_and_postgresql_spark.operators.dedup import (
        compact_minhash_index,
        write_minhash_index,
    )

    path = str(tmp_path / "idx")
    write_minhash_index(
        _mini_docs(spark, ["alpha beta gamma delta"] * 3), path
    )
    done = threading.Event()
    result = {}

    def compact():
        result.update(compact_minhash_index(spark, path))
        done.set()

    # simulate an in-flight append: hold the shared lock from a second
    # file description (flock conflicts are per open-file-description,
    # so this blocks the exclusive acquire even in one process)
    with maintenance_lock(path, exclusive=False):
        t = threading.Thread(target=compact, daemon=True)
        t.start()
        assert not done.wait(1.5), (
            "compaction proceeded while an appender held the shared "
            "maintenance lock"
        )
    assert done.wait(120), "compaction never completed after lock release"
    t.join()
    assert result["n_docs"] == 3


def test_append_blocks_while_compaction_holds_exclusive(spark, tmp_path):
    """The reverse direction: an append arriving mid-compaction waits
    instead of landing part files into a directory about to be
    swapped away."""
    import threading

    from etl_world_banks_with_python_and_postgresql_spark.committer import (
        maintenance_lock,
    )
    from etl_world_banks_with_python_and_postgresql_spark.operators.dedup import (
        append_minhash_index,
        write_minhash_index,
    )

    path = str(tmp_path / "idx")
    write_minhash_index(_mini_docs(spark, ["one two three four"]), path)
    done = threading.Event()

    def append():
        append_minhash_index(
            _mini_docs(spark, ["five six seven eight"]), path
        )
        done.set()

    with maintenance_lock(path, exclusive=True):
        t = threading.Thread(target=append, daemon=True)
        t.start()
        assert not done.wait(1.5), (
            "append proceeded while compaction held the exclusive lock"
        )
    assert done.wait(120), "append never completed after lock release"
    t.join()


def _mini_vectors(spark, ids, dim=8):
    return spark.createDataFrame(
        [(i, [1.0 if j == i % dim else 0.1 for j in range(dim)]) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _blocked_on_flock(done, timeout=120):
    """Wait until a thread of this process queues on an flock (Linux
    /proc/locks marks a blocked waiter ``->``) or ``done`` is set;
    True means blocked. Deterministic where a fixed sleep races the
    operation's own run time."""
    import os
    import re
    import time

    waiter = re.compile(rf"->\s+FLOCK\s+\S+\s+\S+\s+{os.getpid()}\s")
    deadline = time.monotonic() + timeout
    while not done.is_set() and time.monotonic() < deadline:
        with open("/proc/locks") as f:
            if waiter.search(f.read()):
                return True
        time.sleep(0.05)
    return False


def test_rebuild_ivf_index_blocks_on_appender_lock(spark, tmp_path):
    """The IVF twin of the minhash compaction lock: a rebuild swaps the
    whole index root, so while an appender holds the SHARED maintenance
    lock rebuild_ivf_index must not start its read."""
    import threading

    from etl_world_banks_with_python_and_postgresql_spark.committer import (
        maintenance_lock,
    )
    from etl_world_banks_with_python_and_postgresql_spark.operators.similarity import (
        rebuild_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(_mini_vectors(spark, range(6)), path, n_centroids=2)
    done = threading.Event()
    result = {}

    def rebuild():
        result["cents"] = rebuild_ivf_index(spark, path, n_centroids=3)
        done.set()

    with maintenance_lock(path, exclusive=False):
        t = threading.Thread(target=rebuild, daemon=True)
        t.start()
        assert _blocked_on_flock(done), (
            "IVF rebuild proceeded while an appender held the shared "
            "maintenance lock"
        )
    assert done.wait(120), "rebuild never completed after lock release"
    t.join()
    assert len(result["cents"]) == 3
    assert spark.read.parquet(path).count() == 6


def test_ivf_append_blocks_while_rebuild_holds_exclusive(spark, tmp_path):
    """An IVF append arriving mid-rebuild waits instead of landing part
    files in the root the rebuild is about to swap away."""
    import threading

    from etl_world_banks_with_python_and_postgresql_spark.committer import (
        maintenance_lock,
    )
    from etl_world_banks_with_python_and_postgresql_spark.operators.similarity import (
        append_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(_mini_vectors(spark, range(4)), path, n_centroids=2)
    done = threading.Event()

    def append():
        append_ivf_index(_mini_vectors(spark, range(4, 6)), path)
        done.set()

    with maintenance_lock(path, exclusive=True):
        t = threading.Thread(target=append, daemon=True)
        t.start()
        assert _blocked_on_flock(done), (
            "IVF append proceeded while a rebuild held the exclusive lock"
        )
    assert done.wait(120), "append never completed after lock release"
    t.join()
    assert spark.read.parquet(path).count() == 6


def test_winnow_probe_releases_caches(spark, tmp_path):
    """winnow_novel_indexed leaves no persisted frame behind: a
    streaming sink probes once per epoch, so one cached block per call
    would grow without bound in a long-lived session."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.dedup import (
        winnow_novel_indexed,
        write_winnow_index,
    )

    path = str(tmp_path / "idx")
    write_winnow_index(
        _mini_docs(
            spark, [f"alpha beta gamma delta epsilon zeta eta theta {i}" for i in range(4)]
        ),
        path,
    )
    spark.catalog.clearCache()
    base = _persisted_rdd_count(spark)
    # doc 0 shares 8 tokens with the index (a winnowing guarantee at
    # k=3, window=4); doc 1 is too short to carry a fingerprint
    batches = [
        _mini_docs(spark, [
            f"alpha beta gamma delta epsilon zeta eta theta iota {i}",
            f"new {i} words",
        ])
        for i in range(3)
    ]
    results = [winnow_novel_indexed(spark, b, path, min_shared=1) for b in batches]
    assert _persisted_rdd_count(spark) == base
    assert [sorted(r["doc_id"] for r in df.collect()) for df in results] == [[1]] * 3


def test_compact_then_read_is_consistent(spark, tmp_path):
    """The example-crash shape (ADVICE r9 high): reads issued AFTER
    compaction must see the full deduped index; compaction refreshes
    the catalog path caches so no stale file listing survives."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.dedup import (
        append_minhash_index,
        compact_minhash_index,
        write_minhash_index,
    )

    path = str(tmp_path / "idx")
    docs = _mini_docs(
        spark, [f"text number {i} alpha beta gamma" for i in range(6)]
    )
    write_minhash_index(docs, path)
    # prime the catalog/file-listing caches with a pre-compaction read
    pre = spark.read.parquet(f"{path}/sets").count()
    assert pre == 6
    # double-append the same batch: duplicate rows + double-counted stats
    append_minhash_index(docs, path)
    append_minhash_index(docs, path)
    stats = compact_minhash_index(spark, path)
    assert stats["n_docs"] == 6
    assert stats["set_rows_removed"] == 12
    post = spark.read.parquet(f"{path}/sets")
    assert post.count() == 6
    assert post.select("doc_id").distinct().count() == 6


def test_profile_table_keeps_all_null_column(spark):
    """ADVICE r9: an all-NULL column must appear in the profile with
    n_distinct_est = 0, not vanish through an inner join."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.constraints import (
        profile_table,
    )

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, None, None)],
        "id long, s string, dead string",
    )
    out = {r["column"]: r for r in profile_table(df, k=16).collect()}
    assert set(out) == {"id", "s", "dead"}
    dead = out["dead"]
    assert dead["n_rows"] == 3
    assert dead["n_null"] == 3
    assert dead["n_distinct_est"] == 0
    assert dead["min_str"] is None and dead["max_str"] is None
    # partially-null column unaffected
    assert out["s"]["n_distinct_est"] == 2 and out["s"]["n_null"] == 1


def test_profile_table_grouped_all_null_within_group(spark):
    """Grouped variant: a column all-NULL within ONE group profiles as 0
    for that group while other groups keep their estimates."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.constraints import (
        profile_table,
    )

    df = spark.createDataFrame(
        [("g1", "x"), ("g1", "y"), ("g2", None), ("g2", None)],
        "g string, v string",
    )
    out = {
        (r["g"], r["column"]): r
        for r in profile_table(df, columns=["v"], k=16, group_by="g").collect()
    }
    assert out[("g1", "v")]["n_distinct_est"] == 2
    assert out[("g2", "v")]["n_distinct_est"] == 0
    assert out[("g2", "v")]["n_null"] == 2


def test_seasonal_decompose_even_period_double_ma(spark):
    """ADVICE r9: even periods must use the centered 2x(period) double
    moving average. On trend+mean-zero-cycle data the double MA
    recovers the linear trend EXACTLY at interior days (the old
    -half..half window could not: it spanned period+1 rows and its
    completeness test matched only truncated edge windows)."""
    from datetime import date, timedelta

    from etl_world_banks_with_python_and_postgresql_spark.operators.timeseries import (
        seasonal_decompose,
    )

    period, n_days = 4, 24
    cycle = [2.0, -1.0, 0.5, -1.5]  # mean-zero
    rows = [
        (date(2024, 1, 1) + timedelta(days=i), 10.0 + 0.5 * i + cycle[i % 4])
        for i in range(n_days)
    ]
    df = spark.createDataFrame(rows, "ts date, value double")
    out = {
        r["day"]: r
        for r in seasonal_decompose(df, period=period).collect()
    }
    assert len(out) == n_days
    half = period // 2
    for i, (day, v) in enumerate(rows):
        r = out[day]
        if i < half or i >= n_days - half:
            assert r["trend"] is None and r["residual"] is None
        else:
            # double-MA of a linear series = the series itself
            expected_trend = 10.0 + 0.5 * i
            assert abs(r["trend"] - expected_trend) < 1e-9, (i, r)
            # trend + seasonal + residual reconstructs the value
            assert abs(r["trend"] + r["seasonal"] + r["residual"] - v) < 1e-9


def test_seasonal_decompose_check_gaps(spark):
    """Gap guard: a missing calendar day raises under check_gaps=True
    (rows-based MA would silently span the gap); grouped variant names
    only the gappy series."""
    from datetime import date, timedelta

    import pytest as _pytest

    from etl_world_banks_with_python_and_postgresql_spark.operators.timeseries import (
        seasonal_decompose,
    )

    days = [date(2024, 1, 1) + timedelta(days=i) for i in range(10) if i != 4]
    df = spark.createDataFrame(
        [(d, 1.0) for d in days], "ts date, value double"
    )
    with _pytest.raises(ValueError, match="calendar gaps"):
        seasonal_decompose(df, period=3, check_gaps=True).collect()
    # gap-free series passes the guard
    full = spark.createDataFrame(
        [(date(2024, 1, 1) + timedelta(days=i), 1.0) for i in range(10)],
        "ts date, value double",
    )
    assert seasonal_decompose(full, period=3, check_gaps=True).count() == 10
    # grouped: only the gappy group trips
    g = spark.createDataFrame(
        [("ok", date(2024, 1, 1) + timedelta(days=i), 1.0) for i in range(6)]
        + [
            ("gappy", date(2024, 1, 1) + timedelta(days=i), 1.0)
            for i in (0, 1, 3, 5)
        ],
        "g string, ts date, value double",
    )
    with _pytest.raises(ValueError, match="gappy"):
        seasonal_decompose(g, period=3, group_by="g", check_gaps=True).collect()


def test_seasonal_decompose_rejects_nothing_but_stays_odd_exact(spark):
    """Odd path regression pin: period=3 trend is the plain 3-row MA."""
    from datetime import date, timedelta

    from etl_world_banks_with_python_and_postgresql_spark.operators.timeseries import (
        seasonal_decompose,
    )

    rows = [
        (date(2024, 2, 1) + timedelta(days=i), float(i * i)) for i in range(7)
    ]
    df = spark.createDataFrame(rows, "ts date, value double")
    out = {r["day"]: r for r in seasonal_decompose(df, period=3).collect()}
    d = date(2024, 2, 2)  # values 0,1,4 -> MA 5/3
    assert abs(out[d]["trend"] - 5.0 / 3.0) < 1e-9


def test_streaming_minhash_sink_uses_index_layout_params(spark, tmp_path):
    """ADVICE r9 (low): within-batch screening must run at the INDEX's
    (n, k, band_size), not minhash_lsh_pairs defaults, so both
    screening stages share one similarity definition."""
    from etl_world_banks_with_python_and_postgresql_spark.operators import dedup
    from etl_world_banks_with_python_and_postgresql_spark.streaming import (
        pipeline as spipe,
    )

    path = str(tmp_path / "idx")
    dedup.write_minhash_index(
        _mini_docs(spark, ["seed doc alpha beta gamma delta"]),
        path,
        n=4,
        k=12,
        band_size=3,
    )
    captured = {}
    real = dedup.minhash_lsh_pairs

    def spy(df, **kw):
        captured.update(kw)
        return real(df, **kw)

    import unittest.mock as mock

    with mock.patch.object(dedup, "minhash_lsh_pairs", side_effect=spy):
        sink = spipe.streaming_minhash_novelty_sink(path, threshold=0.5)
        sink(_mini_docs(spark, ["new doc epsilon zeta eta theta"]), 0)
    assert captured["n"] == 4
    assert captured["k"] == 12
    assert captured["band_size"] == 3


def test_minhash_params_extend_beyond_8_cross_engine(spark):
    """Found by the sink-params test: minhash_signature silently
    truncated at the 8 fixed permutation pairs, so an index built with
    k>8 produced 8-long signatures that the band slicer then indexed
    past. The family now extends deterministically to 64 (first 8
    frozen) and both engines read the same table -- pin k=16 parity."""
    import duckdb

    from etl_world_banks_with_python_and_postgresql_spark.functions.xhash import (
        MINHASH_PARAMS,
        minhash_signature,
        minhash_sql_exprs,
    )
    from etl_world_banks_with_python_and_postgresql_spark.operators.dedup import (
        shingle_sets,
    )

    assert MINHASH_PARAMS[:8] == [
        (7, 3), (13, 101), (31, 271), (61, 1009),
        (131, 8191), (251, 524287), (509, 131071), (1021, 2027),
    ]  # frozen prefix: every committed oracle depends on these
    assert len(MINHASH_PARAMS) == 64
    assert len({a for a, _ in MINHASH_PARAMS}) == 64  # distinct perms

    texts = ["alpha beta gamma delta epsilon", "one two three four five six"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: list(r["sig"])
        for r in shingle_sets(df, "text", "doc_id", 3)
        .select("doc_id", minhash_signature(F.col("sh"), k=16).alias("sig"))
        .collect()
    }
    assert all(len(s) == 16 for s in got.values())
    con = duckdb.connect()
    exprs = ", ".join(minhash_sql_exprs("sh", k=16))
    for i, t in enumerate(texts):
        toks = t.lower().split()
        sh = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        row = con.execute(
            f"SELECT {exprs} FROM (SELECT ? ::VARCHAR[] AS sh)", [sh]
        ).fetchone()
        assert list(row) == got[i], f"doc {i} k=16 signature mismatch"


def test_minhash_signature_rejects_oversized_k(spark):
    import pytest as _pytest

    from etl_world_banks_with_python_and_postgresql_spark.functions.xhash import (
        minhash_signature,
        minhash_sql_exprs,
    )

    with _pytest.raises(ValueError, match="exceeds"):
        minhash_signature(F.array(F.lit("x")), k=65)
    with _pytest.raises(ValueError, match="exceeds"):
        minhash_sql_exprs("sh", k=100)


def test_hash_sample_centroids_plan_is_take_ordered(spark):
    """VERDICT r9 #4: centroid init must not pay a full-corpus sort or a
    count() scan. The hash-pick compiles to TakeOrderedAndProject
    (per-partition top-n + driver merge); a global Sort+Exchange in the
    sampled plan is the regression this pins against."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.similarity import (
        _hash_sample_centroids,
    )
    from etl_world_banks_with_python_and_postgresql_spark.operators.sketch import (
        md5_hash48,
    )

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), (F.col("id") % 7).cast("double")).alias(
            "embedding"
        ),
    )
    plan = (
        df.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .orderBy(md5_hash48(F.col("_id").cast("string")), F.col("_id"))
        .limit(4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()  # no global sort shuffle
    # determinism: same pick regardless of partitioning layout
    a = _hash_sample_centroids(df, 4, "vec_id", "embedding")
    b = _hash_sample_centroids(df.repartition(13), 4, "vec_id", "embedding")
    assert a == b and len(a) == 4


# --- round-15 advisor findings (ADVICE.md r15), fixed in r16 ----------------


def test_cc_null_endpoint_edges_dropped(spark):
    """ADVICE r15 #1: an edge (NULL, x) must NOT leak x in as a
    singleton component via least/greatest NULL-skipping -- the pinned
    semantics is the pre-r15 one: NULL-endpoint edges are dropped."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (None, 99), (98, None), (None, None), (5, 5)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    # 99 / 98 never appear; the true self-loop 5 stays its own singleton
    assert got == {(1, 1), (2, 1), (5, 5)}


def test_power_iteration_null_moment_cells_yield_null_row(spark):
    """ADVICE r15 #2: a component that is NULL in every row (NULL
    vector elements) -> SUM over all-NULL is NULL with n > 0; the
    driver-side iterate must emit the all-NULL pc row (the old in-plan
    SQL NULL propagation), not raise TypeError on int(None)."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.similarity import (
        power_iteration_top_pc,
    )

    df = spark.createDataFrame(
        [([1.0, 2.0, None],), ([3.0, 4.0, None],)],
        "embedding array<double>",
    )
    out = power_iteration_top_pc(df, vec_col="embedding", dim=3, n_iter=2)
    rows = sorted(out.collect(), key=lambda r: r["dim_idx"])
    assert [r["pc_micros"] for r in rows] == [None, None, None]


def test_triangle_assume_canonical_debug_guard(spark, monkeypatch):
    """ADVICE r15 #4: with SPARK_GRAFT_DEBUG_ASSERTS=1 a non-canonical
    input to assume_canonical=True raises instead of silently
    double-counting wedges."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.graph import (
        triangle_counts,
    )

    monkeypatch.setenv("SPARK_GRAFT_DEBUG_ASSERTS", "1")
    bad = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (2, 3)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="not a distinct canonical"):
        triangle_counts(bad, assume_canonical=True).collect()
    good = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src long, dst long"
    )
    got = {
        (r["node"], r["n_triangles"])
        for r in triangle_counts(good, assume_canonical=True).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_release_staged_clears_blocks(spark):
    """ADVICE r15 #3: release_staged drops both persist-mode cache
    entries and localCheckpoint blocks (the session-level bound for
    persist-mode staging's lifetime)."""
    from etl_world_banks_with_python_and_postgresql_spark.functions.staging import (
        release_staged,
        staged,
    )

    a = staged(spark.range(100), mode="persist")
    a.count()
    b = staged(spark.range(50), mode="eager")
    b.count()
    jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    assert jsc.getPersistentRDDs().size() > 0
    release_staged(spark)
    assert jsc.getPersistentRDDs().size() == 0


def test_snapshot_footer_stats_match_spark(spark, tmp_path):
    """r16 pipeline fixed-cost cut: footer-derived row count and id
    high-water mark must equal the Spark aggregates they replace."""
    from etl_world_banks_with_python_and_postgresql_spark.sources import sinks

    df = spark.createDataFrame(
        [(i + 7, f"n{i}") for i in range(123)], "some_id long, name string"
    )
    path = str(tmp_path / "snap")
    sinks.write_snapshot(df, path, target_files=3)
    assert sinks.snapshot_row_count(path) == spark.read.parquet(path).count()
    assert (
        sinks.snapshot_column_max(path, "some_id")
        == spark.read.parquet(path).agg(F.max("some_id")).collect()[0][0]
    )
    # missing snapshot: the empty-target conventions (0 rows, max id 0)
    assert sinks.snapshot_row_count(str(tmp_path / "nope")) == 0
    assert sinks.snapshot_column_max(str(tmp_path / "nope"), "some_id") == 0
    # non-integer column: degrade to None (caller falls back to the scan)
    assert sinks.snapshot_column_max(path, "name") is None
    assert sinks.snapshot_column_max(path, "absent") is None
