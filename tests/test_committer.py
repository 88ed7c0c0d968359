"""The pluggable atomic-commit seam (VERDICT r7 task #1): one
``commit_json``/``load_json`` interface behind every ledger/manifest,
POSIX-rename default, CAS tokens turning read-modify-write into
compare-and-swap, and the loud batch-id-collision failure for streaming
view sinks (r7 task #6)."""

import json
import os
import threading

import pytest

from etl_world_banks_with_python_and_postgresql_spark.committer import (
    ABSENT,
    ConcurrentCommitError,
    JsonCommitter,
    Token,
    commit_json,
    get_default_committer,
    load_json,
    set_default_committer,
)


# ---------------------------------------------------------------- unit


def test_load_absent(tmp_path):
    obj, tok = load_json(str(tmp_path / "nope.json"))
    assert obj is None
    assert tok == ABSENT


def test_commit_load_roundtrip(tmp_path):
    p = str(tmp_path / "m.json")
    tok = commit_json(p, {"seq": 1, "deltas": ["a"]})
    obj, tok2 = load_json(p)
    assert obj == {"seq": 1, "deltas": ["a"]}
    assert tok2 == tok  # etag derives from content bytes


def test_commit_is_atomic_rename(tmp_path):
    # the temp file never survives a successful commit
    p = str(tmp_path / "m.json")
    commit_json(p, [1, 2, 3])
    assert not os.path.exists(p + ".tmp")
    assert json.load(open(p)) == [1, 2, 3]


def test_guarded_create_if_absent(tmp_path):
    p = str(tmp_path / "m.json")
    commit_json(p, {"v": 0}, expect=ABSENT)
    # second create-if-absent must fail: the file now exists
    with pytest.raises(ConcurrentCommitError):
        commit_json(p, {"v": 1}, expect=ABSENT)


def test_guarded_commit_stale_token_raises(tmp_path):
    """THE concurrent-commit scenario: writer A loads, writer B commits,
    writer A's commit with the stale token raises instead of silently
    erasing B's entry."""
    p = str(tmp_path / "ledger.json")
    commit_json(p, {"applied": []})
    _, tok_a = load_json(p)  # writer A snapshots
    commit_json(p, {"applied": [["left", "0"]]})  # writer B wins the race
    with pytest.raises(ConcurrentCommitError, match="changed since load"):
        commit_json(p, {"applied": [["right", "0"]]}, expect=tok_a)
    # B's commit is intact
    assert load_json(p)[0] == {"applied": [["left", "0"]]}


def test_guarded_commit_fresh_token_succeeds(tmp_path):
    p = str(tmp_path / "ledger.json")
    t0 = commit_json(p, {"n": 0})
    t1 = commit_json(p, {"n": 1}, expect=t0)
    t2 = commit_json(p, {"n": 2}, expect=t1)
    assert load_json(p) == ({"n": 2}, t2)


def test_guarded_commits_race_exactly_one_winner(tmp_path):
    """N threads all load the same version and try to CAS-commit:
    exactly one wins, the rest raise -- no lost update, ever."""
    p = str(tmp_path / "hot.json")
    base = commit_json(p, {"owner": None})
    results = []

    def contender(i):
        try:
            commit_json(p, {"owner": i}, expect=base)
            results.append(("win", i))
        except ConcurrentCommitError:
            results.append(("lose", i))

    threads = [threading.Thread(target=contender, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [i for s, i in results if s == "win"]
    assert len(wins) == 1
    assert load_json(p)[0] == {"owner": wins[0]}


def test_pluggable_default_committer(tmp_path):
    """set_default_committer installs an alternative engine-wide -- the
    object-store seam: all call sites resolve it at call time."""

    class Recording(JsonCommitter):
        commits: list = []

        def commit(self, path, obj, *, expect=None):
            Recording.commits.append(path)
            return super().commit(path, obj, expect=expect)

    original = get_default_committer()
    try:
        set_default_committer(Recording())
        p = str(tmp_path / "x.json")
        commit_json(p, {"a": 1})
        assert Recording.commits == [p]
    finally:
        set_default_committer(original)


def test_token_is_content_etag(tmp_path):
    # same bytes -> same token, regardless of when/where written
    p1, p2 = str(tmp_path / "a.json"), str(tmp_path / "b.json")
    assert commit_json(p1, {"x": 1}) == commit_json(p2, {"x": 1})
    assert commit_json(p1, {"x": 2}) != commit_json(p2, {"x": 1})


# ------------------------------------------- integration: IVM ledgers


def test_ivm_ingest_guarded_against_concurrent_ledger_write(spark, tmp_path):
    """Two writers interleaving a ledger read-modify-write: the second
    commit (stale token) raises instead of silently dropping the first
    writer's entry -- the single-writer contract is now ENFORCED, not
    documented (VERDICT r7 task #1)."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import CdcAggView, signed

    v = CdcAggView(
        path=str(tmp_path / "agg"),
        keys=["k"],
        measures={"s": "cast(x as decimal(18,2))"},
    )
    delta = signed(spark.createDataFrame([(1, 10.0)], "k int, x double"), +1)
    v.ingest(delta, batch_id="b0")

    # writer A snapshots the ledger state mid-ingest...
    full_a, tok_a = v._load_ledger_state()
    # ...writer B lands a full ingest in between...
    v.ingest(delta, batch_id="b1")
    # ...A's commit must now fail loudly, not erase b1
    with pytest.raises(ConcurrentCommitError):
        v._commit_ledger(
            full_a["applied"] + [["agg", "bX"]],
            seen=full_a["seen"],
            expect=tok_a,
        )
    assert ["agg", "b1"] in v._load_ledger()


def test_incremental_table_guarded_manifest(spark, tmp_path):
    """Same contract for IncrementalTable: a stale manifest token cannot
    clobber a committed version."""
    from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import IncrementalTable

    t = IncrementalTable(path=str(tmp_path / "t"), id_col="id")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    t.write_delta(df)
    m_a, tok_a = t._load_manifest_state()
    t.write_delta(spark.createDataFrame([(2, "b")], "id int, v string"))
    with pytest.raises(ConcurrentCommitError):
        t._commit_manifest(dict(m_a, seq=m_a["seq"] + 1), expect=tok_a)
    assert len(t._load_manifest()["deltas"]) == 2


# --------------------------- integration: streaming collision is loud


def test_two_streams_same_view_without_names_fail_loudly(spark, tmp_path):
    """r7 task #6: two sinks feeding one CdcAggView without distinct
    names collide on epoch ids. Previously only a docstring warning;
    now the colliding epoch (same id, DIFFERENT content) raises."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import CdcAggView, signed
    from etl_world_banks_with_python_and_postgresql_spark.streaming.pipeline import streaming_agg_view_sink

    view = CdcAggView(
        path=str(tmp_path / "v"),
        keys=["k"],
        measures={"s": "cast(x as decimal(18,2))"},
    )
    sink = streaming_agg_view_sink(view)  # no name: stream 1
    sink2 = streaming_agg_view_sink(view)  # no name: stream 2 -- collides

    b1 = signed(spark.createDataFrame([(1, 1.0)], "k int, x double"), +1)
    b2 = signed(spark.createDataFrame([(2, 99.0)], "k int, x double"), +1)
    sink(b1, 0)  # stream 1, epoch 0: applied
    with pytest.raises(RuntimeError, match="batch id collision"):
        sink2(b2, 0)  # stream 2, epoch 0: SAME id, different rows

    # with distinct names both apply cleanly
    named1 = streaming_agg_view_sink(view, name="s1")
    named2 = streaming_agg_view_sink(view, name="s2")
    named1(b1, 1)
    named2(b2, 1)
    got = {
        r["k"]: r["n_rows"]
        for r in view.read(spark).collect()
    }
    assert got == {1: 2, 2: 1}


def test_genuine_replay_same_content_stays_noop(spark, tmp_path):
    """A driver-restart replay re-delivers the SAME epoch content: must
    stay a silent no-op (not a false collision)."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import CdcAggView, signed
    from etl_world_banks_with_python_and_postgresql_spark.streaming.pipeline import streaming_agg_view_sink

    view = CdcAggView(
        path=str(tmp_path / "v"),
        keys=["k"],
        measures={"s": "cast(x as decimal(18,2))"},
    )
    sink = streaming_agg_view_sink(view)
    batch = signed(spark.createDataFrame([(1, 1.0)], "k int, x double"), +1)
    sink(batch, 0)
    sink(batch, 0)  # replay: no raise, no double-apply
    [row] = view.read(spark).collect()
    assert row["n_rows"] == 1


def test_join_view_collision_fails_loudly(spark, tmp_path):
    """Same loud failure for the join-view sink (store-batch content
    comparison instead of partial recompute)."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import IncrementalJoinView
    from etl_world_banks_with_python_and_postgresql_spark.streaming.pipeline import streaming_join_view_sink

    view = IncrementalJoinView(path=str(tmp_path / "jv"), key="k")
    s1 = streaming_join_view_sink(view, side="left")
    s2 = streaming_join_view_sink(view, side="left")  # same side, no name

    a = spark.createDataFrame([(1, "a")], "k int, l string")
    b = spark.createDataFrame([(1, "DIFFERENT")], "k int, l string")
    s1(a, 0)
    with pytest.raises(RuntimeError, match="batch id collision"):
        s2(b, 0)
    s1(a, 0)  # genuine replay: no-op, no raise


def test_posting_sink_ledger_cas_guarded(spark, tmp_path):
    """The posting-index epoch ledger commits are CAS-guarded: an
    out-of-band ledger write between load and commit raises instead of
    being clobbered."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.text import write_posting_index
    from etl_world_banks_with_python_and_postgresql_spark.streaming.pipeline import streaming_posting_index_sink

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id int, text string"
    )
    write_posting_index(docs, idx)
    sink = streaming_posting_index_sink(idx)
    more = spark.createDataFrame([(3, "alpha gamma")], "doc_id int, text string")
    sink(more, 0)
    obj, _ = load_json(os.path.join(idx, "_indexed_epochs.json"))
    assert obj == {"committed": [0], "in_flight": None}
    sink(more, 0)  # committed replay: absorbed
    assert load_json(os.path.join(idx, "_indexed_epochs.json"))[0] == obj


def test_crash_between_store_write_and_ledger_commit_still_safe(
    spark, tmp_path
):
    """The seam preserves the crash contract the old os.replace code
    pinned: a failure before the ledger commit leaves state unchanged
    and the retry applies cleanly."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import CdcAggView, signed

    v = CdcAggView(
        path=str(tmp_path / "agg"),
        keys=["k"],
        measures={"s": "cast(x as decimal(18,2))"},
    )
    delta = signed(spark.createDataFrame([(1, 5.0)], "k int, x double"), +1)
    v.ingest(delta, batch_id="b0")

    real = v._commit_ledger

    def boom(*a, **k):
        raise RuntimeError("crash before ledger commit")

    v._commit_ledger = boom
    with pytest.raises(RuntimeError, match="crash"):
        v.ingest(delta, batch_id="b1")
    v._commit_ledger = real
    assert v._load_ledger() == [["agg", "b0"]]  # unchanged
    assert v.ingest(delta, batch_id="b1") == "applied"  # clean retry
    [row] = v.read(spark).collect()
    assert row["n_rows"] == 2


# ------------------- integration: object-store committer swap-in


def test_object_store_style_committer_end_to_end(spark, tmp_path):
    """Swap the engine-wide committer for a conditional-PUT emulator
    (GET returns an etag; PUT takes If-Match / If-None-Match; NO rename
    anywhere) and run a full CdcAggView ingest/replay/compact cycle:
    proves every ledger call site goes through the seam and none
    depends on POSIX rename atomicity -- the 100 TB object-store
    deployment path (committer module docstring)."""
    import hashlib
    import json as _json

    from etl_world_banks_with_python_and_postgresql_spark import committer as cm
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import CdcAggView, signed

    class CondPutStore(cm.JsonCommitter):
        """In-memory object store: path -> (bytes, etag)."""

        def __init__(self):
            self.objects: dict = {}
            self.puts = 0

        def load(self, path):
            if path not in self.objects:
                return None, cm.ABSENT
            data, etag = self.objects[path]
            return _json.loads(data), cm.Token(etag)

        def commit(self, path, obj, *, expect=None):
            data = _json.dumps(obj).encode()
            etag = hashlib.sha256(data).hexdigest()
            if expect is not None:  # conditional PUT
                current = (
                    self.objects[path][1] if path in self.objects else None
                )
                if current != expect.etag:
                    raise cm.ConcurrentCommitError(
                        f"precondition failed for {path}"
                    )
            self.objects[path] = (data, etag)
            self.puts += 1
            return cm.Token(etag)

    store = CondPutStore()
    original = cm.get_default_committer()
    cm.set_default_committer(store)
    try:
        v = CdcAggView(
            path=str(tmp_path / "agg"),
            keys=["k"],
            measures={"s": "cast(x as decimal(18,2))"},
        )
        d = lambda k, x, m: signed(  # noqa: E731
            spark.createDataFrame([(k, x)], "k int, x double"), m
        )
        assert v.ingest(d(1, 10.0, +1), batch_id="b0") == "applied"
        assert v.ingest(d(1, 10.0, -1), batch_id="b1") == "applied"
        assert v.ingest(d(2, 7.0, +1), batch_id="b2") == "applied"
        assert v.ingest(d(2, 7.0, +1), batch_id="b1") == "replayed"
        got = {r["k"]: r["n_rows"] for r in v.read(spark).collect()}
        assert got == {2: 1}  # k=1 fully retracted
        assert v.compact(spark) is True
        got = {r["k"]: r["n_rows"] for r in v.read(spark).collect()}
        assert got == {2: 1}
        # the ledger lives ONLY in the emulated store: nothing on disk
        assert not os.path.exists(str(tmp_path / "agg" / "_ledger.json"))
        assert store.puts >= 4

        # join view too: bucket manifests are committed AND read through
        # the seam, so pruning still works with no JSON on the local fs
        from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import IncrementalJoinView

        jv = IncrementalJoinView(path=str(tmp_path / "jv"), key="k", n_buckets=4)
        left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, l string")
        right = spark.createDataFrame([(1, "x"), (3, "y")], "k int, r string")
        jv.ingest_left(left, batch_id="0")
        jv.ingest_right(right, batch_id="0")
        rows = {(r["k"], r["l"], r["r"]) for r in jv.read(spark).collect()}
        assert rows == {(1, "a", "x")}
        assert not os.path.exists(
            str(tmp_path / "jv" / "_ledger.json")
        )
        assert any(p.endswith("_buckets.json") for p in store.objects)
    finally:
        cm.set_default_committer(original)


# ----------------------- CdcAggView explicit-id CAS retry (linearity)


def _agg_view(tmp_path, sub="agg-retry"):
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import CdcAggView

    return CdcAggView(
        path=str(tmp_path / sub),
        keys=["k"],
        measures={"s": "cast(x as decimal(18,2))"},
    )


def _race_first_commit(view, rival_fn):
    """Patch ``view`` so a rival commit lands between its ledger load
    and its FIRST commit attempt (the classic lost-update interleave)."""
    orig = view._commit_ledger
    state = {"raced": False}

    def racing(applied, seen=None, expect=None):
        if not state["raced"]:
            state["raced"] = True
            rival_fn()
        return orig(applied, seen=seen, expect=expect)

    view._commit_ledger = racing
    return state


def test_cdc_agg_explicit_id_commit_retries_after_lost_race(spark, tmp_path):
    """Fan-in writers with DISTINCT explicit ids: aggregation partials
    are linear (zero reads of prior state), so a lost CAS race is
    recoverable by reload-and-re-append -- BOTH entries must survive
    and the merged read must include both deltas."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import signed

    v = _agg_view(tmp_path)
    d1 = signed(spark.createDataFrame([(1, 10.0)], "k int, x double"), +1)
    d2 = signed(spark.createDataFrame([(2, 20.0)], "k int, x double"), +1)
    rival = _agg_view(tmp_path)

    state = _race_first_commit(v, lambda: rival.ingest(d2, batch_id="B"))
    assert v.ingest(d1, batch_id="A") == "applied"
    assert state["raced"]

    ledger = v._load_ledger()
    assert ["agg", "A"] in ledger and ["agg", "B"] in ledger
    got = {r["k"]: str(r["s"]) for r in v.read(spark).collect()}
    assert got == {1: "10.00", 2: "20.00"}


def test_cdc_agg_lost_race_to_same_explicit_id_is_replayed(spark, tmp_path):
    """Crash-retry twin: the rival committed OUR id while we raced.
    The retry reload sees it ledgered and reports a replay instead of
    double-appending."""
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import signed

    v = _agg_view(tmp_path)
    d = signed(spark.createDataFrame([(1, 10.0)], "k int, x double"), +1)
    rival = _agg_view(tmp_path)

    _race_first_commit(v, lambda: rival.ingest(d, batch_id="A"))
    assert v.ingest(d, batch_id="A") == "replayed"
    assert v._load_ledger().count(["agg", "A"]) == 1
    [row] = v.read(spark).collect()
    assert (row["k"], row["n_rows"]) == (1, 1)


def test_cdc_agg_auto_id_contention_raises(spark, tmp_path):
    """Auto-derived ids must NOT retry: two auto-id writers can derive
    the same id and overwrite each other's partial dir before any
    ledger activity -- unrecoverable by any commit protocol."""
    import pytest

    from etl_world_banks_with_python_and_postgresql_spark.committer import ConcurrentCommitError
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import signed

    v = _agg_view(tmp_path)
    d1 = signed(spark.createDataFrame([(1, 10.0)], "k int, x double"), +1)
    d2 = signed(spark.createDataFrame([(2, 20.0)], "k int, x double"), +1)
    rival = _agg_view(tmp_path)

    _race_first_commit(v, lambda: rival.ingest(d2, batch_id="X"))
    with pytest.raises(ConcurrentCommitError):
        v.ingest(d1)  # auto id: fail loud, never re-append


def test_cdc_agg_pathological_contention_exhausts_retries(spark, tmp_path):
    """A rival landing a fresh commit before EVERY attempt exhausts
    cas_retries and surfaces a named error."""
    import itertools

    import pytest

    from etl_world_banks_with_python_and_postgresql_spark.committer import ConcurrentCommitError
    from etl_world_banks_with_python_and_postgresql_spark.operators.ivm import signed

    v = _agg_view(tmp_path)
    d = signed(spark.createDataFrame([(1, 10.0)], "k int, x double"), +1)
    rival = _agg_view(tmp_path)
    counter = itertools.count()

    orig = v._commit_ledger

    def always_raced(applied, seen=None, expect=None):
        rival.ingest(d, batch_id=f"r{next(counter)}")
        return orig(applied, seen=seen, expect=expect)

    v._commit_ledger = always_raced
    with pytest.raises(ConcurrentCommitError, match="CAS race"):
        v.ingest(d, batch_id="A", cas_retries=3)


def test_replace_fsyncs_file_then_directory(tmp_path, monkeypatch):
    """Durability (ADVICE r8): the temp file's data blocks are fsynced
    BEFORE os.replace and the directory entry after -- otherwise a
    power loss can persist the rename without the data, publishing an
    empty/partial ledger."""
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def spy_fsync(fd):
        events.append(("fsync", os.fstat(fd).st_mode & 0o170000))
        return real_fsync(fd)

    def spy_replace(src, dst):
        events.append(("replace",))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)
    p = str(tmp_path / "led.json")
    commit_json(p, {"v": 1})
    kinds = [e[0] for e in events]
    assert kinds == ["fsync", "replace", "fsync"]
    assert events[0][1] == 0o100000  # regular file first
    assert events[2][1] == 0o040000  # then the directory entry


def test_replace_temp_names_are_unique_and_cleaned(tmp_path, monkeypatch):
    """A fixed '<path>.tmp' staging name would let an unguarded writer
    racing a guarded one interleave writes into the SAME temp file;
    names must be unique per commit, and a failed commit must not leak
    its temp file."""
    p = str(tmp_path / "m.json")
    staged = []
    real_replace = os.replace

    def spy_replace(src, dst):
        staged.append(src)
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", spy_replace)
    commit_json(p, {"v": 1})
    commit_json(p, {"v": 2})
    assert len(set(staged)) == 2  # distinct staging names per commit
    assert all(s != p + ".tmp" for s in staged)

    def boom(src, dst):
        raise OSError("simulated crash at rename")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="simulated"):
        commit_json(p, {"v": 3})
    leftovers = [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]
    assert leftovers == []
    assert json.load(open(p)) == {"v": 2}  # prior commit intact


def test_unguarded_and_guarded_writers_never_share_staging(tmp_path):
    """Hammer one path from an unguarded and a guarded writer on
    threads; every observed file state must be one writer's complete
    payload (no interleaved staging, no torn JSON)."""
    p = str(tmp_path / "hot.json")
    commit_json(p, {"who": "init", "pad": "x" * 4096})
    stop = threading.Event()
    errors = []

    def unguarded():
        i = 0
        while not stop.is_set():
            commit_json(p, {"who": "unguarded", "i": i, "pad": "x" * 4096})
            i += 1

    def reader():
        while not stop.is_set():
            try:
                obj = json.load(open(p))
                assert obj["who"] in ("init", "unguarded", "guarded")
                assert len(obj["pad"]) == 4096
            except AssertionError as e:  # torn read
                errors.append(e)
            except (json.JSONDecodeError, FileNotFoundError) as e:
                errors.append(e)

    threads = [threading.Thread(target=unguarded), threading.Thread(target=reader)]
    for t in threads:
        t.start()
    for i in range(25):
        obj, tok = load_json(p)
        try:
            commit_json(
                p, {"who": "guarded", "i": i, "pad": "x" * 4096}, expect=tok
            )
        except ConcurrentCommitError:
            pass  # expected under contention; must stay loud, not torn
    stop.set()
    for t in threads:
        t.join()
    assert errors == []


def test_posting_append_stats_cas_retries_after_lost_race(spark, tmp_path):
    """ADVICE r8: append_posting_index's postings land before the stats
    CAS; a lost race must NOT orphan them. The (n_docs, sum_dl) delta
    commutes, so the loser reloads the rival's committed stats, re-adds
    its own delta, and retries -- final stats and retrieval equal a
    full rebuild over base + both batches."""
    from etl_world_banks_with_python_and_postgresql_spark import committer as C
    from etl_world_banks_with_python_and_postgresql_spark.operators import text as T

    idx = str(tmp_path / "idx")
    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma delta")], "doc_id int, text string"
    )
    ours = spark.createDataFrame([(3, "alpha gamma")], "doc_id int, text string")
    rival = spark.createDataFrame(
        [(4, "delta alpha epsilon")], "doc_id int, text string"
    )
    T.write_posting_index(base, idx, n_buckets=4)

    real_commit = C.commit_json
    state = {"raced": False}

    def racing_commit(path, obj, *, expect=None, committer=None):
        if not state["raced"] and path.endswith("_postings_stats.json"):
            state["raced"] = True
            T.append_posting_index(rival, idx)  # rival wins the window
        return real_commit(path, obj, expect=expect, committer=committer)

    C.commit_json = racing_commit
    try:
        T.append_posting_index(ours, idx)  # loses the CAS once, recovers
    finally:
        C.commit_json = real_commit

    stats, _ = load_json(os.path.join(idx, "_postings_stats.json"))
    assert stats["n_docs"] == 4
    rebuilt = str(tmp_path / "rebuilt")
    T.write_posting_index(
        base.unionByName(ours).unionByName(rival), rebuilt, n_buckets=4
    )
    got = [tuple(r) for r in T.bm25_indexed(spark, idx, terms=["alpha"]).collect()]
    want = [tuple(r) for r in T.bm25_indexed(spark, rebuilt, terms=["alpha"]).collect()]
    assert got == want and len(got) == 3


def test_posting_append_stats_cas_exhaustion_is_loud_and_named(
    spark, tmp_path
):
    from etl_world_banks_with_python_and_postgresql_spark import committer as C
    from etl_world_banks_with_python_and_postgresql_spark.operators import text as T

    idx = str(tmp_path / "idx")
    base = spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string")
    ours = spark.createDataFrame([(2, "beta gamma")], "doc_id int, text string")
    T.write_posting_index(base, idx, n_buckets=4)

    real_commit = C.commit_json

    def always_raced(path, obj, *, expect=None, committer=None):
        if path.endswith("_postings_stats.json") and expect is not None:
            # an invisible rival advances the stats every single time
            cur, tok = C.load_json(path)
            cur["n_docs"] += 1
            real_commit(path, cur, expect=tok)
        return real_commit(path, obj, expect=expect, committer=committer)

    C.commit_json = always_raced
    try:
        with pytest.raises(ConcurrentCommitError, match="double-append"):
            T.append_posting_index(ours, idx, cas_retries=2)
    finally:
        C.commit_json = real_commit


def test_posting_append_concurrent_rebuild_raises_without_retry(
    spark, tmp_path
):
    from etl_world_banks_with_python_and_postgresql_spark import committer as C
    from etl_world_banks_with_python_and_postgresql_spark.operators import text as T

    idx = str(tmp_path / "idx")
    base = spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string")
    ours = spark.createDataFrame([(2, "beta gamma")], "doc_id int, text string")
    T.write_posting_index(base, idx, n_buckets=4)

    real_commit = C.commit_json
    state = {"raced": False}

    def rebuild_race(path, obj, *, expect=None, committer=None):
        if not state["raced"] and path.endswith("_postings_stats.json"):
            state["raced"] = True
            # rival REBUILDS with a different bucket layout mid-append
            import shutil

            shutil.rmtree(idx)
            T.write_posting_index(base, idx, n_buckets=8)
        return real_commit(path, obj, expect=expect, committer=committer)

    C.commit_json = rebuild_race
    try:
        with pytest.raises(RuntimeError, match="rebuilt concurrently"):
            T.append_posting_index(ours, idx)
    finally:
        C.commit_json = real_commit


# ------------------------------------------- directory swap: fault injection
#
# committer.replace_dir swaps a directory in three steps: rename ``path`` to
# ``.old``, rename ``.staging`` to ``path`` (the commit point), remove
# ``.old``. Each test below fails one step and checks that no committed
# row is lost and that the next write/append/compaction carries on.

SWAP_STEPS = ("rename_out", "rename_in", "drop_old")


def _crash_swap_at(monkeypatch, path, step):
    """Fail the swap of ``path`` once, at ``step``, by patching the
    ``os.rename`` / ``shutil.rmtree`` the committer calls. Returns a
    list that holds the step once the fault has fired."""
    import shutil

    real_rename, real_rmtree = os.rename, shutil.rmtree
    fired = []

    def crash_if(hit):
        if hit and not fired:
            fired.append(step)
            raise OSError(f"injected crash at {step}")

    def rename(src, dst, *args, **kwargs):
        crash_if(
            (step == "rename_out" and (src, dst) == (path, path + ".old"))
            or (step == "rename_in" and (src, dst) == (path + ".staging", path))
        )
        return real_rename(src, dst, *args, **kwargs)

    def rmtree(p, *args, **kwargs):
        crash_if(step == "drop_old" and p == path + ".old")
        return real_rmtree(p, *args, **kwargs)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)
    return fired


def _snapshot_state(spark, path, schema, id_col):
    from etl_world_banks_with_python_and_postgresql_spark.sources import sinks

    rows = sorted(map(tuple, sinks.read_snapshot(spark, path, schema).collect()))
    return (
        rows,
        sinks.snapshot_row_count(path),
        sinks.snapshot_column_max(path, id_col),
    )


@pytest.mark.parametrize("step", SWAP_STEPS)
def test_write_snapshot_crash_keeps_committed_snapshot(
    spark, tmp_path, monkeypatch, step
):
    """Before the rename into place the old snapshot is the committed
    one, after it the new one; every reader agrees at every step, and
    the next write leaves no ``.old`` / ``.staging`` behind."""
    from etl_world_banks_with_python_and_postgresql_spark.sources import sinks

    path = str(tmp_path / "snap")
    schema = "id long, v string"

    def frame(n, tag):
        return spark.createDataFrame([(i, tag) for i in range(1, n + 1)], schema)

    sinks.write_snapshot(frame(10, "a"), path)
    old = _snapshot_state(spark, path, schema, "id")
    assert old[1:] == (10, 10)
    fired = _crash_swap_at(monkeypatch, path, step)
    with pytest.raises(OSError, match="injected"):
        sinks.write_snapshot(frame(15, "b"), path)
    assert fired == [step]
    got = _snapshot_state(spark, path, schema, "id")
    if step == "drop_old":
        assert got[1:] == (15, 15) and {r[1] for r in got[0]} == {"b"}
    else:
        assert got == old

    sinks.write_snapshot(frame(12, "c"), path)
    assert _snapshot_state(spark, path, schema, "id")[1:] == (12, 12)
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".staging")


@pytest.fixture(scope="module")
def pipeline_pages(tmp_path_factory):
    from etl_world_banks_with_python_and_postgresql_spark.sources.fixtures import (
        BANKS,
        RATES,
        banks_html,
        rates_html,
    )

    d = tmp_path_factory.mktemp("pages")
    pages = {
        "banks": banks_html(BANKS),
        # day two: Bank A changes value, Bank B vanishes, Bank K appears
        "banks2": banks_html(
            [("Bank A", 500.0), ("Bank K", 42.0)]
            + [(n, v) for n, v in BANKS if n not in ("Bank A", "Bank B")],
            lastmod="2 August 2024",
        ),
        "rates": rates_html(RATES),
    }
    for name, html in pages.items():
        (d / f"{name}.html").write_text(html)
    return {name: str(d / f"{name}.html") for name in pages}


def _run_day(spark, pages, warehouse, banks, day):
    from datetime import datetime

    from etl_world_banks_with_python_and_postgresql_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    return run_pipeline(spark, PipelineConfig(
        banks_source=pages[banks],
        rates_source=pages["rates"],
        target_dir=warehouse,
        batch_id=f"run-{day}",
        now=datetime(2024, 8, day, 6, 0, 0),
    ))


def _day_outputs(spark, res, warehouse, day):
    banks = spark.read.parquet(f"{warehouse}/world_bank_data")
    counts = spark.read.parquet(f"{warehouse}/log_counts").filter(
        f"batch_id = 'run-{day}'"
    )
    return (
        res.summary_lines,
        sorted(map(tuple, counts.collect())),
        sorted(map(tuple, banks.collect())),
    )


@pytest.fixture(scope="module")
def day1_warehouse(spark, pipeline_pages, tmp_path_factory):
    """A warehouse after the day-1 run; tests work on copies of it."""
    wh = str(tmp_path_factory.mktemp("day1") / "warehouse")
    _run_day(spark, pipeline_pages, wh, "banks", 1)
    return wh


@pytest.fixture(scope="module")
def uncrashed_day3(spark, pipeline_pages, day1_warehouse, tmp_path_factory):
    """Day 1 then day 3 with no crash in between: what the run after a
    crashed day-2 re-run must reproduce."""
    import shutil

    wh = str(tmp_path_factory.mktemp("uncrashed") / "warehouse")
    shutil.copytree(day1_warehouse, wh)
    res = _run_day(spark, pipeline_pages, wh, "banks2", 3)
    return _day_outputs(spark, res, wh, 3)


@pytest.mark.parametrize("step", SWAP_STEPS)
def test_pipeline_run_after_snapshot_swap_crash(
    spark, pipeline_pages, day1_warehouse, uncrashed_day3, tmp_path,
    monkeypatch, step
):
    """A snapshot-mode run that crashes inside the world_bank_data swap
    loses nothing: the committed snapshot reads back whole through every
    reader, and the next run gives the summary, log_counts row and
    table of a history without the crash. The crashed run re-reads the
    day-1 pages, so the snapshot it was publishing equals the committed
    one and every step has the same pre-crash values."""
    import shutil

    from etl_world_banks_with_python_and_postgresql_spark import schemas

    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_SERIAL", "1")
    wh = str(tmp_path / "warehouse")
    shutil.copytree(day1_warehouse, wh)
    banks = f"{wh}/world_bank_data"
    committed = _snapshot_state(spark, banks, schemas.WORLD_BANK_DATA, "world_bank_id")
    assert committed[1:] == (10, 10)
    fired = _crash_swap_at(monkeypatch, banks, step)
    with pytest.raises(OSError, match="injected"):
        _run_day(spark, pipeline_pages, wh, "banks", 2)
    assert fired == [step]
    assert _snapshot_state(
        spark, banks, schemas.WORLD_BANK_DATA, "world_bank_id"
    ) == committed

    res = _run_day(spark, pipeline_pages, wh, "banks2", 3)
    assert _day_outputs(spark, res, wh, 3) == uncrashed_day3


def test_rollup_compact_crash_keeps_every_partial(spark, tmp_path, monkeypatch):
    """A crash between compaction's two renames, then an ingest and a
    compaction: the rollup still holds every ingested event."""
    from datetime import datetime

    from etl_world_banks_with_python_and_postgresql_spark.operators.rollup import (
        RollupTable,
    )

    schema = "ts timestamp, k string, value double"
    first = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, i), "ab"[i % 2], float(i)) for i in range(10)],
        schema,
    )
    second = spark.createDataFrame([(datetime(2024, 1, 1, 0, 1), "b", 7.0)], schema)

    def merged(rt):
        return sorted(map(tuple, rt.read(spark).collect()))

    clean = RollupTable(str(tmp_path / "clean"), keys=["k"])
    clean.ingest(first)
    clean.ingest(second)

    rt = RollupTable(str(tmp_path / "rollup"), keys=["k"])
    rt.ingest(first)
    fired = _crash_swap_at(monkeypatch, rt.path, "rename_in")
    with pytest.raises(OSError, match="injected"):
        rt.compact(spark)
    assert fired
    assert sum(r["n"] for r in rt.read(spark).collect()) == 10
    rt.ingest(second)
    rt.compact(spark)
    assert merged(rt) == merged(clean)
    assert sum(r["n"] for r in rt.read(spark).collect()) == 11


def test_minhash_compact_crash_keeps_every_doc_and_probe(
    spark, tmp_path, monkeypatch
):
    """A crash between the ``sets`` renames of a minhash compaction,
    then an append and a compaction: every doc is still indexed, and
    the probe still finds the near-copies of both seed and appended
    docs."""
    import random

    from etl_world_banks_with_python_and_postgresql_spark.committer import load_json
    from etl_world_banks_with_python_and_postgresql_spark.operators import dedup

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    texts = [" ".join(rng.choice(vocab) for _ in range(12)) for _ in range(24)]

    def docs(pairs):
        return spark.createDataFrame(list(pairs), "doc_id int, text string")

    seed = docs((i, texts[i]) for i in range(12))
    batch = docs((i, texts[i]) for i in range(12, 24))
    # probes: near-copies of seed and batch docs, plus unrelated text
    probe = docs(
        [(100 + i, texts[i] + " tail") for i in (1, 5, 14, 20)]
        + [(200, " ".join(vocab[:12])), (201, " ".join(vocab[-12:]))]
    )

    path = str(tmp_path / "idx")
    dedup.write_minhash_index(seed, path, n_buckets=4)
    fired = _crash_swap_at(monkeypatch, os.path.join(path, "sets"), "rename_in")
    with pytest.raises(OSError, match="injected"):
        dedup.compact_minhash_index(spark, path)
    assert fired
    dedup.append_minhash_index(batch, path)
    out = dedup.compact_minhash_index(spark, path)
    assert out["n_docs"] == 24
    assert load_json(os.path.join(path, "_minhash_stats.json"))[0]["n_docs"] == 24
    novel = dedup.minhash_novel_indexed(spark, probe, path)
    assert sorted(r["doc_id"] for r in novel.collect()) == [200, 201]


def test_only_committer_renames():
    """Every directory swap goes through committer.replace_dir: no other
    package module may call os.rename, os.replace or shutil.move. The
    IVM views' per-batch moves into their ingest layout are allowlisted
    by function name; they publish nothing (the ledger CAS does)."""
    import ast
    import pathlib

    import etl_world_banks_with_python_and_postgresql_spark as pkg

    banned = {("os", "rename"), ("os", "replace"), ("shutil", "move")}
    allowed = {
        ("operators/ivm.py", "_write_tagged_batches"),
        ("operators/ivm.py", "ingest_many"),
    }
    root = pathlib.Path(pkg.__file__).parent
    found = []

    def visit(node, rel, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, rel, child.name)
                continue
            if isinstance(child, ast.ImportFrom) and any(
                (child.module, a.name) in banned for a in child.names
            ):
                found.append(f"{rel}:{child.lineno} imports from {child.module}")
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and isinstance(child.func.value, ast.Name)
                and (child.func.value.id, child.func.attr) in banned
                and (rel, func) not in allowed
            ):
                found.append(f"{rel}:{child.lineno} in {func}")
            visit(child, rel, func)

    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        if rel != "committer.py":
            visit(ast.parse(f.read_text()), rel, None)
    assert not found, f"rename outside committer.py: {found}"


def test_only_bucketed_index_runs_the_index_protocol():
    """The maintenance lock and the stats CAS fold belong to the one
    at-rest index protocol: no package module other than
    sources/bucketed_index.py may import or call ``maintenance_lock`` or
    ``fold_stats`` (committer.py defines them), so a new index family
    cannot hand-roll its own append/compact copy."""
    import ast
    import pathlib

    import etl_world_banks_with_python_and_postgresql_spark as pkg

    protocol = {"maintenance_lock", "fold_stats"}
    root = pathlib.Path(pkg.__file__).parent
    found = []
    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        if rel in ("committer.py", "sources/bucketed_index.py"):
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names} & protocol
            elif isinstance(node, ast.Call):
                fn = node.func
                names = {getattr(fn, "id", None), getattr(fn, "attr", None)} & protocol
            else:
                continue
            found += [f"{rel}:{node.lineno} {n}" for n in sorted(names)]
    assert not found, f"index protocol outside bucketed_index.py: {found}"


# ------------------------------ index maintenance crashes: probes and appends


def _near_dup_docs(spark):
    """(seed, probe) docs: the probe holds near-copies of seed docs plus
    unrelated text, so a probe answer is a non-trivial id set."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    texts = [" ".join(rng.choice(vocab) for _ in range(12)) for _ in range(12)]
    schema = "doc_id int, text string"
    seed = spark.createDataFrame(list(enumerate(texts)), schema)
    probe = spark.createDataFrame(
        [(100 + i, texts[i] + " tail") for i in (1, 5, 9)]
        + [(200, " ".join(vocab[:12])), (201, " ".join(vocab[-12:]))],
        schema,
    )
    return seed, probe


def _vectors(spark, ids, dim=8):
    return spark.createDataFrame(
        [(i, [1.0 if j == i % dim else 0.1 * (i % 3) for j in range(dim)]) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _index_family(spark, family, path):
    """(directory the maintenance swaps, maintain(), probe() answers)."""
    from etl_world_banks_with_python_and_postgresql_spark.operators import (
        dedup,
        similarity,
    )

    if family == "ivf":
        similarity.write_ivf_index(_vectors(spark, range(12)), path, n_centroids=3)
        queries = _vectors(spark, range(100, 104))
        return (
            path,
            lambda: similarity.rebuild_ivf_index(spark, path, n_centroids=2),
            lambda: sorted(map(tuple, similarity.ivf_topk_indexed(
                spark, path, queries, n_probe=2, k=3
            ).collect())),
        )
    seed, probe = _near_dup_docs(spark)
    if family == "minhash":
        dedup.write_minhash_index(seed, path, n_buckets=4)
        return (
            os.path.join(path, "sets"),
            lambda: dedup.compact_minhash_index(spark, path),
            lambda: sorted(r["doc_id"] for r in dedup.minhash_novel_indexed(
                spark, probe, path
            ).collect()),
        )
    dedup.write_winnow_index(seed, path, n_buckets=4)
    return (
        os.path.join(path, "fps"),
        lambda: dedup.compact_winnow_index(spark, path),
        lambda: sorted(r["doc_id"] for r in dedup.winnow_novel_indexed(
            spark, probe, path, min_shared=1
        ).collect()),
    )


@pytest.mark.parametrize("family", ["ivf", "minhash", "winnow"])
def test_probe_serves_committed_index_after_swap_crash(
    spark, tmp_path, monkeypatch, family
):
    """A rebuild or compaction that crashes between its two renames
    leaves only ``.old``; every probe still answers from it, exactly as
    before the crash."""
    swapped, maintain, probe = _index_family(spark, family, str(tmp_path / "idx"))
    before = probe()
    assert before
    fired = _crash_swap_at(monkeypatch, swapped, "rename_in")
    with pytest.raises(OSError, match="injected"):
        maintain()
    assert fired and not os.path.exists(swapped)
    assert probe() == before


def test_ivf_rebuild_crash_then_append_keeps_every_vector(
    spark, tmp_path, monkeypatch
):
    """The append after a rebuild crashed between its renames takes the
    maintenance lock while the index root is missing: the lock must not
    re-create the root (restore_dir would then drop ``.old``, the whole
    index), so the append restores it and every vector survives."""
    from etl_world_banks_with_python_and_postgresql_spark.operators import similarity

    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(_vectors(spark, range(10)), path, n_centroids=3)
    fired = _crash_swap_at(monkeypatch, path, "rename_in")
    with pytest.raises(OSError, match="injected"):
        similarity.rebuild_ivf_index(spark, path, n_centroids=2)
    assert fired and not os.path.exists(path)
    similarity.append_ivf_index(_vectors(spark, range(10, 13)), path)
    ids = sorted(r["vec_id"] for r in spark.read.parquet(path).collect())
    assert ids == list(range(13))
    assert not os.path.exists(path + ".old")
