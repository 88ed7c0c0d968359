"""Incremental (delta + compaction) table equivalence: a multi-batch SCD
sequence through IncrementalTable must land in exactly the state the
full-snapshot-rewrite path produces, including history rows, the
deactivation pass, and a mid-sequence compaction.
"""

from datetime import date, datetime

from pyspark.sql import functions as F

from etl_world_banks_with_python_and_postgresql_spark import schemas
from etl_world_banks_with_python_and_postgresql_spark.operators.merge import (
    deactivate_stale,
    merge_scd,
)
from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
    IncrementalTable,
)

D1 = datetime(2024, 8, 1, 10, 0, 0)
D2 = datetime(2024, 8, 2, 10, 0, 0)
D3 = datetime(2024, 8, 3, 10, 0, 0)
D4 = datetime(2024, 8, 4, 10, 0, 0)

# 4 batches exercising every branch: cold insert, update, noop, drop
# (deactivation), reactivate-with-equal-value, new-version-after-inactive
BATCHES = [
    ("b1", D1, [("Bank A", 100.0), ("Bank B", 200.0), ("Bank C", 300.0)]),
    ("b2", D2, [("Bank A", 150.0), ("Bank B", 200.0)]),  # update A, noop B, drop C
    ("b3", D3, [("Bank A", 150.0), ("Bank B", 200.0), ("Bank C", 300.0)]),  # react C
    ("b4", D4, [("Bank A", 175.0), ("Bank C", 999.0), ("Bank D", 50.0)]),
]


def batch_df(spark, rows, batch_id):
    data = [(n, float(c), date(2024, 7, 31), batch_id) for n, c in rows]
    return spark.createDataFrame(data, schemas.WORLD_BANK_BATCH)


MERGE_KW = dict(
    keys=["bank_name"],
    compare_col="market_cap_usd",
    set_cols=["market_cap_usd", "last_modified_date"],
    table_name="world_bank_data",
)


def state_set(df):
    """Order/id-independent view of the table state (ids are generated
    independently per path, so they are excluded from the comparison)."""
    return {
        (
            r["bank_name"],
            r["market_cap_usd"],
            r["active"],
            r["batch_id"],
            str(r["updated_at"]),
        )
        for r in df.collect()
    }


def run_full_rewrite(spark):
    target = spark.createDataFrame([], schemas.WORLD_BANK_DATA)
    counters = []
    for batch_id, now, rows in BATCHES:
        res = merge_scd(
            target, batch_df(spark, rows, batch_id), batch_id=batch_id, now=now,
            **MERGE_KW,
        )
        target = deactivate_stale(res.target, batch_id, now=now).localCheckpoint(
            eager=True
        )
        counters.append(tuple(res.counters.collect()[0])[:4])
    return target, counters


def run_incremental(spark, path, compact_after):
    table = IncrementalTable(
        str(path), id_col="world_bank_id", compact_after=compact_after
    )
    counters = []
    for batch_id, now, rows in BATCHES:
        res = table.merge_batch(
            spark,
            schemas.WORLD_BANK_DATA,
            batch_df(spark, rows, batch_id),
            batch_id=batch_id,
            now=now,
            **MERGE_KW,
        )
        counters.append(tuple(res.counters.collect()[0])[:4])
    return table, counters


def test_incremental_equals_full_rewrite(spark, tmp_path):
    full, full_counters = run_full_rewrite(spark)
    table, inc_counters = run_incremental(spark, tmp_path / "t", compact_after=2)

    assert inc_counters == full_counters
    inc = table.read(spark, schemas.WORLD_BANK_DATA)
    assert state_set(inc) == state_set(full)
    assert inc.count() == full.count()  # history rows preserved, no dupes

    # compaction fired (compact_after=2 over 4 batches): base exists and
    # the pending delta list is short
    m = table._load_manifest()
    assert m["base"] is not None
    assert len(m["deltas"]) < 4

    # a fresh handle (new process, same directory) resolves the same state
    reopened = IncrementalTable(str(tmp_path / "t"), id_col="world_bank_id")
    assert state_set(reopened.read(spark, schemas.WORLD_BANK_DATA)) == state_set(full)


def test_incremental_no_compaction_path(spark, tmp_path):
    """Same equivalence with compaction disabled (pure delta chain)."""
    full, _ = run_full_rewrite(spark)
    table, _ = run_incremental(spark, tmp_path / "t", compact_after=99)
    m = table._load_manifest()
    assert m["base"] is None and len(m["deltas"]) == 4
    assert state_set(table.read(spark, schemas.WORLD_BANK_DATA)) == state_set(full)


def test_delta_write_is_batch_sized(spark, tmp_path):
    """The scale claim itself: a batch touching 2 of N rows persists 2 rows
    (plus deactivation flips), not N."""
    table = IncrementalTable(str(tmp_path / "t"), id_col="world_bank_id")
    n = 500
    rows = [(f"Bank {i:04d}", float(i)) for i in range(n)]
    table.merge_batch(
        spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows, "b1"),
        batch_id="b1", now=D1, **MERGE_KW,
    )
    # second batch: update ONE bank, resend the rest unchanged (noops)
    rows2 = [("Bank 0000", 1e6)] + rows[1:]
    table.merge_batch(
        spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows2, "b2"),
        batch_id="b2", now=D2, **MERGE_KW,
    )
    m = table._load_manifest()
    last_delta = spark.read.parquet(str(tmp_path / "t" / m["deltas"][-1]))
    assert last_delta.count() == 1  # just the updated row
    resolved = table.read(spark, schemas.WORLD_BANK_DATA)
    assert resolved.count() == n
    assert resolved.filter("active").count() == n


def test_time_travel_read_at(spark, tmp_path):
    """Each commit is a readable version; vacuum truncates history."""
    import pytest

    table = IncrementalTable(
        str(tmp_path / "t"), id_col="world_bank_id", compact_after=99
    )
    states = []
    for batch_id, now, rows in BATCHES:
        table.merge_batch(
            spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows, batch_id),
            batch_id=batch_id, now=now, retain_history=True, **MERGE_KW,
        )
        states.append(state_set(table.read(spark, schemas.WORLD_BANK_DATA)))

    # versions 1..4 (one write_delta commit per batch) replay the history
    for seq, expect in zip(range(1, 5), states):
        got = state_set(table.read_at(spark, schemas.WORLD_BANK_DATA, seq))
        assert got == expect, f"version {seq} mismatch"

    with pytest.raises(FileNotFoundError, match="no committed version"):
        table.read_at(spark, schemas.WORLD_BANK_DATA, 42)

    # compaction with retained history keeps old versions readable
    table.compact(spark, schemas.WORLD_BANK_DATA)
    assert state_set(table.read_at(spark, schemas.WORLD_BANK_DATA, 2)) == states[1]
    # vacuum reclaims: old version now raises, current still reads
    table.vacuum()
    with pytest.raises(FileNotFoundError, match="vacuumed|no committed"):
        table.read_at(spark, schemas.WORLD_BANK_DATA, 2)
    assert state_set(table.read(spark, schemas.WORLD_BANK_DATA)) == states[-1]


def test_manifest_max_id_tracking(spark, tmp_path):
    """The manifest high-water mark spares the full-target max-id scan and
    must equal the true max; ids stay unique across batches + compaction."""
    table = IncrementalTable(
        str(tmp_path / "t"), id_col="world_bank_id", compact_after=2
    )
    for batch_id, now, rows in BATCHES:
        table.merge_batch(
            spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows, batch_id),
            batch_id=batch_id, now=now, **MERGE_KW,
        )
        state = table.read(spark, schemas.WORLD_BANK_DATA)
        true_max = state.agg(F.max("world_bank_id")).collect()[0][0]
        m = table._load_manifest()
        assert m["max_id"] == true_max, (m["max_id"], true_max)
        # ids unique across the whole history
        assert (
            state.select("world_bank_id").distinct().count() == state.count()
        )


def test_bucketed_base_equals_plain(spark, tmp_path):
    """Bucketed-base mode must be state-identical to the plain path, and
    bucketed reads must survive catalog re-registration (a new session
    would take the same CREATE TABLE path)."""
    full, full_counters = run_full_rewrite(spark)
    table = IncrementalTable(
        str(tmp_path / "b"), id_col="world_bank_id", compact_after=2,
        bucket_by=["bank_name"], n_buckets=4,
    )
    counters = []
    for batch_id, now, rows in BATCHES:
        res = table.merge_batch(
            spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows, batch_id),
            batch_id=batch_id, now=now, **MERGE_KW,
        )
        counters.append(tuple(res.counters.collect()[0])[:4])
    assert counters == full_counters
    got = table.read(spark, schemas.WORLD_BANK_DATA)
    assert state_set(got) == state_set(full)

    # simulate a fresh session: drop the catalog entry, read again -- the
    # manifest's bucket metadata re-registers the external table
    m = table._load_manifest()
    assert m.get("base_table")
    spark.sql(f"DROP TABLE {m['base_table']}")
    again = table.read(spark, schemas.WORLD_BANK_DATA)
    assert state_set(again) == state_set(full)
    assert spark.catalog.tableExists(m["base_table"])


def test_bucketed_base_merge_skips_target_exchange(spark, tmp_path):
    """The 100 TB claim behind bucket_by: with a freshly-compacted bucketed
    base and a non-broadcast batch, the merge's classify/profile/apply
    chain exchanges ONLY the batch side -- strictly fewer shuffles than the
    same merge against a plain parquet base."""
    from tests.test_plans import formatted_plan

    def build(path, bucket_by):
        t = IncrementalTable(
            str(path), id_col="world_bank_id", compact_after=1,
            bucket_by=bucket_by, n_buckets=4,
        )
        b1, now, rows = BATCHES[0]
        t.merge_batch(
            spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows, b1),
            batch_id=b1, now=now, **MERGE_KW,
        )
        assert not t._load_manifest()["deltas"]  # compacted -> pure base scan
        return t

    bucketed = build(tmp_path / "bk", ["bank_name"])
    plain = build(tmp_path / "pl", None)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def merge_plan(t):
            res = merge_scd(
                t.read(spark, schemas.WORLD_BANK_DATA),
                batch_df(spark, BATCHES[1][2], "b2"),
                batch_id="b2", now=BATCHES[1][1], broadcast_batch=False,
                max_id=t._load_manifest().get("max_id"),
                target_partitions=4 if t.bucket_by else None, **MERGE_KW,
            )
            return formatted_plan(res.target)

        pb = merge_plan(bucketed)
        pp = merge_plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    # formatted mode: Exchange partitioning appears as a detail line
    # "Arguments: hashpartitioning(bank_name#..., N), ENSURE_REQUIREMENTS..."
    n_bucketed = pb.count("hashpartitioning(bank_name")
    n_plain = pp.count("hashpartitioning(bank_name")
    # plain: target shuffles for semi-join + profile + apply; bucketed:
    # only the batch side hashes into the bucket layout
    assert n_bucketed < n_plain, (n_bucketed, n_plain)


# --- partition pruning (partition_by + partition_range) ----------------------

RATES_KW = dict(
    keys=["country", "currency", "year"],
    compare_col="exchange_rate",
    set_cols=["exchange_rate"],
    table_name="exchanges_rates",
    scd=False,
    deactivate=False,
)

Y21, Y22, Y23 = date(2021, 12, 31), date(2022, 12, 31), date(2023, 12, 31)


def rates_batch(spark, rows, batch_id):
    data = [(c, cur, float(r), y, batch_id) for c, cur, r, y in rows]
    return spark.createDataFrame(data, schemas.EXCHANGE_RATES_BATCH)


def _build_partitioned(spark, path, compact_after=99):
    """3 batches over 3 years; the partition column `year` is a merge key,
    so it is version-stable per id (the pruning soundness requirement)."""
    table = IncrementalTable(
        str(path), id_col="exchange_rate_id", compact_after=compact_after,
        partition_by="year",
    )
    batches = [
        ("b1", D1, [("US", "USD", 1.0, Y21), ("US", "USD", 1.1, Y22),
                    ("FR", "EUR", 0.9, Y21)]),
        ("b2", D2, [("US", "USD", 1.2, Y22), ("JP", "JPY", 150.0, Y23)]),
        ("b3", D3, [("FR", "EUR", 0.95, Y21)]),
    ]
    for batch_id, now, rows in batches:
        table.merge_batch(
            spark, schemas.EXCHANGES_RATES, rates_batch(spark, rows, batch_id),
            batch_id=batch_id, now=now, **RATES_KW,
        )
    return table


def rate_state(df):
    return {
        (r["country"], r["currency"], str(r["year"]), r["exchange_rate"], r["batch_id"])
        for r in df.collect()
    }


def test_partitioned_pruned_read_equals_filtered_full(spark, tmp_path):
    table = _build_partitioned(spark, tmp_path / "t")
    full = table.read(spark, schemas.EXCHANGES_RATES)
    assert full.count() == 4  # 4 distinct (country, currency, year) keys
    for lo, hi, n in [(Y21, Y21, 2), (Y22, Y23, 2), (Y21, Y23, 4), (Y23, Y23, 1)]:
        pruned = table.read(spark, schemas.EXCHANGES_RATES, partition_range=(lo, hi))
        expect = full.filter(F.col("year").between(F.lit(lo), F.lit(hi)))
        assert rate_state(pruned) == rate_state(expect), (lo, hi)
        assert pruned.count() == n
    # updates resolved inside the range: Y22 rate is b2's 1.2, not b1's 1.1
    y22 = table.read(spark, schemas.EXCHANGES_RATES, partition_range=(Y22, Y22))
    assert y22.collect()[0]["exchange_rate"] == 1.2


def test_partitioned_manifest_skips_deltas_and_prunes_base(spark, tmp_path):
    table = _build_partitioned(spark, tmp_path / "t")
    m = table._load_manifest()
    assert len(m["deltas"]) == 3 and len(m["delta_stats"]) == 3
    # delta-000003 only touched 2021 -> a 2023 read never opens it; delta 1
    # spans 2021-2022 -> skipped too; only delta-000002 is scanned
    files = table.read(
        spark, schemas.EXCHANGES_RATES, partition_range=(Y23, Y23)
    ).inputFiles()
    assert files, "Y23 read must see delta-000002"
    assert all("delta-000002" in f for f in files), files
    # after compaction the base is Hive-partitioned: the range predicate
    # reaches the scan as directory-level PartitionFilters (inputFiles()
    # cannot show this -- it lists the relation pre-filter)
    table.compact(spark, schemas.EXCHANGES_RATES)
    pruned = table.read(spark, schemas.EXCHANGES_RATES, partition_range=(Y21, Y21))
    from tests.test_plans import formatted_plan

    plan = formatted_plan(pruned)
    assert "PartitionFilters: [isnotnull(year" in plan, plan
    assert "(year" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert rate_state(
        table.read(spark, schemas.EXCHANGES_RATES, partition_range=(Y21, Y21))
    ) == rate_state(
        table.read(spark, schemas.EXCHANGES_RATES).filter(F.col("year") == F.lit(Y21))
    )


def test_partitioned_equals_unpartitioned_state(spark, tmp_path):
    part = _build_partitioned(spark, tmp_path / "p", compact_after=2)
    flat_table = IncrementalTable(str(tmp_path / "f"), id_col="exchange_rate_id")
    for batch_id, now, rows in [
        ("b1", D1, [("US", "USD", 1.0, Y21), ("US", "USD", 1.1, Y22),
                    ("FR", "EUR", 0.9, Y21)]),
        ("b2", D2, [("US", "USD", 1.2, Y22), ("JP", "JPY", 150.0, Y23)]),
        ("b3", D3, [("FR", "EUR", 0.95, Y21)]),
    ]:
        flat_table.merge_batch(
            spark, schemas.EXCHANGES_RATES, rates_batch(spark, rows, batch_id),
            batch_id=batch_id, now=now, **RATES_KW,
        )
    assert rate_state(part.read(spark, schemas.EXCHANGES_RATES)) == rate_state(
        flat_table.read(spark, schemas.EXCHANGES_RATES)
    )


def test_partition_by_bucket_by_exclusive(tmp_path):
    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        IncrementalTable(
            str(tmp_path / "t"), id_col="x", bucket_by=["k"], partition_by="d"
        )


def test_merge_batch_prunes_target_read(spark, tmp_path):
    """When the partition column is a merge key and no deactivation pass
    runs, merge_batch reads only the batch's partition range of the target
    -- and the final state is identical to the unpruned path."""
    table = _build_partitioned(spark, tmp_path / "t")
    calls = []
    orig_read = IncrementalTable.read

    def spy(self, spark_, schema_, partition_range=None):
        calls.append(partition_range)
        return orig_read(self, spark_, schema_, partition_range)

    IncrementalTable.read = spy
    try:
        table.merge_batch(
            spark, schemas.EXCHANGES_RATES,
            rates_batch(spark, [("US", "USD", 1.3, Y22)], "b4"),
            batch_id="b4", now=D4, **RATES_KW,
        )
    finally:
        IncrementalTable.read = orig_read
    # first read (classify target) pruned to the batch's single year;
    # the re-rooting read at the end is unpruned by design
    assert calls[0] == (Y22, Y22), calls
    assert calls[-1] is None
    got = rate_state(table.read(spark, schemas.EXCHANGES_RATES))
    assert ("US", "USD", str(Y22), 1.3, "b4") in got
    assert len(got) == 4  # update in place: no extra row

    # SCD + deactivation must NOT prune (stale keys live outside the range)
    calls.clear()
    scd_table = IncrementalTable(
        str(tmp_path / "scd"), id_col="world_bank_id", partition_by="bank_name"
    )
    IncrementalTable.read = spy
    try:
        scd_table.merge_batch(
            spark, schemas.WORLD_BANK_DATA,
            batch_df(spark, [("Bank A", 1.0)], "b1"),
            batch_id="b1", now=D1, **MERGE_KW,
        )
    finally:
        IncrementalTable.read = orig_read
    assert all(c is None for c in calls), calls


def test_snapshot_diff_between_versions(spark, tmp_path):
    """snapshot_diff over read_at time-travel versions of the active
    snapshot: an update registers as changed, an untouched key as
    unchanged, a new key as added, and a deactivated key as removed.
    (The drop needs an update first: freshly-inserted rows with
    updated_at NULL are exempt from deactivation -- the reference's
    documented quirk.)"""
    from etl_world_banks_with_python_and_postgresql_spark.operators.diff import (
        snapshot_diff,
    )

    table = IncrementalTable(
        str(tmp_path / "d"), id_col="world_bank_id", compact_after=99
    )
    seq = [
        ("b1", D1, [("Bank A", 100.0), ("Bank B", 200.0), ("Bank C", 300.0)]),
        # update C so its updated_at is stamped (deactivation-eligible)
        ("b2", D2, [("Bank A", 100.0), ("Bank B", 200.0), ("Bank C", 301.0)]),
        # drop C (now deactivates), update A, add D
        ("b3", D3, [("Bank A", 150.0), ("Bank B", 200.0), ("Bank D", 50.0)]),
    ]
    for batch_id, now, rows in seq:
        table.merge_batch(
            spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows, batch_id),
            batch_id=batch_id, now=now, deactivate=True, **MERGE_KW,
        )
    v2 = table.read_at(spark, schemas.WORLD_BANK_DATA, 2).filter("active")
    v3 = table.read_at(spark, schemas.WORLD_BANK_DATA, 3).filter("active")
    got = {
        r["bank_name"]: r["diff"]
        for r in snapshot_diff(
            v2, v3, keys=["bank_name"], compare_cols=["market_cap_usd"]
        ).collect()
    }
    assert got == {
        "Bank A": "changed",
        "Bank B": "unchanged",
        "Bank C": "removed",
        "Bank D": "added",
    }


def test_delete_keys_merge_on_read(spark, tmp_path):
    """Tombstone deletes: O(|ids|) writes, merge-on-read removal, delete
    vs later-upsert ordering, physical purge at compact, and time travel
    back across the delete."""
    t = IncrementalTable(str(tmp_path / "t"), id_col="world_bank_id")
    sch = schemas.WORLD_BANK_DATA
    t.merge_batch(
        spark, sch, batch_df(spark, BATCHES[0][2], "b1"),
        batch_id="b1", now=D1, **MERGE_KW,
    )
    full = t.read(spark, sch)
    ids = {r["bank_name"]: r["world_bank_id"] for r in full.collect()}
    assert len(ids) == 3
    pre_delete_seq = t._load_manifest()["seq"]

    # delete Bank B by id
    t.delete_keys(
        spark, sch,
        spark.createDataFrame([(ids["Bank B"],)], "world_bank_id long"),
    )
    assert {r["bank_name"] for r in t.read(spark, sch).collect()} == {
        "Bank A", "Bank C",
    }

    # a LATER upsert of the deleted key re-inserts it (new id is fine)
    t.merge_batch(
        spark, sch, batch_df(spark, [("Bank B", 222.0)], "b2"),
        batch_id="b2", now=D2, deactivate=False, **MERGE_KW,
    )
    again = {r["bank_name"]: r for r in t.read(spark, sch).collect()}
    assert again["Bank B"]["market_cap_usd"] == 222.0

    # trailing delete wins over the re-insert
    new_b = again["Bank B"]["world_bank_id"]
    t.delete_keys(spark, sch, spark.createDataFrame([(new_b,)], "world_bank_id long"))
    assert {r["bank_name"] for r in t.read(spark, sch).collect()} == {
        "Bank A", "Bank C",
    }

    # time travel still sees the pre-delete state
    assert {
        r["bank_name"] for r in t.read_at(spark, sch, pre_delete_seq).collect()
    } == {"Bank A", "Bank B", "Bank C"}

    # compact physically purges; state unchanged; no tombstone deltas left
    t.compact(spark, sch)
    m = t._load_manifest()
    assert m["deltas"] == []
    assert {r["bank_name"] for r in t.read(spark, sch).collect()} == {
        "Bank A", "Bank C",
    }


def test_delete_keys_partitioned_range_reads(spark, tmp_path):
    """Tombstones without partition values must still apply inside range
    reads (no resurrection), and with values they carry pruning stats."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("day", T.DateType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = IncrementalTable(str(tmp_path / "p"), id_col="id", partition_by="day")
    rows = [
        (1, date(2024, 8, 1), 1.0),
        (2, date(2024, 8, 1), 2.0),
        (3, date(2024, 8, 2), 3.0),
    ]
    t.write_delta(spark.createDataFrame(rows, sch))

    # delete id=2 WITHOUT its partition value
    t.delete_keys(spark, sch, spark.createDataFrame([(2,)], "id long"))
    in_range = t.read(
        spark, sch, partition_range=(date(2024, 8, 1), date(2024, 8, 1))
    )
    assert {r["id"] for r in in_range.collect()} == {1}  # 2 stays deleted
    assert {r["id"] for r in t.read(spark, sch).collect()} == {1, 3}

    # delete id=3 WITH its partition value -> stats recorded for pruning
    t.delete_keys(
        spark, sch,
        spark.createDataFrame([(3, date(2024, 8, 2))], "id long, day date"),
    )
    m = t._load_manifest()
    last = m["deltas"][-1]
    assert m["delta_kinds"][last] == "delete"
    assert m["delta_stats"][last]["min"] == "2024-08-02"
    assert {r["id"] for r in t.read(spark, sch).collect()} == {1}


def test_delete_keys_mixed_null_partition_batch_not_pruned(spark, tmp_path):
    """ADVICE r3 (medium): a delete batch MIXING rows with and without
    partition values must not record delta_stats -- min/max over only the
    non-null values would let _range_hits prune the whole tombstone delta
    for out-of-range reads and resurrect the null-partition deletes."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("day", T.DateType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    t = IncrementalTable(str(tmp_path / "mx"), id_col="id", partition_by="day")
    rows = [
        (1, date(2024, 8, 1), 1.0),
        (2, date(2024, 8, 2), 2.0),
        (3, date(2024, 8, 3), 3.0),
    ]
    t.write_delta(spark.createDataFrame(rows, sch))

    # one batch: id=3 with its partition value, id=1 without (day null).
    # Non-null min/max would be [08-03, 08-03]; a read restricted to
    # 08-01 would then prune the delta and resurrect id=1.
    t.delete_keys(
        spark, sch,
        spark.createDataFrame(
            [(3, date(2024, 8, 3)), (1, None)], "id long, day date"
        ),
    )
    m = t._load_manifest()
    last = m["deltas"][-1]
    assert m["delta_kinds"][last] == "delete"
    assert last not in m.get("delta_stats", {})  # conservatively unprunable

    aug1 = t.read(
        spark, sch, partition_range=(date(2024, 8, 1), date(2024, 8, 1))
    )
    assert {r["id"] for r in aug1.collect()} == set()  # id=1 stays deleted
    assert {r["id"] for r in t.read(spark, sch).collect()} == {2}

    # all-valued batch on the same table still records stats
    t.delete_keys(
        spark, sch,
        spark.createDataFrame([(2, date(2024, 8, 2))], "id long, day date"),
    )
    m = t._load_manifest()
    assert m["delta_stats"][m["deltas"][-1]]["min"] == "2024-08-02"


def test_read_changes_cdf(spark, tmp_path):
    """Change data feed: read_changes(since) returns exactly the rows each
    commit changed, tagged upsert/delete with the right _commit_seq;
    compaction commits contribute nothing; a checkpointing consumer that
    reads (last_seq, current] sees each change exactly once."""
    table = IncrementalTable(
        str(tmp_path / "t"), id_col="world_bank_id", compact_after=100
    )
    schema = schemas.WORLD_BANK_DATA
    for bid, now, rows in BATCHES[:2]:
        table.merge_batch(
            spark, schema, batch_df(spark, rows, bid), now=now,
            batch_id=bid, deactivate=False, **MERGE_KW
        )
    seq_after_two = table._load_manifest()["seq"]

    all_changes = table.read_changes(spark, schema, since_seq=0)
    assert set(all_changes.columns) == set(
        [f.name for f in schema.fields] + ["_change_type", "_commit_seq"]
    )
    by_seq = {
        (r["_commit_seq"], r["bank_name"]): r["_change_type"]
        for r in all_changes.collect()
    }
    # commit 1: 3 inserts; commit 2: only A changed (B noop, no deactivation)
    assert sorted(k[1] for k in by_seq if k[0] == 1) == [
        "Bank A", "Bank B", "Bank C",
    ]
    assert sorted(k[1] for k in by_seq if k[0] == 2) == ["Bank A"]
    assert set(by_seq.values()) == {"upsert"}

    # delete feeds tombstones
    ids = spark.createDataFrame(
        [(r["world_bank_id"],) for r in table.read(spark, schema)
         .filter(F.col("bank_name") == "Bank C").collect()],
        "world_bank_id long",
    )
    table.delete_keys(spark, schema, ids)
    del_seq = table._load_manifest()["seq"]
    deletes = table.read_changes(spark, schema, since_seq=seq_after_two)
    assert {r["_change_type"] for r in deletes.collect()} == {"delete"}
    assert {r["_commit_seq"] for r in deletes.collect()} == {del_seq}

    # compaction: a new commit, but zero CDF rows
    table.compact(spark, schema)
    assert table.read_changes(spark, schema, since_seq=del_seq).count() == 0
    # the pre-compaction window still reads (version manifests retained)
    assert table.read_changes(spark, schema, since_seq=0).count() == \
        all_changes.count() + deletes.count()

    # empty window returns an empty, correctly-shaped frame
    cur = table._load_manifest()["seq"]
    empty = table.read_changes(spark, schema, since_seq=cur)
    assert empty.count() == 0 and "_change_type" in empty.columns


def test_schema_evolution_plain_layout(spark, tmp_path):
    """evolve_schema=True: a delta may ADD columns; earlier rows read as
    NULL for the new column, merge-on-read still dedups by id, compaction
    bakes the evolved schema into the new base, the change feed spans the
    boundary, and time travel to a pre-evolution version keeps the old
    column set. Layouts that pin a declared schema (bucketed, partitioned)
    refuse the flag loudly."""
    import pyspark.sql.types as T
    import pytest as _pytest

    from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
        IncrementalTable,
    )

    v1 = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    v2 = T.StructType(
        list(v1.fields) + [T.StructField("lang", T.StringType())]
    )
    t = IncrementalTable(str(tmp_path / "tbl"), id_col="id", evolve_schema=True)
    t.write_delta(spark.createDataFrame([(1, "a"), (2, "b")], v1))
    t.write_delta(
        spark.createDataFrame([(2, "b2", "en"), (3, "c", "de")], v2)
    )

    cur = t.read(spark, v2)
    assert cur.columns == ["id", "val", "lang"]
    state = {r["id"]: (r["val"], r["lang"]) for r in cur.collect()}
    assert state == {1: ("a", None), 2: ("b2", "en"), 3: ("c", "de")}

    # time travel to the pre-evolution version: old column set, old rows
    old = t.read_at(spark, v1, seq=1)
    assert old.columns == ["id", "val"]
    assert {r["id"]: r["val"] for r in old.collect()} == {1: "a", 2: "b"}

    # change feed across the evolution boundary aligns by name
    feed = t.read_changes(spark, v2, since_seq=0)
    assert set(feed.columns) == {"id", "val", "lang", "_change_type", "_commit_seq"}
    assert feed.count() == 4

    # compaction bakes the evolved schema into the base files
    t.compact(spark, v2)
    base = spark.read.parquet(str(tmp_path / "tbl" / "base-000003"))
    assert set(base.columns) == {"id", "val", "lang"}
    post = {r["id"]: (r["val"], r["lang"]) for r in t.read(spark, v2).collect()}
    assert post == state

    # deletes still work against the evolved table
    t.delete_keys(spark, v2, spark.createDataFrame([(1,)], "id long"))
    assert {r["id"] for r in t.read(spark, v2).collect()} == {2, 3}

    for kw in (
        dict(bucket_by=["id"]),
        dict(partition_by="val"),
    ):
        with _pytest.raises(ValueError, match="plain layout"):
            IncrementalTable(
                str(tmp_path / "x"), id_col="id", evolve_schema=True, **kw
            )


def test_apply_changes_replays_feed_onto_snapshot(spark, tmp_path):
    """CDC round trip: read_at(v) + apply_changes(read_changes(since=v))
    == read() current state -- the invariant that lets a downstream
    consumer materialize the table from a checkpoint without rescans."""
    import pyspark.sql.types as T

    from etl_world_banks_with_python_and_postgresql_spark.operators.diff import (
        apply_changes,
    )
    from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
        IncrementalTable,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    t = IncrementalTable(str(tmp_path / "tbl"), id_col="id")
    t.write_delta(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema))
    snap_seq = 1
    snapshot = t.read_at(spark, schema, seq=snap_seq)

    t.write_delta(spark.createDataFrame([(2, "b2"), (4, "d")], schema))
    t.delete_keys(spark, schema, spark.createDataFrame([(3,)], "id long"))
    t.write_delta(spark.createDataFrame([(3, "c2")], schema))  # re-insert after delete

    feed = t.read_changes(spark, schema, since_seq=snap_seq)
    replayed = apply_changes(snapshot, feed, id_col="id")
    assert sorted(tuple(r) for r in replayed.collect()) == sorted(
        tuple(r) for r in t.read(spark, schema).collect()
    )


def test_partial_compaction_preserves_state(spark, tmp_path):
    """compact(upto=m) folds only the oldest m deltas: resolved state is
    unchanged at every step (latest-seq-wins makes prefix folding exact,
    including an id rewritten by both a folded and a pending delta, and
    a pending DELETE that must keep suppressing a folded row), pending
    deltas keep their kinds, and a later full compact converges."""
    import json

    import pyspark.sql.types as T

    from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
        IncrementalTable,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    t = IncrementalTable(str(tmp_path / "tbl"), id_col="id", compact_after=99)
    t.write_delta(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema))
    t.write_delta(spark.createDataFrame([(2, "b2"), (4, "d")], schema))
    # pending-side changes that must survive the partial fold:
    t.write_delta(spark.createDataFrame([(2, "b3"), (5, "e")], schema))
    t.delete_keys(spark, schema, spark.createDataFrame([(1,)], "id long"))

    def state():
        return sorted(tuple(r) for r in t.read(spark, schema).collect())

    before = state()
    assert before == [(2, "b3"), (3, "c"), (4, "d"), (5, "e")]

    t.compact(spark, schema, upto=2)  # fold the first two upsert deltas
    m = json.load(open(f"{tmp_path}/tbl/_manifest.json"))
    assert m["base"] is not None and len(m["deltas"]) == 2
    assert set(m.get("delta_kinds", {}).values()) == {"delete"}
    assert state() == before

    t.compact(spark, schema)  # full fold converges
    m = json.load(open(f"{tmp_path}/tbl/_manifest.json"))
    assert m["deltas"] == []
    assert state() == before


def test_bloom_index_lookup_matches_full_scan_and_prunes(spark, tmp_path):
    """Per-file Bloom data-skipping: lookup == full-scan filter (no
    false negatives), and the probe reads a strict subset of files."""
    import os

    from etl_world_banks_with_python_and_postgresql_spark.sources.bloom_index import (
        bloom_lookup,
        write_bloom_indexed,
    )
    from etl_world_banks_with_python_and_postgresql_spark.sources.catalog import load

    orders = load(spark, "orders", "/root/testdata/sf0.001")
    path = str(tmp_path / "bl")
    write_bloom_indexed(orders, path, "o_custkey", target_files=16)

    full = spark.read.parquet(os.path.join(path, "data"))
    for probe in ([7], [7, 1493], [999_999_999]):
        got = sorted(
            r["o_orderkey"]
            for r in bloom_lookup(spark, path, "o_custkey", probe).collect()
        )
        want = sorted(
            r["o_orderkey"]
            for r in full.filter(F.col("o_custkey").isin(probe)).collect()
        )
        assert got == want
    # pruning: a single-key probe must touch fewer files than exist
    out = bloom_lookup(spark, path, "o_custkey", [7])
    touched = {f for f in out.inputFiles()}
    assert 0 < len(touched) < 16
    # the absent key reads nothing
    assert bloom_lookup(spark, path, "o_custkey", [999_999_999]).inputFiles() == []
    # an EMPTY probe list is a valid query: 0 rows, table schema, no error
    empty = bloom_lookup(spark, path, "o_custkey", [])
    assert empty.count() == 0
    assert empty.schema == full.schema


# --- reads answered from metadata: pinned schema, manifest row count --------

D0 = datetime(2024, 7, 1, 10, 0, 0)
# an inactive history row and an active fresh insert; the batch below
# turns them into a new_version and a noop, and inserts Bank C
SEED_BANKS = [
    (1, "Bank A", 100.0, date(2024, 6, 30), "b0", D0, D0, False),
    (2, "Bank B", 200.0, date(2024, 6, 30), "b0", D0, None, True),
]
NEW_VERSION_BATCH = ("b1", D1, [("Bank A", 150.0), ("Bank B", 200.0), ("Bank C", 300.0)])
UPDATE_BATCH = ("b2", D2, [("Bank A", 175.0), ("Bank B", 250.0)])


def _seeded(spark, table, schema, rows):
    """Commit ``rows`` as the table's base; the full compaction seeds the
    manifest row count from the base footers."""
    table.write_delta(spark.createDataFrame(rows, schema))
    table.compact(spark, schema)
    return table


def _merge(spark, table, batch):
    batch_id, now, rows = batch
    return table.merge_batch(
        spark, schemas.WORLD_BANK_DATA, batch_df(spark, rows, batch_id),
        batch_id=batch_id, now=now, **MERGE_KW,
    )


def _assert_row_count_exact(spark, table, schema, known=True):
    """row_count equals the resolved read's count; ``known`` says whether
    the manifest carries it (else row_count took the counting fallback)."""
    assert (table._load_manifest().get("rows") is not None) == known
    assert table.row_count(spark, schema) == table.read(spark, schema).count()


def test_read_and_row_count_submit_no_spark_job(spark, spark_jobs, tmp_path):
    """A base plus two pending deltas resolves from the declared schema and
    the manifest alone: building the read and counting its rows submit no
    Spark job (a bare parquet read runs a schema-inference job per file
    set)."""
    from pyspark.sql import types as T

    sch = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("v", T.StringType())]
    )
    table = _seeded(spark, IncrementalTable(str(tmp_path / "t"), id_col="id"), sch,
                    [(1, "a"), (2, "b")])
    table.write_delta(spark.createDataFrame([(2, "b2"), (3, "c")], sch), new_rows=1)
    table.write_delta(spark.createDataFrame([(4, "d")], sch), new_rows=1)
    m = table._load_manifest()
    assert m["base"] and len(m["deltas"]) == 2 and m["max_id"] == 4
    with spark_jobs() as jobs:
        df = table.read(spark, sch)
        n = table.row_count(spark, sch)
    assert jobs == []
    assert n == 4
    # the same probe does see jobs when the block runs some
    with spark_jobs() as jobs:
        assert sorted(tuple(r) for r in df.collect()) == [
            (1, "a"), (2, "b2"), (3, "c"), (4, "d")
        ]
    assert jobs


def test_row_count_exact_through_merge_compact_delete(spark, tmp_path):
    """The manifest row count stays exact across merges (insert,
    new_version, update), a partial and a full compaction; delete_keys
    makes it unknown (row_count falls back to counting) until the next
    full compaction re-seeds it from the base footers."""
    sch = schemas.WORLD_BANK_DATA
    table = _seeded(spark, IncrementalTable(str(tmp_path / "t"), id_col="world_bank_id"),
                    sch, SEED_BANKS)
    _assert_row_count_exact(spark, table, sch)
    res = _merge(spark, table, NEW_VERSION_BATCH)
    assert sorted(r["action"] for r in res.actions.collect()) == [
        "insert", "new_version", "noop"
    ]
    assert res.counters_row["_new_rows"] == 2
    _merge(spark, table, UPDATE_BATCH)
    _assert_row_count_exact(spark, table, sch)
    table.compact(spark, sch, upto=1)
    _assert_row_count_exact(spark, table, sch)
    table.compact(spark, sch)
    assert table._load_manifest()["rows"] == 4
    table.delete_keys(spark, sch, spark.createDataFrame([(1,)], "world_bank_id long"))
    _assert_row_count_exact(spark, table, sch, known=False)
    table.compact(spark, sch)
    assert table._load_manifest()["rows"] == 3
    _assert_row_count_exact(spark, table, sch)


def test_row_count_falls_back_on_manifest_without_rows(spark, tmp_path):
    """Manifests written before the row count existed: row_count counts
    the resolved read, merges keep the count unknown, and a full
    compaction seeds it."""
    from etl_world_banks_with_python_and_postgresql_spark.committer import (
        commit_json,
        load_json,
    )

    sch = schemas.WORLD_BANK_DATA
    table = _seeded(spark, IncrementalTable(str(tmp_path / "t"), id_col="world_bank_id"),
                    sch, SEED_BANKS)
    m, tok = load_json(table._manifest_path())
    del m["rows"]
    commit_json(table._manifest_path(), m, expect=tok)
    _assert_row_count_exact(spark, table, sch, known=False)
    _merge(spark, table, NEW_VERSION_BATCH)
    _assert_row_count_exact(spark, table, sch, known=False)
    table.compact(spark, sch)
    _assert_row_count_exact(spark, table, sch)


def test_row_count_exact_partitioned_layout(spark, tmp_path):
    """Partitioned layout: exact through a merge and compaction, and the
    post-delete re-seed reads the footers under the Hive directories."""
    sch = schemas.EXCHANGES_RATES
    table = IncrementalTable(
        str(tmp_path / "t"), id_col="exchange_rate_id", partition_by="year"
    )
    _seeded(spark, table, sch, [
        (1, "US", "USD", 1.0, Y21, "b0", D0, None),
        (2, "FR", "EUR", 0.9, Y22, "b0", D0, None),
    ])
    table.merge_batch(
        spark, sch,
        rates_batch(spark, [("US", "USD", 1.1, Y21), ("JP", "JPY", 150.0, Y23)], "b1"),
        batch_id="b1", now=D1, **RATES_KW,
    )
    _assert_row_count_exact(spark, table, sch)
    table.delete_keys(
        spark, sch, spark.createDataFrame([(2, Y22)], "exchange_rate_id long, year date")
    )
    _assert_row_count_exact(spark, table, sch, known=False)
    table.compact(spark, sch)
    assert table._load_manifest()["rows"] == 2
    _assert_row_count_exact(spark, table, sch)


def test_row_count_exact_bucketed_layout(spark, tmp_path):
    """Bucketed base: exact through a merge, and the post-delete re-seed
    reads the bucket files' footers."""
    sch = schemas.WORLD_BANK_DATA
    table = IncrementalTable(
        str(tmp_path / "t"), id_col="world_bank_id", bucket_by=["bank_name"], n_buckets=4,
    )
    _seeded(spark, table, sch, SEED_BANKS)
    _merge(spark, table, NEW_VERSION_BATCH)
    _assert_row_count_exact(spark, table, sch)
    table.delete_keys(spark, sch, spark.createDataFrame([(2,)], "world_bank_id long"))
    _assert_row_count_exact(spark, table, sch, known=False)
    table.compact(spark, sch)
    assert table._load_manifest()["rows"] == 3
    _assert_row_count_exact(spark, table, sch)
