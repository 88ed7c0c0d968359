"""Set-based SCD merge/upsert -- the reference's centerpiece, re-expressed
as one join + a first-match-wins CASE classification.

Reference semantics reproduced exactly (procedure
`etl.insert_or_update_world_bank_data`, SQL/etl_world_banks.sql:20-122,
invoked per-row from Python/etl_project_world_banks.ipynb:224-228):

    key absent                          -> INSERT (active, updated_at=NULL); new_inserts++
    active row, equal value             -> NOOP; no_update++            (sql:29-41)
    active row, different value         -> UPDATE in place; update++    (sql:42-56)
    only inactive rows (exactly 1), eq  -> REACTIVATE in place          (sql:57-71)
    only inactive rows (exactly 1), ne  -> INSERT new version, NO counter (sql:72-91, quirk)
    >1 active or >1 inactive rows       -> ERROR: the reference's scalar
        subqueries (sql:34-36, 60-62) raise "more than one row returned",
        caught by EXCEPTION WHEN OTHERS (sql:118-121) -> row skipped with a
        notice. Here: action='error', row lands in the quarantine frame.

Preserved quirks (all deliberate, see SURVEY.md §2.5):
  * fresh inserts carry updated_at=NULL (sql:88,109) and are therefore
    permanently exempt from deactivation (sql:134) until first updated;
  * NOOP rows do NOT refresh batch_id on the target (sql:38-40 touch only
    log_counts), so a present-but-unchanged row whose updated_at predates
    today is still deactivated by the post-pass;
  * the inactive->new-version branch increments no counter (sql:72-91);
  * value comparison is strict SQL equality: NULL on either side is "not
    equal" and routes to the update/new-version branch.

Scale notes (100 TB design): the target is shuffled once, hash-partitioned
on the merge keys, for the per-key profile aggregate; the (typically small)
batch is broadcast into both the classify join and the apply join, so the
target is never shuffled twice. Partial aggregation (map-side combine)
applies to the profile; counters are a tiny groupBy over the batch only.
No window over the whole target, no driver-side loops, no collect.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from typing import Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

# Classification outcomes, in the reference's branch order.
ACTIONS = ("insert", "noop", "update", "reactivate", "new_version", "error")


@dataclass
class MergeResult:
    """Outputs of one merge batch."""

    target: DataFrame  # new target snapshot (history + current rows)
    actions: DataFrame  # batch rows + 'action' column (audit / quarantine)
    counters: DataFrame  # one row: (table_name, no_update_count, update_count,
    #                     new_inserts_count, batch_id, created_at)
    changed: DataFrame | None = None  # ONLY the rows this batch wrote
    # (touched existing rows post-update + inserts) -- what an incremental
    # sink persists as a delta instead of rewriting the full snapshot
    counters_row: Row | None = None  # `counters` collected, set by callers
    # that collect it anyway (IncrementalTable.merge_batch, the pipeline)


def _eq(a: Column, b: Column) -> Column:
    """Strict SQL equality as the reference's IF uses it: NULL -> not equal."""
    return (a == b).isNotNull() & (a == b)


def classify(
    target: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    compare_col: str,
    scd: bool = True,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Join the batch against a per-key profile of the target and classify.

    Returns the batch columns plus 'action'. With ``scd=False`` (the
    exchange-rates variant, sql:188-248) only insert/update/noop occur and
    the active flag is ignored.
    """
    v = F.col(compare_col)
    # 100 TB plan: the profile aggregate only matters for keys present in the
    # (small) batch, so semi-join-reduce the target first with a broadcast
    # semi join -- the huge target is never shuffled in full; the groupBy
    # runs over ~|batch| matching rows. For batch ~ target size, pass
    # broadcast_batch=False and the semi join falls back to a shuffled one.
    batch_keys = batch.select(*keys).distinct()
    if broadcast_batch:
        batch_keys = F.broadcast(batch_keys)
    target = target.join(batch_keys, on=list(keys), how="left_semi")
    if scd:
        profile = target.groupBy(*keys).agg(
            F.count(F.when(F.col("active"), 1)).alias("_n_active"),
            F.count(F.when(~F.col("active"), 1)).alias("_n_inactive"),
            F.max(F.when(F.col("active"), v)).alias("_active_value"),
            F.max(F.when(~F.col("active"), v)).alias("_inactive_value"),
        )
    else:
        profile = target.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("_n_active"),
            F.lit(0).alias("_n_inactive"),
            F.max(v).alias("_active_value"),
            F.lit(None).cast(target.schema[compare_col].dataType).alias("_inactive_value"),
        )

    joined = batch.join(profile, on=list(keys), how="left")

    # First-match-wins, mirroring the plpgsql IF/ELSIF ladder.
    action = (
        F.when(F.col("_n_active").isNull(), F.lit("insert"))
        .when(F.col("_n_active") > 1, F.lit("error"))
        .when(
            (F.col("_n_active") == 1) & _eq(v, F.col("_active_value")), F.lit("noop")
        )
        .when(F.col("_n_active") == 1, F.lit("update"))
        .when(F.col("_n_inactive") > 1, F.lit("error"))
        .when(_eq(v, F.col("_inactive_value")), F.lit("reactivate"))
        .otherwise(F.lit("new_version"))
    )
    return joined.withColumn("action", action).drop(
        "_n_active", "_n_inactive", "_active_value", "_inactive_value"
    )


def merge_scd(
    target: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    compare_col: str,
    set_cols: Sequence[str],
    batch_id: str,
    table_name: str,
    id_col: str = "world_bank_id",
    now: datetime | None = None,
    scd: bool = True,
    broadcast_batch: bool = True,
    materialize_actions: bool = False,
    max_id: int | None = None,
    target_partitions: int | None = None,
) -> MergeResult:
    """Apply one incoming batch to the SCD target, set-based.

    ``set_cols`` are the non-key payload columns copied from the batch on
    update/insert (e.g. ['market_cap_usd', 'last_modified_date']).
    ``now`` is injectable for deterministic tests; defaults to Spark's
    current_timestamp() at execution.

    With ``scd=False`` the 3-way exchange-rates semantics apply on the flat
    key (insert/update/noop; no active flag on the target schema).

    ``max_id``: highest surrogate id already present in the target, when
    the caller tracks it (IncrementalTable's manifest does). Passing it
    skips the max-aggregation scan of the full target -- at 100 TB that
    scan is an entire extra pass per batch. ``None`` falls back to
    computing it.

    ``target_partitions``: when the target is stored hash-partitioned on
    the keys (a bucketed base), pass its bucket count and set
    ``broadcast_batch=False``: the batch is repartitioned ONCE to that
    layout on entry, and every downstream step -- the dedup groupBy, the
    classify semi join + profile aggregate, and the apply join -- reuses
    the co-partitioning, so the (huge) target side is never exchanged.
    Without it, batch-side aggregates land at spark.sql.shuffle.partitions
    and EnsureRequirements re-shuffles the bucketed side to match.

    ``materialize_actions=True`` eagerly localCheckpoints the classified
    batch ONCE; the returned actions/counters AND the apply/insert plans all
    derive from that checkpoint, so (a) the classify join never re-executes
    across the several downstream actions, and (b) actions/counters stay
    valid after the caller swaps or compacts the target's files out from
    under the original lineage. Sinks that overwrite the target should set
    this (pipeline snapshot mode, IncrementalTable).
    """
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    keys = list(keys)

    # Guard: duplicate keys within one batch would fan out the apply join
    # and duplicate target rows. The reference's per-row loop gives
    # last-write-wins-ish sequential semantics; here duplicates are deduped
    # deterministically (max over the payload struct). Real feeds (scraped
    # tables, CDC snapshots) have unique keys; divergence documented.
    payload = [c for c in batch.columns if c not in keys]
    if target_partitions is not None:
        batch = batch.repartition(target_partitions, *keys)
    # _dup_n rides along so counters can report RAW incoming rows (pre-dedup)
    # without a second pass over the batch
    batch = (
        batch.groupBy(*keys).agg(
            F.max(F.struct(*payload)).alias("_p"),
            F.count(F.lit(1)).alias("_dup_n"),
        ).select(*keys, *[F.col(f"_p.{c}").alias(c) for c in payload], "_dup_n")
    )

    actions = classify(
        target, batch, keys, compare_col, scd=scd, broadcast_batch=broadcast_batch
    )
    if materialize_actions:
        actions = actions.localCheckpoint(eager=True)
    batch_payload = [c for c in batch.columns if c not in keys and c != "_dup_n"]

    # --- apply to existing target rows (one left join target <- batch) ------
    act = F.broadcast(actions) if broadcast_batch else actions
    t = target.join(
        act.select(*keys, "action", *[F.col(c).alias(f"_b_{c}") for c in batch_payload]),
        on=keys,
        how="left",
    )

    if scd:
        is_update = (F.col("action") == "update") & F.col("active")
        is_react = (F.col("action") == "reactivate") & ~F.col("active")
        touched = is_update | is_react
        # mark BEFORE the transforms: `touched` reads the pre-update
        # `active` flag, which the reactivate transform overwrites below
        t = t.withColumn("_touched", touched)
        updated = (
            t.withColumn(
                compare_col,
                F.when(is_update, F.col(f"_b_{compare_col}")).otherwise(F.col(compare_col)),
            )
            .withColumns(
                {
                    c: F.when(touched, F.col(f"_b_{c}")).otherwise(F.col(c))
                    for c in set_cols
                    if c != compare_col and f"_b_{c}" in t.columns
                }
            )
            .withColumn("batch_id", F.when(touched, F.lit(batch_id)).otherwise(F.col("batch_id")))
            .withColumn("updated_at", F.when(touched, now_col).otherwise(F.col("updated_at")))
            .withColumn("active", F.when(is_react, F.lit(True)).otherwise(F.col("active")))
        )
        insert_actions = ("insert", "new_version")
    else:
        is_update = F.col("action") == "update"
        t = t.withColumn("_touched", is_update)
        updated = (
            t.withColumn(
                compare_col,
                F.when(is_update, F.col(f"_b_{compare_col}")).otherwise(F.col(compare_col)),
            )
            .withColumns(
                {
                    c: F.when(is_update, F.col(f"_b_{c}")).otherwise(F.col(c))
                    for c in set_cols
                    if c != compare_col and f"_b_{c}" in t.columns
                }
            )
            .withColumn(
                "batch_id", F.when(is_update, F.lit(batch_id)).otherwise(F.col("batch_id"))
            )
            .withColumn("updated_at", F.when(is_update, now_col).otherwise(F.col("updated_at")))
        )
        insert_actions = ("insert",)

    changed_existing = updated.filter(F.col("_touched")).select(*target.columns)
    updated = updated.select(*target.columns)

    # --- inserted rows -------------------------------------------------------
    # Surrogate ids: monotonically_increasing_id is fully parallel (no global
    # window/shuffle -- the 100 TB answer); offset past the current max so ids
    # never collide. Non-contiguous by design; the reference's SERIAL
    # contiguity is not load-bearing (SURVEY §1.2 P13).
    if max_id is None:
        max_id = (target.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m"))).collect()[0]["m"]
    inserts = (
        actions.filter(F.col("action").isin(*insert_actions))
        .withColumn(id_col, F.monotonically_increasing_id() + F.lit(max_id + 1))
        .withColumn("created_at", now_col)
        .withColumn("updated_at", F.lit(None).cast("timestamp"))
        .withColumn("batch_id", F.lit(batch_id))
    )
    if scd:
        inserts = inserts.withColumn("active", F.lit(True))
    inserts = inserts.select(*target.columns)

    new_target = updated.unionByName(inserts)

    # --- counters: mutable cells -> one aggregate row (SURVEY §2.4) ----------
    # coalesce: an empty batch still yields one zeroed counter row, like the
    # reference's initialize_log_counts (ipynb:191-195)
    def _count_action(action: str):
        return F.coalesce(
            F.sum(F.when(F.col("action") == action, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    counters = actions.agg(
        F.lit(table_name).alias("table_name"),
        _count_action("noop").alias("no_update_count"),
        _count_action("update").alias("update_count"),
        _count_action("insert").alias("new_inserts_count"),
        F.lit(batch_id).alias("batch_id"),
        now_col.alias("created_at"),
        # total RAW incoming rows (pre-dedup, summed from _dup_n), piggybacked
        # so callers don't need a separate count job (the driver row-count
        # gate A7); strip before persisting
        F.coalesce(F.sum("_dup_n"), F.lit(0)).cast("long").alias("_batch_rows"),
        # rows minted under fresh ids (insert + new_version): how much the
        # target's live row count grows -- an incremental sink's manifest
        # row count advances by it; strip before persisting
        F.coalesce(
            F.sum(F.col("action").isin(*insert_actions).cast("long")), F.lit(0)
        ).alias("_new_rows"),
    )

    return MergeResult(
        target=new_target,
        actions=actions.drop("_dup_n"),
        counters=counters,
        changed=changed_existing.unionByName(inserts),
    )


def _stale_pred(batch_id: str, today: Column) -> Column:
    """`etl.deactivate_bank_records` predicate (sql:129-135): active rows
    not touched by this batch, updated before today (same-day grace), and
    never rows with updated_at IS NULL (fresh-insert exemption quirk)."""
    return (
        (F.col("batch_id") != F.lit(batch_id))
        & F.col("active")
        & F.col("updated_at").isNotNull()
        & (F.col("updated_at") < today)
    )


def deactivate_stale(
    target: DataFrame,
    batch_id: str,
    now: datetime | None = None,
) -> DataFrame:
    """Soft-delete pass, `etl.deactivate_bank_records` (sql:126-140).

    Deactivates active rows not touched by this batch whose updated_at is
    non-NULL and strictly before today (same-day grace via the
    CURRENT_DATE comparison). Fresh inserts (updated_at IS NULL) are
    exempt -- the reference quirk, preserved.
    """
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    today = F.to_date(now_col)
    # Materialize the predicate once: withColumn expressions re-resolve
    # against the running dataframe, so testing updated_at AFTER stamping it
    # would silently un-flag the row.
    return (
        target.withColumn("_stale", _stale_pred(batch_id, today))
        .withColumn(
            "updated_at", F.when(F.col("_stale"), now_col).otherwise(F.col("updated_at"))
        )
        .withColumn("active", F.when(F.col("_stale"), F.lit(False)).otherwise(F.col("active")))
        .drop("_stale")
    )


def deactivated_rows(
    target: DataFrame,
    batch_id: str,
    now: datetime | None = None,
) -> DataFrame:
    """ONLY the rows `deactivate_stale` would flip, post-flip -- the
    deactivation delta for incremental sinks. Disjoint from a merge's
    `changed` rows by construction: everything the batch touched carries
    the current batch_id, which the stale predicate excludes."""
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    today = F.to_date(now_col)
    return (
        target.filter(_stale_pred(batch_id, today))
        .withColumn("updated_at", now_col)
        .withColumn("active", F.lit(False))
    )


def summarize(counters_row: dict, total_records: int) -> list[str]:
    """Summary notice lines, `..._summary` procedures (sql:147-177,255-286).

    The reference's RAISE NOTICE lines become returned strings the caller
    logs and appends to process_logs; the counter 'reset' step disappears
    because counters are immutable per-batch aggregate rows here.
    """
    return [
        f"Number of new records inserted: {counters_row['new_inserts_count']}/{total_records}",
        f"Number of records updated:  {counters_row['update_count']}/{total_records}",
        f"Number of records with no updates needed:  {counters_row['no_update_count']}/{total_records}",
    ]


def with_validity_intervals(
    history: DataFrame,
    keys: list[str],
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Intervalize a version history: per entity (``keys``), each version
    row gains ``valid_from`` (its own timestamp), ``valid_to`` (the next
    version's timestamp; NULL = still current) and ``is_current`` --
    upgrading an active-flag history like the reference's
    ``world_bank_data`` (history = inactive rows, no validity bounds,
    SQL/etl_world_banks.sql:72-91) into a proper SCD-Type-2 table that
    answers point-in-time questions with a range predicate instead of a
    version scan.

    One window pass per entity partition ordered by (ts, tiebreak) --
    pass ``tiebreak_col`` when timestamps can collide so lead() is
    deterministic. Pair with a ``valid_from <= t AND (valid_to > t OR
    valid_to IS NULL)`` filter for as-of reads; that predicate pushes
    into the scan.
    """
    from pyspark.sql import Window as W

    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        history.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
