"""Incremental snapshot table: per-batch delta files + compaction.

The plain `sinks.write_snapshot` path rewrites the FULL target parquet on
every batch -- O(|target|) write amplification per merge, which is the one
part of the reference-shaped pipeline that cannot hold at 100 TB (the
reference itself mutates rows in place in Postgres and has no equivalent
cost: SQL/etl_world_banks.sql:42-56). This module trades it for the
delta-log layout every transactional table format (Delta Lake, Iceberg,
Hudi's COW/MOR split) converges on:

    table/
      _manifest.json     {"seq": N, "base": "base-<k>", "deltas": [...],
                          "max_id": <id high-water mark>, "rows": <live rows>}
      base-<k>/          compacted parquet snapshot (bulk of the data)
      delta-<seq>/       parquet: ONLY the rows batch <seq> wrote

* **Write path is O(|batch|)**: a merge persists `MergeResult.changed`
  (touched rows + inserts) plus `deactivated_rows` -- never the full
  snapshot. The manifest swap (tmp + rename) is the atomic commit point,
  same reader guarantee as `write_snapshot`'s directory swap.
* **Read path is one scan, no shuffle of the base**: current state =
  base rows whose surrogate id has no delta successor (broadcast
  LEFT ANTI against the small union of delta ids) UNION the latest delta
  row per id (window over delta rows only -- bounded by batches *
  batch size, not by |target|).
* **Metadata answers the bookkeeping reads**: the plain layout scans with
  the declared schema pinned (no schema-inference job per file set);
  ``write_delta`` takes the new delta's max id from its parquet footers;
  and the manifest's ``rows`` keeps the exact live row count (a merge
  adds its new-id rows, compaction carries it over), so ``row_count``
  submits no Spark job. ``rows`` is ``None`` when unknown -- after a
  ``delete_keys``, a bare ``write_delta``, or on manifests that predate
  it -- and ``row_count`` then counts the resolved read instead; the next
  full compaction re-seeds it from the new base's footers.
* **Compaction amortizes**: after `compact_after` deltas, the resolved
  state is rewritten as a new base and the delta list resets -- the
  O(|target|) cost is paid once per `compact_after` batches instead of
  every batch.
* **Partition pruning** (``partition_by``): base and delta files are laid
  out Hive-style under <col>=<value>/ directories, and every delta commit
  records the delta's [min, max] of the partition column in the manifest.
  `read(..., partition_range=(lo, hi))` then (a) SKIPS whole delta file
  sets whose recorded range cannot intersect -- manifest-level file
  skipping, no listing, no footer reads -- and (b) pushes the range
  predicate into the base scan, where Catalyst turns it into directory-
  level PartitionFilters. At 100 TB with date-partitioned facts this is
  the difference between scanning a day and scanning the table.

Row identity is the surrogate id column: every mutation the SCD merge
produces (update, reactivate, deactivate) rewrites the FULL row under its
existing id, and history rows are never deleted, so no tombstone channel
is needed -- last-writer-wins per id fully resolves the state.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..committer import Token, commit_json, load_json
from ..operators import merge as merge_ops
from . import sinks

_MANIFEST = "_manifest.json"


@dataclass
class IncrementalTable:
    """A parquet table maintained as base + delta files (see module doc).

    ``bucket_by`` (usually the merge keys) makes compaction write the base
    as an EXTERNAL BUCKETED table (files under ``path``, bucket metadata in
    the session catalog, lazily re-registered in new sessions). Whenever the
    delta list is empty -- i.e. right after each compaction -- ``read``
    returns a pure bucketed scan, so a big-batch merge (broadcast_batch=
    False) runs its semi-join reduction, profile aggregate, and apply join
    WITHOUT exchanging the target: the only shuffle is the small batch
    hashing into the bucket layout. With pending deltas the resolved view is
    a union (Catalyst drops partitioning info across unions), so the
    co-location win applies to the compacted fraction of the cycle --
    ``compact_after=1`` buys it for every batch at the price of a full
    rewrite per batch (= bucketed snapshot mode; the knob is the honest
    write-amplification / shuffle-avoidance trade).

    ``partition_by`` (mutually exclusive with ``bucket_by``) lays base and
    delta files out Hive-style on one column and enables
    ``read(partition_range=...)`` pruning (module doc). SOUNDNESS
    REQUIREMENT: the partition column must be version-stable per id --
    every rewrite of a row (update/reactivate/deactivate) must keep its
    partition value, which holds automatically when the column is one of
    the merge keys (e.g. `year`) or an event date. If an out-of-range
    delta could supersede an in-range base row, skipping it would
    resurrect the stale row; stability is what makes the skip exact.

    ``evolve_schema=True`` (plain layout only) lets a delta ADD columns:
    every union in the resolve/change-feed path aligns by name and fills
    missing columns with NULL, and the next compaction bakes the evolved
    column set into the base files. Pre-evolution versions keep their
    original column set under time travel (each manifest's file sets
    carry their own schema). The bucketed and partitioned layouts refuse
    the flag: their catalog DDL / declared-schema re-projection pin the
    column set at declaration time."""

    path: str
    id_col: str
    compact_after: int = 8
    broadcast_deltas: bool = True
    bucket_by: Sequence[str] | None = None
    n_buckets: int = 16
    partition_by: str | None = None
    evolve_schema: bool = False

    def __post_init__(self) -> None:
        if self.partition_by and self.bucket_by:
            raise ValueError(
                "partition_by and bucket_by are mutually exclusive: a "
                "partitioned base is read through parquet directory "
                "discovery, which cannot carry the catalog bucket spec"
            )
        if self.evolve_schema and (self.partition_by or self.bucket_by):
            raise ValueError(
                "evolve_schema requires the plain layout: the bucketed "
                "base's catalog DDL and the partitioned layout's "
                "declared-schema re-projection both pin the column set "
                "at table-declaration time"
            )

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _load_manifest_state(self) -> tuple[dict, Token]:
        """Manifest plus the CAS token of the bytes it was parsed from;
        every write path loads through here and commits with the token,
        so a concurrent writer raises ``ConcurrentCommitError`` instead
        of silently dropping this writer's version (single-writer
        contract, enforced -- committer module docstring)."""
        m, tok = load_json(self._manifest_path())
        if m is None:
            return {"seq": 0, "base": None, "deltas": [], "rows": 0}, tok
        return m, tok

    def _load_manifest(self) -> dict:
        return self._load_manifest_state()[0]

    def _commit_manifest(self, m: dict, expect: Token | None = None) -> None:
        """Atomic commit point through the :mod:`..committer` seam:
        readers see the old or the new file set, never a mix. Pass the
        token from :meth:`_load_manifest_state` as ``expect`` to make
        the read-modify-write a compare-and-swap. Every committed
        version is also retained as _manifest-<seq>.json, which is what
        makes `read_at` (time travel) possible."""
        commit_json(self._manifest_path(), m, expect=expect)
        # the per-version snapshot is write-once at a fresh seq-named
        # path (no reader resolves through it until read_at names it),
        # so an unguarded publish is safe
        commit_json(
            os.path.join(self.path, f"_manifest-{m['seq']:06d}.json"), m
        )

    # --- read -----------------------------------------------------------

    def read_at(self, spark: SparkSession, schema, seq: int) -> DataFrame:
        """Time travel: the table exactly as of committed version ``seq``
        (each write_delta/compact commit is one version). Valid as long as
        the version's files haven't been vacuumed; raises FileNotFoundError
        with the missing piece otherwise."""
        m, _tok = load_json(
            os.path.join(self.path, f"_manifest-{seq:06d}.json")
        )
        if m is None:
            raise FileNotFoundError(f"no committed version {seq} at {self.path}")
        for d in ([m["base"]] if m["base"] else []) + m["deltas"]:
            if not os.path.exists(os.path.join(self.path, d)):
                raise FileNotFoundError(
                    f"version {seq} references vacuumed file set member {d}"
                )
        return self._resolve(spark, schema, m)

    def read(
        self,
        spark: SparkSession,
        schema,
        partition_range: tuple | None = None,
    ) -> DataFrame:
        """Resolved current state (base minus superseded ids, plus the
        latest delta row per id).

        ``partition_range=(lo, hi)`` (inclusive; requires ``partition_by``)
        returns only rows with lo <= partition_by <= hi, skipping delta
        file sets straight from manifest stats and partition-pruning the
        base scan (module doc)."""
        return self._resolve(
            spark, schema, self._load_manifest(), partition_range=partition_range
        )

    def row_count(self, spark: SparkSession, schema) -> int:
        """Exact number of rows ``read`` returns. From the manifest's
        ``rows`` when it is known (no Spark job); otherwise counted from
        the resolved read."""
        m = self._load_manifest()
        if m.get("rows") is not None:
            return m["rows"]
        return self._resolve(spark, schema, m).count()

    def _table_name(self, seq: int) -> str:
        digest = hashlib.md5(os.path.abspath(self.path).encode()).hexdigest()[:10]
        return f"incr_{digest}_{seq:06d}"

    def _base_table(self, spark: SparkSession, schema, m: dict) -> DataFrame:
        """Catalog-backed bucketed base. The in-memory catalog is
        session-scoped, so a fresh session re-registers the external table
        from the manifest's bucket metadata before reading -- the files
        (written by saveAsTable) carry bucket ids in their names, which is
        what makes the re-registered table's bucketed scan valid."""
        name = m["base_table"]
        if not spark.catalog.tableExists(name):
            ddl = spark.createDataFrame([], schema)._jdf.schema().toDDL()
            cols = ", ".join(f"`{c}`" for c in m["bucket_by"])
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
                f"INTO {m['n_buckets']} BUCKETS "
                f"LOCATION '{os.path.join(self.path, m['base'])}'"
            )
        return spark.table(name)

    @staticmethod
    def _stat(v):
        """Manifest-serializable stat value; str() for dates/timestamps
        (ISO text orders correctly), raw for JSON-native numerics."""
        return v if isinstance(v, (int, float)) else str(v)

    def _range_hits(self, m: dict, delta: str, lo, hi) -> bool:
        """Can delta's recorded [min, max] intersect [lo, hi]?"""
        st = (m.get("delta_stats") or {}).get(delta)
        if st is None:
            return True  # pre-feature commit, no stats: conservative include
        if st["min"] is None:
            return False  # empty delta
        return st["min"] <= self._stat(hi) and st["max"] >= self._stat(lo)

    def _read_files(self, spark: SparkSession, schema, name: str) -> DataFrame:
        """One file-set member. The plain layout pins the declared schema,
        which spares the schema-inference job a bare parquet read submits.
        ``evolve_schema`` infers: a delta may carry columns the declared
        schema lacks. Partitioned layouts move the partition column to
        the end and re-infer its type from directory names; re-project to
        the declared schema so unions and callers see one shape."""
        path = os.path.join(self.path, name)
        if self.partition_by:
            return spark.read.parquet(path).select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        if self.evolve_schema:
            return spark.read.parquet(path)
        return spark.read.schema(schema).parquet(path)

    def _resolve(
        self, spark: SparkSession, schema, m: dict, partition_range: tuple | None = None
    ) -> DataFrame:
        if partition_range is not None and not self.partition_by:
            raise ValueError("partition_range requires partition_by")
        if m.get("base_table"):
            base = self._base_table(spark, schema, m)
        elif m["base"]:
            base = self._read_files(spark, schema, m["base"])
        else:
            base = spark.createDataFrame([], schema)
        live_deltas = m["deltas"]
        if partition_range is not None:
            lo, hi = partition_range
            # predicate on the base reaches the scan as PartitionFilters
            # (directory-level pruning); manifest stats skip whole deltas
            # without touching the filesystem
            base = base.filter(F.col(self.partition_by).between(F.lit(lo), F.lit(hi)))
            live_deltas = [d for d in live_deltas if self._range_hits(m, d, lo, hi)]
        if not live_deltas:
            return base
        kinds = m.get("delta_kinds", {})
        deltas = None
        for i, d in enumerate(live_deltas):
            df = (
                self._read_files(spark, schema, d)
                .withColumn("_seq", F.lit(i))
                .withColumn("_del", F.lit(kinds.get(d) == "delete"))
            )
            deltas = (
                df
                if deltas is None
                else deltas.unionByName(
                    df, allowMissingColumns=self.evolve_schema
                )
            )
        if partition_range is not None:
            # a surviving delta may still hold out-of-range rows. Delete
            # tombstones are EXEMPT from the range filter: their partition
            # value may be null (unknown at delete time), and dropping them
            # here would resurrect the deleted id inside the range.
            deltas = deltas.filter(
                F.col(self.partition_by).between(
                    F.lit(partition_range[0]), F.lit(partition_range[1])
                )
                | F.col("_del")
            )
        w = W.partitionBy(self.id_col).orderBy(F.desc("_seq"))
        latest = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_seq")
        )
        # the delta union is bounded by compact_after * |batch| rows --
        # broadcast it so the (huge) base is scanned without a shuffle.
        # Every touched id -- upserted OR deleted -- leaves the base; only
        # rows whose LATEST action is an upsert re-enter from the deltas,
        # so a delete followed by a later upsert re-inserts and a trailing
        # delete wins (merge-on-read delete, the Delta/Iceberg MoR shape).
        ids = latest.select(self.id_col)
        if self.broadcast_deltas:
            ids = F.broadcast(ids)
        survivors = base.join(ids, on=self.id_col, how="left_anti")
        return survivors.unionByName(
            latest.filter(~F.col("_del")).drop("_del"),
            allowMissingColumns=self.evolve_schema,
        )

    # --- write ----------------------------------------------------------

    def write_delta(
        self, changed: DataFrame, target_files: int = 4, new_rows: int | None = None
    ) -> None:
        """Persist one batch's changed rows; O(|changed|), not O(|target|).

        Also advances the manifest's ``max_id`` high-water mark, so the
        NEXT merge_batch can skip the full-target max-id pass entirely.
        The plain layout takes the delta's max id from its parquet footers
        (exact for integer ids, no Spark job); partitioned layouts, and
        files without usable stats, aggregate over the small delta files,
        which also yields a partitioned delta's pruning range.

        ``new_rows`` is how many of ``changed``'s rows carry ids the table
        has not seen (the rest rewrite live ids); it advances the
        manifest's live row count. ``None`` (unknown) leaves the count
        unknown until the next full compaction.
        """
        m, tok = self._load_manifest_state()
        seq = m["seq"] + 1
        name = f"delta-{seq:06d}"
        path = os.path.join(self.path, name)
        writer = changed.coalesce(target_files).write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(self.partition_by)
        writer.parquet(path)
        delta_max = None if self.partition_by else sinks.snapshot_column_max(path, self.id_col)
        if delta_max is None:
            aggs = [F.coalesce(F.max(self.id_col), F.lit(0)).alias("m")]
            if self.partition_by:
                aggs += [
                    F.min(self.partition_by).alias("plo"),
                    F.max(self.partition_by).alias("phi"),
                ]
            stats = changed.sparkSession.read.parquet(path).agg(*aggs).collect()[0]
            delta_max = stats["m"]
        m["seq"] = seq
        m["deltas"].append(name)
        m["max_id"] = max(m.get("max_id") or 0, int(delta_max))
        m["rows"] = (
            None if new_rows is None or m.get("rows") is None else m["rows"] + new_rows
        )
        if self.partition_by:
            # one [min, max] per delta: the whole pruning index is O(deltas)
            # manifest entries -- no file listing at read time
            m.setdefault("delta_stats", {})[name] = {
                "min": None if stats["plo"] is None else self._stat(stats["plo"]),
                "max": None if stats["phi"] is None else self._stat(stats["phi"]),
            }
        self._commit_manifest(m, expect=tok)

    def delete_keys(
        self, spark: SparkSession, schema, ids: DataFrame, target_files: int = 1
    ) -> None:
        """Hard-delete by id (right-to-be-forgotten at scale): write an
        O(|ids|) tombstone file set; the rows disappear from every
        subsequent ``read`` (merge-on-read) and physically at the next
        ``compact`` -- never an O(|target|) rewrite at delete time.
        ``vacuum`` after a post-delete compact also truncates time travel,
        which is what an actual erasure obligation requires.

        ``ids`` needs the ``id_col`` column; include ``partition_by``
        values too (when configured) to keep range-read pruning stats for
        the tombstone set -- without them the set is conservatively read
        by every range query (correct, just unprunable). A delete followed
        by a later upsert of the same id re-inserts it; a trailing delete
        wins.
        """
        m, tok = self._load_manifest_state()
        seq = m["seq"] + 1
        name = f"delta-{seq:06d}"
        path = os.path.join(self.path, name)
        have = set(ids.columns)
        rows = ids.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        # tombstones are written UNPARTITIONED even on partitioned tables:
        # null partition values would land in the Hive default-partition
        # directory; _read_files re-projects to the declared schema anyway
        rows.coalesce(target_files).write.mode("overwrite").parquet(path)
        m["seq"] = seq
        m["deltas"].append(name)
        m.setdefault("delta_kinds", {})[name] = "delete"
        # how many of the ids were live is unknown without a scan
        m["rows"] = None
        if self.partition_by and self.partition_by in have:
            stats = spark.read.parquet(path).agg(
                F.min(self.partition_by).alias("plo"),
                F.max(self.partition_by).alias("phi"),
                F.sum(
                    F.col(self.partition_by).isNull().cast("long")
                ).alias("nulls"),
            ).collect()[0]
            # record pruning stats ONLY when every tombstone carries a
            # partition value: min/max over a mixed batch would let
            # _range_hits prune the whole delta for out-of-range reads and
            # silently resurrect the null-partition deletes (null rows are
            # partition-exempt in _resolve, but only if the delta is read
            # at all). A stats-less delete delta is conservatively read by
            # every range query -- correct, just unprunable.
            if stats["plo"] is not None and not stats["nulls"]:
                m.setdefault("delta_stats", {})[name] = {
                    "min": self._stat(stats["plo"]),
                    "max": self._stat(stats["phi"]),
                }
        self._commit_manifest(m, expect=tok)

    def compact(
        self,
        spark: SparkSession,
        schema,
        target_files: int = 8,
        upto: int | None = None,
    ) -> None:
        """Fold deltas into a new base. Superseded files stay on disk so
        time travel keeps working; reclaim them with `vacuum`.

        ``upto=m`` folds only the OLDEST m deltas (partial / size-tiered
        compaction): the base rewrite amortizes over the folded batches
        while later deltas -- which still supersede by seq order --
        remain pending, so a hot table can bound write amplification
        instead of re-paying the full-base rewrite every cycle. Folding
        a prefix is exact because resolution is latest-seq-wins: any id
        rewritten by BOTH a folded and a pending delta resolves to the
        pending version either way (equivalence pinned by test).
        Partial compaction keeps the un-folded deltas' kinds and
        pruning stats; read() semantics are unchanged.
        """
        m, tok = self._load_manifest_state()
        if not m["deltas"]:
            return
        n_fold = len(m["deltas"]) if upto is None else min(upto, len(m["deltas"]))
        if n_fold <= 0:
            return
        folded, remaining = m["deltas"][:n_fold], m["deltas"][n_fold:]
        fold_view = dict(m, deltas=folded)
        resolved = self._resolve(spark, schema, fold_view)
        seq = m["seq"] + 1
        new_base = f"base-{seq:06d}"
        commit = {
            "seq": seq,
            "base": new_base,
            "deltas": remaining,
            "max_id": m.get("max_id"),
            "rows": m.get("rows"),
        }
        if remaining:
            kinds = m.get("delta_kinds", {})
            stats = m.get("delta_stats", {})
            kept_kinds = {d: kinds[d] for d in remaining if d in kinds}
            kept_stats = {d: stats[d] for d in remaining if d in stats}
            if kept_kinds:
                commit["delta_kinds"] = kept_kinds
            if kept_stats:
                commit["delta_stats"] = kept_stats
        # compaction mints no new ids and keeps the live row set: the
        # high-water mark and the row count carry over
        if self.bucket_by:
            name = self._table_name(seq)
            bucket_cols = list(self.bucket_by)
            # repartition on the bucket cols first: otherwise every write
            # task emits up to n_buckets files (task-count x buckets file
            # explosion); this way each bucket is exactly one file
            (
                resolved.repartition(self.n_buckets, *bucket_cols)
                .write.mode("overwrite")
                .bucketBy(self.n_buckets, *bucket_cols)
                .sortBy(*bucket_cols)
                .option("path", os.path.join(self.path, new_base))
                .saveAsTable(name)
            )
            commit |= {
                "base_table": name,
                "bucket_by": bucket_cols,
                "n_buckets": self.n_buckets,
            }
        elif self.partition_by:
            # co-locate each partition's rows before the write so each
            # Hive directory gets a bounded file count instead of
            # (tasks x partitions) fragments
            (
                resolved.repartition(target_files, self.partition_by)
                .write.mode("overwrite")
                .partitionBy(self.partition_by)
                .parquet(os.path.join(self.path, new_base))
            )
        else:
            resolved.coalesce(target_files).write.mode("overwrite").parquet(
                os.path.join(self.path, new_base)
            )
        if commit["rows"] is None and not remaining:
            # after a full fold the base IS the live state: seed the
            # count from its footers
            commit["rows"] = sinks.snapshot_row_count(os.path.join(self.path, new_base))
        self._commit_manifest(commit, expect=tok)

    def vacuum(self) -> None:
        """Delete file-set members and version manifests not referenced by
        the CURRENT manifest. Bounds storage; truncates time travel to the
        current version."""
        m = self._load_manifest()
        live = {m["base"]} if m["base"] else set()
        live |= set(m["deltas"])
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if os.path.isdir(full) and name not in live:
                shutil.rmtree(full, ignore_errors=True)
            elif (
                name.startswith("_manifest-")
                and name != f"_manifest-{m['seq']:06d}.json"
            ):
                os.remove(full)

    # --- the merge protocol --------------------------------------------

    def merge_batch(
        self,
        spark: SparkSession,
        schema,
        batch: DataFrame,
        keys: Sequence[str],
        compare_col: str,
        set_cols: Sequence[str],
        batch_id: str,
        table_name: str,
        now: datetime | None = None,
        scd: bool = True,
        deactivate: bool = True,
        retain_history: bool = False,
        broadcast_batch: bool = True,
    ) -> merge_ops.MergeResult:
        """read -> merge_scd -> (deactivate) -> write ONLY the delta.

        Returns the MergeResult (counters/actions still reflect the full
        reference semantics) with ``counters_row`` set -- the counters are
        collected once here, for the row-count gate and the manifest row
        count, and callers reuse that row instead of collecting again.
        Auto-compacts past ``compact_after`` deltas.
        ``retain_history=True`` skips the post-compaction vacuum so
        `read_at` can reach versions older than the last compaction.
        ``broadcast_batch=False`` is the big-batch path: the classify and
        apply joins become shuffle joins, which a bucketed base
        (``bucket_by``) serves without exchanging the target side.
        """
        m0 = self._load_manifest()
        prune_range = None
        if (
            self.partition_by
            and self.partition_by in keys
            and not (deactivate and scd)
            # without a manifest high-water mark merge_scd would derive
            # max_id from the (pruned!) target and mint colliding ids;
            # that only happens on pre-feature manifests with data
            and (m0.get("max_id") is not None or m0["base"] is None and not m0["deltas"])
        ):
            # The classify join only needs target rows that could share a
            # key with the batch. When the partition column IS a merge key,
            # every such row lies inside the batch's partition range, so
            # the target read prunes to it -- O(touched partitions) instead
            # of O(|target|) per merge (the late-arriving-updates CDC
            # shape). Unsound with the deactivation pass (stale keys live
            # outside the range), so that combination reads in full.
            lo_hi = batch.agg(
                F.min(self.partition_by).alias("lo"), F.max(self.partition_by).alias("hi")
            ).collect()[0]
            if lo_hi["lo"] is not None:
                prune_range = (lo_hi["lo"], lo_hi["hi"])
        target = self.read(spark, schema, partition_range=prune_range)
        # materialize_actions pins the classified batch BEFORE any
        # compaction deletes the pre-batch file set; actions/counters and
        # the write_delta plan all derive from the one checkpoint.
        # max_id from the manifest (tracked by write_delta) spares the
        # full-target max-id scan; None on first contact -> computed once.
        res = merge_ops.merge_scd(
            target,
            batch,
            keys=keys,
            compare_col=compare_col,
            set_cols=set_cols,
            batch_id=batch_id,
            table_name=table_name,
            id_col=self.id_col,
            now=now,
            scd=scd,
            materialize_actions=True,
            max_id=m0.get("max_id"),
            broadcast_batch=broadcast_batch,
            # big-batch path against a bucketed base: co-partition the batch
            # into the bucket layout so the base is never exchanged
            target_partitions=(
                self.n_buckets if self.bucket_by and not broadcast_batch else None
            ),
        )
        counters_row = res.counters.collect()[0]
        changed = res.changed
        # A7 row-count gate (ipynb:265-269): an empty batch skips the
        # deactivation pass, same as the snapshot-swap pipeline path
        if deactivate and scd and counters_row["_batch_rows"] > 0:
            # disjoint from `changed` (stale rows never carry this batch_id)
            changed = changed.unionByName(
                merge_ops.deactivated_rows(res.target, batch_id, now=now)
            )
        # only inserted rows take fresh ids; every other changed row
        # rewrites a live id, so the live row count grows by _new_rows
        self.write_delta(changed, new_rows=counters_row["_new_rows"])
        if len(self._load_manifest()["deltas"]) >= self.compact_after:
            self.compact(spark, schema)
            if not retain_history:
                self.vacuum()
        # hand back a target rooted at the committed file set, not the
        # (possibly compacted-away) pre-batch lineage
        return merge_ops.MergeResult(
            target=self.read(spark, schema),
            actions=res.actions,
            counters=res.counters,
            counters_row=counters_row,
        )


def _append_cdf_cols(df: DataFrame, kind: str, seq: int) -> DataFrame:
    return df.withColumn(
        "_change_type", F.lit("delete" if kind == "delete" else "upsert")
    ).withColumn("_commit_seq", F.lit(seq).cast("int"))


def _read_changes(
        self,
        spark: SparkSession,
        schema,
        since_seq: int,
        until_seq: int | None = None,
    ) -> DataFrame:
        """Change data feed: every row-level change committed AFTER version
        ``since_seq`` up to ``until_seq`` (default: current), tagged with
        ``_change_type`` ('upsert' = post-image of an insert/update/
        reactivate/deactivate, 'delete' = tombstone) and ``_commit_seq``.

        The downstream-incremental-consumer shape (Delta/Iceberg CDF): a
        dependent job checkpoints the last seq it processed and reads only
        O(|changes|) rows per sync -- never a snapshot diff, never a full
        scan. Compaction commits rewrite files, not rows, so they
        contribute nothing; ``vacuum`` truncates the feed (missing file
        sets raise FileNotFoundError naming the vacuumed member, loudly --
        a consumer that fell behind re-seeds from a snapshot instead of
        silently skipping changes).

        Cost: one manifest-json read per commit in the window (driver-side,
        O(commits), no listing) + a union of exactly the delta file sets in
        range -- each O(|that batch's changes|).
        """
        m = self._load_manifest()
        until = m["seq"] if until_seq is None else until_seq
        frames = []
        for s in range(since_seq + 1, until + 1):
            vm, _tok = load_json(
                os.path.join(self.path, f"_manifest-{s:06d}.json")
            )
            if vm is None:
                raise FileNotFoundError(
                    f"no committed version {s} at {self.path}"
                )
            name = f"delta-{s:06d}"
            if name not in vm["deltas"]:
                continue  # compaction/no-op commit: files moved, no rows changed
            if not os.path.exists(os.path.join(self.path, name)):
                raise FileNotFoundError(
                    f"change feed for version {s} references vacuumed file "
                    f"set member {name}; re-seed from a snapshot"
                )
            kind = vm.get("delta_kinds", {}).get(name, "upsert")
            frames.append(
                _append_cdf_cols(self._read_files(spark, schema, name), kind, s)
            )
        if not frames:
            return _append_cdf_cols(
                spark.createDataFrame([], schema), "upsert", 0
            ).limit(0)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=self.evolve_schema)
        return out


# public API; defined at module level only to keep the (long) dataclass body
# above focused on the storage protocol
IncrementalTable.read_changes = _read_changes
