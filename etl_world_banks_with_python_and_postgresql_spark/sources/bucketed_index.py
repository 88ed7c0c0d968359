"""The at-rest index protocol shared by every bucketed index family.

An at-rest index is a directory of Hive-partitioned parquet plus one JSON
sidecar. The families -- minhash (``sets``, ``bands``) and winnow
(``fps``) in ``operators/dedup.py``, postings in ``operators/text.py``,
IVF and IVF-PQ in ``operators/similarity.py`` -- each supply only their
row function, their layout fields and their probe join; this module is
the only code that knows the protocol:

* **Sidecar.** ``<path>/<sidecar>`` holds the layout params (fixed at
  build) and the counting stats (``n_docs``, ...). Builds commit it
  unguarded (a build overwrites the whole index); everything else loads
  it through :func:`..committer.live_dir`, and a missing sidecar raises
  a ``FileNotFoundError`` naming the function that writes the index.
* **Crash order.** Data lands before the sidecar commit, and the
  subdirectories are written in their declared order:
  ``repartition(part).write.partitionBy(part)`` for a clustered layout
  (~1 file per bucket per batch, so appends keep file counts bounded),
  ``write.partitionBy(part)`` otherwise. A family orders its subdirs so
  that a crash between two writes leaves rows no probe can reach (the
  batch is "not yet indexed"), never probe-visible rows that a later
  subdir must complete. ``""`` names the index root (postings, IVF).
* **Lock modes.** Appends hold :func:`..committer.maintenance_lock`
  SHARED for their whole write + stats span, so appenders run in
  parallel; compaction and rebuild hold it EXCLUSIVE for their whole
  read -> rewrite -> swap -> commit span, so no appended part file can
  land between a rewrite's read and its swap. The lock lives beside the
  index root, never inside it: a root an interrupted rebuild swapped
  away must not be re-created empty by the next appender's lock.
* **CAS fold.** An append adds its counting delta to the sidecar with
  :func:`..committer.fold_stats`: a lost compare-and-swap re-adds the
  delta to the rival's stats, a changed layout field raises.
* **Swaps.** Compaction rewrites each subdir through
  :func:`..committer.replace_dir`. Readers resolve every directory and
  the sidecar with ``live_dir`` (a crash between the swap's renames
  leaves only ``.old``, which still holds the committed index);
  appenders roll an interrupted swap back with ``restore_dir`` before
  they load the sidecar or write.
* **Pruned read.** A probe collects the distinct partition values of
  its probe rows (``probed``: one bounded collect, at most
  ``n_buckets`` ints) and reads the live directory with a static
  ``isin`` filter, so the scan's PartitionFilters list only the probed
  buckets.
* **Release.** A probe that persists intermediate frames hands its
  result to :func:`release`, which checkpoints it and drops the caches.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..committer import (
    commit_json,
    fold_stats,
    live_dir,
    load_json,
    maintenance_lock,
    replace_dir,
    restore_dir,
)


@dataclass(frozen=True)
class BucketedIndex:
    """One at-rest index at ``path`` (protocol in the module docstring).

    ``subdirs`` are in crash order; the first one carries ``doc_id`` and
    sets ``n_docs`` on compaction. ``layout`` names the sidecar fields a
    rebuild may change and an append must not. ``clustered`` repartitions
    every write on ``part``."""

    path: str
    sidecar: str
    what: str
    writer: str
    subdirs: tuple[str, ...] = ("",)
    part: str = "bucket"
    layout: tuple[str, ...] = ()
    clustered: bool = True

    def dir(self, sub: str = "") -> str:
        return os.path.join(self.path, sub) if sub else self.path

    def load(self):
        """``(stats, token)`` of the committed sidecar."""
        stats, tok = load_json(os.path.join(live_dir(self.path), self.sidecar))
        if stats is None:
            raise FileNotFoundError(
                f"no {self.what} at {self.path}: build one with {self.writer}"
            )
        return stats, tok

    def write(self, frames: dict[str, DataFrame], mode: str, **options) -> None:
        """Write ``{subdir: rows}`` in the dict's (crash) order."""
        for sub, rows in frames.items():
            if self.clustered:
                rows = rows.repartition(F.col(self.part))
            rows.write.mode(mode).options(**options).partitionBy(
                self.part
            ).parquet(self.dir(sub))

    def commit(self, stats) -> None:
        """Publish a build's sidecar, after its data."""
        commit_json(os.path.join(self.path, self.sidecar), stats)

    @contextmanager
    def appending(self, retries: int = 0):
        """Shared-lock append span: yields ``(stats, delta)``; the body
        writes its rows and fills ``delta``, which is folded into the
        sidecar on a clean exit (a body that raises commits nothing)."""
        with maintenance_lock(self.path, exclusive=False):
            for sub in self.subdirs:
                restore_dir(self.dir(sub))
            stats, tok = self.load()
            delta: dict = {}
            yield stats, delta
            if delta:
                fold_stats(
                    os.path.join(self.path, self.sidecar), stats, tok, delta,
                    layout=self.layout, retries=retries, what=self.what,
                )

    @contextmanager
    def exclusive(self):
        """Exclusive-lock maintenance span: yields ``(stats, token)``
        loaded inside the lock, after every in-flight append drained."""
        with maintenance_lock(self.path, exclusive=True):
            yield self.load()

    def compact(self, spark) -> tuple[int, dict[str, int]]:
        """Distinct-dedup every subdir (crash order) and reset ``n_docs``
        to the first subdir's distinct doc ids. Probe answers cannot
        change: the removed rows are exact duplicates, which every probe
        already collapses. Returns ``(n_docs, {subdir: rows removed})``."""
        removed = {}
        with self.exclusive() as (stats, tok):
            for sub in self.subdirs:
                before = self.scan(spark, sub)
                n_before = before.count()
                first = sub == self.subdirs[0]

                def rewrite(staging):
                    before.distinct().repartition(F.col(self.part)).write.partitionBy(
                        self.part
                    ).parquet(staging)
                    after = spark.read.parquet(staging)
                    if first:
                        stats["n_docs"] = after.select("doc_id").distinct().count()
                    return after.count()

                removed[sub] = n_before - replace_dir(self.dir(sub), rewrite)
                # already-built plans pin their file lists; drop the
                # cached listing so later reads see the swapped files
                spark.catalog.refreshByPath(self.dir(sub))
            commit_json(os.path.join(self.path, self.sidecar), stats, expect=tok)
        return stats["n_docs"], removed

    def rebuild(self, spark, write):
        """Replace the whole index under the exclusive lock with what
        ``write(old, staging)`` builds at ``staging`` from ``old``, a
        lazy read of the committed root; returns ``write``'s result."""
        with self.exclusive():
            old = self.scan(spark)
            return replace_dir(self.path, lambda staging: write(old, staging))

    def scan(self, spark, sub: str = "") -> DataFrame:
        """The whole committed subdir."""
        return spark.read.parquet(live_dir(self.dir(sub)))

    def probed(self, rows: DataFrame) -> list:
        """The sorted distinct partition values ``rows`` hit."""
        return sorted(r[0] for r in rows.select(self.part).distinct().collect())

    def read(self, spark, values: list, sub: str = "") -> DataFrame:
        """The subdir pruned to the partition ``values``."""
        return self.scan(spark, sub).filter(F.col(self.part).isin(values))


def release(result: DataFrame, cached: list[DataFrame], unpersist_after: bool) -> DataFrame:
    """Release a probe's (or pair operator's) internal caches without
    breaking its result.

    With ``unpersist_after=True`` the result -- bounded by the duplicate
    count, never corpus-sized -- is materialized with an eager
    localCheckpoint, which cuts its lineage to the cached subplans, and
    the caches are dropped at once: repeated calls in a long-lived
    session leave no dead blocks behind. ``unpersist_after=False`` keeps
    the fully lazy plan (the registry queries use it so the plan lint
    sees the join strategy); the caller then owns the persisted frames
    for the life of the returned plan.
    """
    if not unpersist_after:
        return result
    out = result.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out
