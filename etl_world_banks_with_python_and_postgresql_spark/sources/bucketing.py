"""Bucketed tables: shuffle-free co-located joins.

``df.write.bucketBy(n, key)`` pre-hash-partitions data at rest so later
joins/aggregations on the bucket key skip their Exchange entirely -- the
standard answer for repeatedly-joined fact tables at 100 TB. Requires a
managed table (saveAsTable); bucket info lives in the catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (optionally sorted) managed table."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
