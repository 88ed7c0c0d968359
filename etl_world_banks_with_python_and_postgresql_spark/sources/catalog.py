"""Parquet table catalog over the driver-generated TESTDATA directories.

Replaces the reference's `SELECT * FROM etl.<table>` scans
(`SQL/etl_world_banks_workings.sql:1-3`) with parquet scans that Catalyst
can prune and push filters into. Never infers schemas for the reference
tables; TESTDATA parquet carries its own footer schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_runtime_conf(spark: SparkSession) -> None:
    """Settings required for correctness regardless of who built the session
    (the verify driver constructs its own). All are runtime-settable SQL
    confs: UTC so timestamps compare bit-for-bit against the UTC-naive
    DuckDB oracle; nanosAsLong so the events table is readable at all."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def load(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one TESTDATA table. Parquet scan → pushdown + pruning for free."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; one of {TABLE_NAMES}")
    ensure_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # ts stored as nanos-since-epoch int64 (readable only under
            # spark.sql.legacy.parquet.nanosAsLong); truncate to micros with
            # INTEGER division -- a double division would lose precision
            # above 2^53.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # parquet timestamp[us] with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ; normalize to session-TZ TIMESTAMP (session TZ is
            # pinned to UTC above) so event-time windows, streaming
            # watermarks, and the DuckDB oracle all agree on the same type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        # already TimestampType: pass through untouched
    return df


def parquet_footer_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> dict[str, dict]:
    """MIN / MAX / COUNT per column from parquet FOOTERS only -- the scan
    reads statistics, not rows (Spark's parquet aggregate pushdown,
    `PushedAggregation` in the plan). On a 100 TB table this is the
    difference between a metadata pass and a full read for manifest /
    freshness / range-discovery checks (the incremental table's pruning
    stats and the range-export manifest are the in-repo consumers).

    Pushdown needs the v2 parquet source, which the engine does NOT use
    as its default (v2 lacks the bucketed-table support the incremental
    base relies on), so the v2 routing is scoped to this call and the
    previous setting is restored. Falls back transparently to a normal
    scan when pushdown cannot apply (filters, nested columns) -- results
    are identical either way, only the scan cost differs.
    """
    from pyspark.sql import functions as F

    conf_key = "spark.sql.sources.useV1SourceList"
    push_key = "spark.sql.parquet.aggregatePushdown"
    old_v1 = spark.conf.get(conf_key, None)
    old_push = spark.conf.get(push_key, None)
    spark.conf.set(conf_key, "")
    spark.conf.set(push_key, "true")
    try:
        aggs = []
        for c in cols:
            aggs += [
                F.min(c).alias(f"{c}__min"),
                F.max(c).alias(f"{c}__max"),
                F.count(c).alias(f"{c}__count"),
            ]
        # collect INSIDE the conf window: the plan binds its source on
        # execution, and the restored v1 default would kill the pushdown
        row = spark.read.parquet(path).agg(*aggs).collect()[0]
    finally:
        if old_v1 is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, old_v1)
        if old_push is None:
            spark.conf.unset(push_key)
        else:
            spark.conf.set(push_key, old_push)
    return {
        c: {
            "min": row[f"{c}__min"],
            "max": row[f"{c}__max"],
            "count": row[f"{c}__count"],
        }
        for c in cols
    }
