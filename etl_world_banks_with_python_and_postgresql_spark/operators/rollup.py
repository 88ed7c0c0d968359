"""Continuous aggregates: incrementally-maintained time-bucket rollups.

The 100 TB answer to "dashboard over an append-only event stream": never
re-aggregate history. Each ingested batch contributes one PARTIAL
aggregate (count/sum per bucket x keys -- mergeable state, a few rows),
appended O(|batch|-groups); reads merge partials with a second tiny
aggregation; compaction folds accumulated partials back to one row per
group. The same decomposition Spark itself uses for partial aggregation
(map-side combine), lifted to storage -- and the moral twin of
TimescaleDB continuous aggregates / Druid rollup segments.

Only algebraically mergeable aggregates belong here (count, sum, min,
max, and anything expressible over them, e.g. avg = sum/count). Holistic
aggregates (exact percentiles) need sketches instead -- see
q51_approx_sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..committer import live_dir, replace_dir, restore_dir


class RollupTable:
    """Append-only partial-aggregate store for one (bucket, keys) rollup.

    ``ingest`` appends the batch's partials; ``read`` merges them;
    ``compact`` rewrites the store as fully-merged rows (bounded
    merge-on-read cost). All three are O(groups), never O(events kept).
    """

    def __init__(
        self,
        path: str,
        bucket: str = "5 minutes",
        keys: list[str] | None = None,
        ts_col: str = "ts",
        value_col: str = "value",
        distinct_col: str | None = None,
    ) -> None:
        self.path = path
        self.bucket = bucket
        self.keys = list(keys or [])
        self.ts_col = ts_col
        self.value_col = value_col
        # mergeable distinct counts: exact COUNT(DISTINCT) is holistic (it
        # would need the raw values retained), but an HLL sketch is
        # algebraic -- per-batch sketches union associatively, so the
        # rollup can serve approximate distinct-user counts with the same
        # O(groups) storage (Datasketches HLL via hll_sketch_agg/
        # hll_union_agg, ~2% relative error at default lgK)
        self.distinct_col = distinct_col

    def _partials(self, batch: DataFrame) -> DataFrame:
        return (
            batch.groupBy(
                F.window(self.ts_col, self.bucket).start.alias("win_start"),
                *self.keys,
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(self.value_col).alias("sum_value"),
                F.min(self.value_col).alias("min_value"),
                F.max(self.value_col).alias("max_value"),
                *(
                    [F.hll_sketch_agg(self.distinct_col).alias("hll")]
                    if self.distinct_col
                    else []
                ),
            )
        )

    def ingest(self, batch: DataFrame) -> None:
        """Append the batch's partial aggregates. O(|batch| groups) write;
        raw events are NOT retained here. A compaction swap a crash
        interrupted is rolled back first, so no partial is appended
        next to (and later lost with) a stranded ``.old``."""
        restore_dir(self.path)
        self._partials(batch).write.mode("append").parquet(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        """Merged rollup: one row per (win_start, keys).

        count/sum/min/max merge associatively across partials; avg derives
        from the merged sums. The second aggregation runs over partial
        rows (|batches| x groups), not events.
        """
        p = spark.read.parquet(live_dir(self.path))
        out = (
            p.groupBy("win_start", *self.keys)
            .agg(
                F.sum("n").alias("n"),
                F.round(F.sum("sum_value"), 4).alias("sum_value"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
                *(
                    [F.hll_union_agg("hll").alias("_hll")]
                    if self.distinct_col
                    else []
                ),
            )
            .withColumn(
                "avg_value", F.round(F.col("sum_value") / F.col("n"), 4)
            )
        )
        if self.distinct_col:
            out = out.withColumn(
                "n_distinct_est", F.hll_sketch_estimate("_hll")
            ).drop("_hll")
        return out

    def n_partial_rows(self, spark: SparkSession) -> int:
        return spark.read.parquet(live_dir(self.path)).count()

    def compact(self, spark: SparkSession) -> None:
        """Fold accumulated partials to one row per group, swapped in by
        :func:`..committer.replace_dir`. Run it on the incremental
        table's cadence; reads are correct either way, this only bounds
        the merge-on-read fan-in."""
        merged = (
            spark.read.parquet(live_dir(self.path))
            .groupBy("win_start", *self.keys)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_value").alias("sum_value"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
                *(
                    # keep the UNIONED SKETCH (not the estimate): compacted
                    # rows must stay mergeable with future partials
                    [F.hll_union_agg("hll").alias("hll")]
                    if self.distinct_col
                    else []
                ),
            )
        )
        replace_dir(
            self.path, lambda staging: merged.write.mode("overwrite").parquet(staging)
        )

    def streaming_sink(self):
        """foreachBatch body: continuous-aggregate maintenance from a
        stream. Replays append duplicate partials -- merge-on-read stays
        correct for at-least-once counts only if the upstream dedups
        epochs; pair with checkpointed exactly-once sources in practice.
        """

        def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if not batch_df.isEmpty():
                self.ingest(batch_df)

        return apply_batch


def pareto_frontier(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keep_cols: "list[str] | None" = None,
    n_buckets: int = 32,
) -> DataFrame:
    """2-D Pareto frontier (maximize both axes): rows not STRICTLY
    dominated by any other row (x' >= x, y' >= y, one strict) -- the
    price/performance skyline query. Duplicate (x, y) points collapse
    to one representative (lowest keep_cols order).

    Scalable two-level scan instead of one global ordered window (the
    plans.lint global-window rule): level 1 computes each hash bucket's
    LOCAL frontier with a bucket-partitioned running-max window --
    frontier(union) = frontier(frontier(A) + frontier(B)) because
    dominance is pointwise, so survivors are sufficient; level 2 runs
    the same scan over the (small) union of local frontiers. Worst
    case the local frontiers are large (adversarially correlated
    data), but the second level still sees only their union, and the
    common case collapses each bucket to a handful of rows.
    """
    keep = keep_cols or []
    x, y = F.col(x_col), F.col(y_col)
    bucketed = df.select(
        *keep, x_col, y_col,
        F.pmod(F.xxhash64(*(keep or [x_col, y_col])), F.lit(n_buckets))
        .alias("_b"),
    )

    def scan(d: DataFrame, part_cols: list) -> DataFrame:
        w = (
            W.partitionBy(*part_cols)
            .orderBy(F.desc(x_col), F.desc(y_col), *keep)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        return (
            d.withColumn("_prior", F.max(y_col).over(w))
            .filter(F.col("_prior").isNull() | (y > F.col("_prior")))
            .drop("_prior")
        )

    local = scan(bucketed, ["_b"]).drop("_b").localCheckpoint()
    return scan(local.withColumn("_g", F.lit(0)), ["_g"]).drop("_g")


def pareto_frontier_oracle_sql(
    points_sql: str, x: str = "x", y: str = "y", keep: str = "k"
) -> str:
    """DuckDB twin of :func:`pareto_frontier`: the one-level scan is
    value-identical to the two-level one (dominance is pointwise)."""
    return f"""
WITH pts AS ({points_sql}),
scan AS (
  SELECT *, max({y}) OVER (ORDER BY {x} DESC, {y} DESC, {keep}
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
  FROM pts)
SELECT * EXCLUDE (prior) FROM scan
WHERE prior IS NULL OR {y} > prior
"""


def gini_concentration(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """Gini coefficient of a nonnegative integer measure per group --
    the concentration/inequality readout (how top-heavy is revenue per
    nation, token mass per source, traffic per host) behind the z74
    Pareto deciles: one number per group, comparable across groups.

    Formula: G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) with
    x_(i) ascending. EXACT: the rank weight makes tie ORDER irrelevant
    (equal x values contribute x*sum(ranks) however the tie breaks --
    the id tiebreak is belt-and-braces determinism), products lift to
    DECIMAL(38,0), output is one HALF_UP integer-micros ratio. One
    rank window per group over the group-bounded measure rows + one
    aggregate; groups with zero total are NULL (undefined).
    """
    from ..functions.exactnum import floordiv_nonneg

    w = W.partitionBy(group_col).orderBy(value_col, id_col)
    wn = W.partitionBy(group_col)
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ranked = df.select(
        group_col,
        F.col(value_col).alias("_x"),
        F.row_number().over(w).alias("_i"),
        F.count(F.lit(1)).over(wn).alias("_n"),
        F.sum(value_col).over(wn).alias("_s"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.max("_n").cast("decimal(38,0)").alias("n"),
        F.max("_s").cast("decimal(38,0)").alias("s"),
        F.sum(d38(F.col("_i")) * d38(F.col("_x"))).alias("ixs"),
    )
    num = F.lit(2).cast("decimal(38,0)") * F.col("ixs") - (
        F.col("n") + 1
    ) * F.col("s")
    den = F.col("n") * F.col("s")
    gini = floordiv_nonneg(
        F.lit(2_000_000).cast("decimal(38,0)") * num + den,
        F.lit(2).cast("decimal(38,0)") * den,
    )
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n_members"),
        F.when(F.col("s") > 0, gini).alias("gini_micros"),
    )


def gini_oracle_sql(
    members_sql: str, value: str = "x", group: str = "g", id_col: str = "k"
) -> str:
    """DuckDB twin of :func:`gini_concentration`. ``members_sql`` must
    yield (group, id, value) with value a nonnegative BIGINT."""
    return f"""
WITH m AS ({members_sql}),
ranked AS (
  SELECT {group}, {value},
         row_number() OVER (PARTITION BY {group}
                            ORDER BY {value}, {id_col}) AS i,
         count(*) OVER (PARTITION BY {group}) AS n,
         sum({value}) OVER (PARTITION BY {group}) AS s
  FROM m),
agg AS (
  SELECT {group}, max(n)::HUGEINT AS n, max(s)::HUGEINT AS s,
         sum(i::HUGEINT * {value}::HUGEINT) AS ixs
  FROM ranked GROUP BY {group})
SELECT {group}, n::BIGINT AS n_members,
       CASE WHEN s > 0 THEN
         ((2000000::HUGEINT * (2 * ixs - (n + 1) * s) + n * s)
          // (2::HUGEINT * n * s))::BIGINT
       END AS gini_micros
FROM agg
"""


def weighted_median_banded(
    df: DataFrame,
    group_col: str,
    band: "F.Column",
    weight: "F.Column",
) -> DataFrame:
    """Exact weighted median over a BOUNDED-DOMAIN value (a band /
    bucket / grade), per group: the smallest band ``v`` whose cumulative
    weight reaches half the group total (``2*cum(v) >= W``, the lower
    weighted median -- a deterministic tie rule, no interpolation, no
    float).

    Scale shape: this is the histogram-median trick -- one map-side-
    combined aggregate collapses the corpus to (group, band, weight)
    histogram rows, and every window after that runs on the HISTOGRAM
    axis (|bands| rows per group), never on corpus rows. The standard
    way to take medians at 100 TB when the value domain is bounded;
    contrast a sort-based median, which shuffles the corpus.

    ``weight`` must be a nonnegative integer column (exactness; lift
    money to cents first). Returns (``group_col``, total_weight,
    median_band) -- exact integers.
    """
    h = df.groupBy(
        F.col(group_col).alias("g"), band.cast("long").alias("v")
    ).agg(F.sum(weight.cast("long")).alias("w"))
    cum_w = (
        W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    )
    tot_w = W.partitionBy("g")
    c = h.select(
        "g", "v",
        F.sum("w").over(cum_w).alias("_cum"),
        F.sum("w").over(tot_w).alias("_tot"),
    )
    return (
        c.filter(F.lit(2) * F.col("_cum") >= F.col("_tot"))
        .groupBy("g", "_tot")
        .agg(F.min("v").alias("median_band"))
        .select(
            F.col("g").alias(group_col),
            F.col("_tot").cast("long").alias("total_weight"),
            F.col("median_band").cast("long"),
        )
    )


def weighted_median_oracle_sql(
    rows_sql: str, group_col: str, band_sql: str, weight_sql: str
) -> str:
    """DuckDB twin of :func:`weighted_median_banded`."""
    return f"""
WITH h AS (
  SELECT {group_col} AS g, ({band_sql})::BIGINT AS v,
         sum(({weight_sql})::BIGINT)::BIGINT AS w
  FROM ({rows_sql}) r0 GROUP BY 1, 2),
c AS (
  SELECT g, v,
         sum(w) OVER (PARTITION BY g ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER (PARTITION BY g) AS tot
  FROM h)
SELECT g AS {group_col},
       tot::BIGINT AS total_weight,
       min(v)::BIGINT AS median_band
FROM c WHERE 2 * cum >= tot
GROUP BY g, tot
"""
