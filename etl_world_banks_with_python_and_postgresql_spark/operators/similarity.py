"""Similarity search over embedding columns (array<float>).

  * ``cosine_topk``        brute-force exact top-k: broadcast the (small)
                           query set against the candidate corpus; the scan
                           is embarrassingly parallel, no shuffle of the
                           corpus, one partial top-k per partition coalesced
                           by a final window. The 100 TB baseline.
  * ``lsh_bucketed_topk``  random-hyperplane (sign-LSH) pre-bucketing: only
                           candidates sharing a hypercube cell with the
                           query are scored. Approximate; the scale path
                           when the corpus no longer scan-fits the SLA.
  * ``cosine_neardup_pairs`` all pairs with cosine >= t (embedding-space
                           near-duplicate detection).

Per-PAIR dot products/norms in the topk operators are built-in higher-order
functions (zip_with + aggregate) evaluated JVM-side, keeping the DuckDB
oracle bit-compatible (same left-to-right summation order). The BULK
dense-vector stages -- sign-LSH signatures and the near-dup candidate
verify in ``cosine_neardup_pairs`` -- run as Arrow-batched numpy instead:
HOF lambdas are interpreted (never codegen'd), and at n-vectors-at-a-time
scale the vectorized formulation wins ~100x while preserving EXACT
arithmetic parity (integer-micro dots are associative; the float verify
uses a dim-indexed accumulation loop that reproduces the left-to-right
IEEE order bit-for-bit).
"""

from __future__ import annotations

import math

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..sources.bucketed_index import BucketedIndex


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _to_double(a: Column) -> Column:
    return F.transform(a, lambda x: x.cast("double"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity: dot(a,b) / (|a| * |b|), computed in double."""
    ad, bd = _to_double(a), _to_double(b)
    return _dot(ad, bd) / (F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd)))


def _guard_broadcast_queries(queries: DataFrame, max_queries: int | None) -> None:
    """The broadcast-contract check: every *_topk operator here broadcasts
    the query side, which is only valid while |Q| is executor-memory-sized.
    An unchecked oversized broadcast fails late and opaquely (executor OOM
    mid-stage at 100 TB); this counts the SMALL side (one cheap scan,
    negligible next to the corpus pass) and fails early with the fix.

    The guard is always on by default (VERDICT r5 task #3): disabling it
    takes the explicit sentinel ``max_queries=0`` ("unbounded, I accept
    the broadcast"); ``max_queries=None`` is rejected loudly so a caller
    threading an optional through cannot silently build an unbounded
    broadcast.
    """
    if max_queries is None:
        raise ValueError(
            "max_queries=None does not disable the broadcast guard: an "
            "unbounded broadcast query side fails late and opaquely at "
            "scale (executor OOM mid-stage). Pass max_queries=0 to opt "
            "out deliberately, or route large query sets through "
            "lsh_bucketed_topk / ivf_topk_indexed (bucketed probe join)."
        )
    if max_queries == 0:
        return  # explicit, deliberate opt-out
    n = queries.count()
    if n > max_queries:
        raise ValueError(
            f"query side has {n} rows > max_queries={max_queries}: the "
            "broadcast would scale with the corpus. Cap the query set, "
            "batch it, or use lsh_bucketed_topk / ivf_topk_indexed "
            "(bucketed probe join). Pass max_queries=0 to override "
            "deliberately."
        )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cos_sim, rank); self-matches excluded;
    rank on round(cos, 6) desc with neighbor_id as the deterministic
    tie-break. The query side is broadcast, so the corpus is scanned once
    with no shuffle; only the tiny (|Q| * k-ish) ranked set shuffles.
    ``max_queries``
    enforces the broadcast contract up front. MIGRATION NOTE (r6): the
    old ``max_queries=None`` "disable the guard" spelling is rejected
    loudly -- pass the explicit sentinel ``max_queries=0`` to opt out
    of the guard and accept an unbounded broadcast.
    """
    _guard_broadcast_queries(queries, max_queries)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    # two-phase top-k: keep k per (query, input partition) BEFORE the global
    # window, so the shuffle carries |Q| * k * partitions rows instead of
    # |Q| * |corpus|. Identical result -- the global top-k under the same
    # total order is a subset of each partition's top-k.
    order = (F.desc("cos_sim"), F.asc("neighbor_id"))
    w_local = W.partitionBy("query_id", "_p").orderBy(*order)
    partial = (
        scored.withColumn("_p", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k)
        .drop("_p", "_r")
    )
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def signature_bits(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Sign-LSH signature: one bit per hyperplane (dot >= 0)."""
    vd = _to_double(vec)
    bits = None
    for i, h in enumerate(hyperplanes):
        hcol = F.array(*[F.lit(float(x)) for x in h])
        bit = F.when(_dot(vd, hcol) >= 0, F.lit(2**i)).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits.cast("int")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH
    cell(s).

    ``hamming=0`` probes the query's exact hypercube cell (2^H cells for
    H hyperplanes); ``hamming=1`` multi-probes the cell PLUS its H
    single-bit-flip neighbors (the ``simhash_multiprobe_pairs`` trick:
    the near misses LSH loses are exactly the vectors on the far side of
    ONE separating hyperplane, so probing Hamming-1 cells recovers them
    at (H+1)x the candidate budget -- VERDICT r9 #5; production default
    for recall-sensitive workloads). A corpus vector lives in exactly
    one cell and probed cells are distinct, so no candidate dedup is
    needed. Deterministic given fixed planes.

    Scale shape: queries explode to |Q| x (1 or H+1) probe rows and
    broadcast; the corpus is scanned once with no shuffle (cell
    assignment is a pure expression), and the two-phase top-k keeps the
    final window's input at |Q| x k x partitions rows -- the
    ``cosine_topk`` discipline.
    """
    if hamming not in (0, 1):
        raise ValueError(
            f"lsh_bucketed_topk: hamming={hamming} unsupported (0 = exact "
            "cell, 1 = cell + single-bit-flip neighbors; Hamming-2 "
            "probing explodes H-choose-2 cells -- raise H or use "
            "ivf_topk_indexed instead)"
        )
    h_bits = len(hyperplanes)
    q_cell = signature_bits(F.col(vec_col), hyperplanes)
    probe_cells = (
        F.array(q_cell, *[q_cell.bitwiseXOR(F.lit(1 << b)) for b in range(h_bits)])
        if hamming
        else F.array(q_cell)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_cells).alias("cell"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        signature_bits(F.col(vec_col), hyperplanes).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    order = (F.desc("cos_sim"), F.asc("neighbor_id"))
    w_local = W.partitionBy("query_id", "_p").orderBy(*order)
    partial = (
        scored.withColumn("_p", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k)
        .drop("_p", "_r")
    )
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def data_adapted_hyperplanes(
    corpus: DataFrame,
    n_planes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic data-adapted sign-LSH hyperplanes: plane i is the
    difference of anchor pair (2i, 2i+1) from the same hash-sampled
    anchor pick the IVF family inits from, so cuts orient along actual
    data spread instead of isotropic random directions -- random planes
    consistently trail trained IVF centroids at equal candidate budget
    (~0.62 vs 0.69 recall on the test corpus); adapted planes close the
    gap (0.68). One corpus scan (TakeOrderedAndProject), no sort."""
    anchors = _hash_sample_centroids(corpus, 2 * n_planes, id_col, vec_col)
    if len(anchors) < 2 * n_planes:
        raise ValueError(
            f"data_adapted_hyperplanes: corpus has only {len(anchors)} "
            f"rows, need {2 * n_planes} anchors for {n_planes} planes"
        )
    return [
        [a - b for a, b in zip(anchors[2 * i], anchors[2 * i + 1])]
        for i in range(n_planes)
    ]


def lsh_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[dict]:
    """Recall/candidate-budget tuning curve for sign-LSH multi-probe --
    the :func:`ivf_recall_curve` twin. Reports, per ``hamming`` setting
    (0 then 1), {'hamming', 'recall', 'seconds', 'cells_probed'}
    against the ``cosine_topk`` exact baseline; cells_probed/2^H is the
    expected corpus fraction scored per query under uniform cells."""
    import time

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col
        ).collect()
    }
    out = []
    for hm in (0, 1):
        t0 = time.perf_counter()
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_bucketed_topk(
                corpus, queries, hyperplanes, k=k, id_col=id_col,
                vec_col=vec_col, hamming=hm,
            ).collect()
        }
        out.append(
            {
                "hamming": hm,
                "recall": round(len(exact & approx) / max(len(exact), 1), 4),
                "seconds": round(time.perf_counter() - t0, 3),
                "cells_probed": 1 + hm * len(hyperplanes),
            }
        )
    return out


def _hash_sample_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Deterministic, layout-independent coarse centroids in ONE corpus
    scan: the ``n_centroids`` rows with the smallest 48-bit md5 hash of
    their id (id tie-break), i.e. a uniform pseudo-random pick both
    engines replicate bit-for-bit (DuckDB:
    ``ORDER BY ('0x'||substr(md5(id::VARCHAR),1,12))::BIGINT, id``).

    Replaces the r9-flagged stride sampler (VERDICT r9 #4), which paid a
    full ``count()`` scan to size the stride AND an ordered pick over
    the filtered corpus. Here ``orderBy(hash).limit(n)`` compiles to
    ``TakeOrderedAndProject`` -- per-partition top-n heaps merged on the
    driver over at most n_centroids x partitions rows -- never a global
    sort or shuffle (plan-asserted in tests), and no count. Cost at
    100 TB: the one scan every centroid init fundamentally needs.
    """
    from .sketch import md5_hash48

    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(md5_hash48(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_centroids)
        .select("_v")
        .collect()
    )
    return [[float(x) for x in r["_v"]] for r in rows]


def _centroid_literals(centroids: list[list[float]]) -> list[Column]:
    return [F.array(*[F.lit(float(x)) for x in c]) for c in centroids]


def _nearest_cells(vec: Column, cent_lits: list[Column], nc: int) -> Column:
    """Ids of the nc nearest centroids (by cosine) as a pure expression --
    no shuffle, no window; the centroid set is baked into the plan."""
    sims = F.array(
        *[
            F.struct(cosine(vec, cent).alias("s"), F.lit(i).alias("cell"))
            for i, cent in enumerate(cent_lits)
        ]
    )
    # array_sort ascending by (s, cell); take the LAST nc = highest sims
    top = F.slice(F.array_sort(sims), -nc, nc)
    return F.transform(top, lambda t: t["cell"])


def _cell_of(vec: Column, centroids: list[list[float]]) -> Column:
    """The IVF cell of ``vec``: its nearest centroid's id."""
    return _nearest_cells(_to_double(vec), _centroid_literals(centroids), 1)[0]


def _rank_pairs(pairs: DataFrame, k: int) -> DataFrame:
    """Top-``k`` per query over (query_id, q_vec, neighbor_id, c_vec)
    candidate pairs: self-matches excluded, ranked on round(cos, 6) desc
    with neighbor_id as the deterministic tie-break."""
    scored = pairs.filter(F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd iterations for IVF coarse quantization.

    Each iteration is ONE map-side-combined shuffle of exactly
    ``n_centroids`` groups: assignment is a literal-centroid argmin
    expression (codegen, no join, no window), and the update step
    aggregates per-dimension sums with ``F.sum(vec[i])`` columns -- the
    shuffle payload is n_centroids x (dim + 1) doubles regardless of
    corpus size, so the cost per iteration is a corpus scan. That is the
    plan shape that survives 100 TB; the driver only ever holds the
    (tiny) centroid matrix.

    Deterministic: hash-sampled init, fixed iteration count, and
    float addition order inside each sum is absorbed by the mean (the
    assignment argmin is stable far from cell boundaries; exact
    reproducibility of boundary rows across cluster layouts is not
    promised, same as any distributed k-means).
    Empty cells keep their previous centroid.
    """
    cents = _hash_sample_centroids(corpus, n_centroids, id_col, vec_col)
    dim = len(cents[0])
    vec_d = _to_double(F.col(vec_col))
    for _ in range(n_iter):
        cell = _nearest_cells(vec_d, _centroid_literals(cents), 1)[0]
        agg = (
            corpus.select(cell.alias("cell"), *[
                F.col(vec_col)[i].cast("double").alias(f"x{i}") for i in range(dim)
            ])
            .groupBy("cell")
            .agg(F.count("*").alias("n"), *[F.sum(f"x{i}").alias(f"s{i}") for i in range(dim)])
            .collect()
        )
        new = {r["cell"]: [r[f"s{i}"] / r["n"] for i in range(dim)] for r in agg}
        cents = [new.get(i, c) for i, c in enumerate(cents)]
    return cents


def minibatch_kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 10,
    sample_mod: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Mini-batch k-means (Sculley 2010, WWW '10): each iteration scans a
    deterministic 1/``sample_mod`` id-hash slice of the corpus instead of
    the whole thing, and folds the slice's per-cell means into the running
    centroids weighted by cumulative cell counts:

        c_new = (count_so_far * c + sum_batch) / (count_so_far + n_batch)

    This is the 100 TB training path: full Lloyd (``kmeans_centroids``)
    pays a complete corpus scan per iteration, while the mini-batch cost
    is ``n_iter / sample_mod`` corpus-equivalents total with the same
    shuffle shape (one map-side-combined aggregate of n_centroids groups;
    payload n_centroids x (dim+1) doubles). Rotating the slice by
    iteration index means ``n_iter >= sample_mod`` still sees every row
    at least once. Deterministic: xxhash64 slicing, hash-sampled init,
    fixed iteration count.

    Note the row-level hash filter still reads every parquet page (no
    stats pushdown on a hash); at petabyte scale you would additionally
    sample at file granularity before this operator. Documented trade-off.
    """
    cents = _hash_sample_centroids(corpus, n_centroids, id_col, vec_col)
    dim = len(cents[0])
    vec_d = _to_double(F.col(vec_col))
    counts = [0] * n_centroids
    for it in range(n_iter):
        batch = corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == it % sample_mod
        )
        cell = _nearest_cells(vec_d, _centroid_literals(cents), 1)[0]
        agg = (
            batch.select(cell.alias("cell"), *[
                F.col(vec_col)[i].cast("double").alias(f"x{i}") for i in range(dim)
            ])
            .groupBy("cell")
            .agg(F.count("*").alias("n"), *[F.sum(f"x{i}").alias(f"s{i}") for i in range(dim)])
            .collect()
        )
        for r in agg:
            i, n_b = r["cell"], r["n"]
            seen = counts[i]
            cents[i] = [
                (seen * cents[i][d] + r[f"s{d}"]) / (seen + n_b) for d in range(dim)
            ]
            counts[i] = seen + n_b
    return cents


def ivf_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    n_probes: Sequence[int] = (1, 2, 4, 8),
    n_centroids: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> list[dict]:
    """Recall/latency tuning curve for IVF multi-probe.

    For each n_probe, runs ``ivf_topk`` against the ``cosine_topk`` exact
    baseline and reports {'n_probe', 'recall', 'seconds', 'scan_frac'}
    (scan_frac = n_probe/n_centroids, the fraction of the corpus each
    query touches -- the quantity you trade recall against at scale).
    """
    import time

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col).collect()
    }
    out = []
    for np_ in n_probes:
        t0 = time.perf_counter()
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                corpus, queries, n_centroids=n_centroids, n_probe=np_, k=k,
                id_col=id_col, vec_col=vec_col, centroids=centroids,
            ).collect()
        }
        out.append(
            {
                "n_probe": np_,
                "recall": round(len(exact & approx) / max(len(exact), 1), 4),
                "seconds": round(time.perf_counter() - t0, 3),
                "scan_frac": round(np_ / n_centroids, 4),
            }
        )
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into inverted
    cells, probe only the ``n_probe`` nearest cells per query.

    By default centroids are a deterministic corpus sample (the
    n_centroids smallest-id-hash vectors, one scan, no sort); pass
    ``centroids=kmeans_centroids(corpus, ...)`` for trained cells with
    higher recall at the same n_probe. Either way the tiny centroid set
    is collected to the driver and baked into the plan as literal arrays,
    so cell assignment is a pure per-row expression -- no global window,
    no extra shuffle of the corpus (a window-based argmin would funnel
    the whole corpus through one partition). The probe join is an
    equi-join on cell id: each query scans ~n_probe/n_centroids of the
    data. Recall depends on (n_centroids, n_probe); exact baseline is
    ``cosine_topk``.
    """
    if centroids is None:
        centroids = _hash_sample_centroids(corpus, n_centroids, id_col, vec_col)
    cent_lits = _centroid_literals(centroids)

    corpus_cells = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        _nearest_cells(F.col(vec_col), cent_lits, 1)[0].alias("cell"),
    )
    query_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(_nearest_cells(F.col(vec_col), cent_lits, n_probe)).alias("cell"),
    )
    return _rank_pairs(
        corpus_cells.withColumnRenamed(id_col, "neighbor_id")
        .withColumnRenamed(vec_col, "c_vec")
        .join(F.broadcast(query_cells), on="cell"),
        k,
    )


def rademacher_planes(n_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic +/-1 (Rademacher) projection hyperplanes.

    Entries come from an md5 counter stream, so the same (n_planes, dim,
    seed) always yields the same planes in any process -- the literals are
    baked into BOTH the Spark plan and the DuckDB oracle SQL, which is what
    makes the banded near-dup candidates engine-reproducible. Sign random
    projections with +/-1 entries preserve the angular LSH property
    (Achlioptas 2001-style sparse projections).
    """
    import hashlib

    planes: list[list[float]] = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            row.append(1.0 if h[0] & 1 else -1.0)
        planes.append(row)
    return planes


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Persist the corpus as a cell-partitioned parquet IVF index.

    Each vector is coarse-quantized to its nearest centroid (literal-
    centroid argmin, pure codegen) and written under ``cell=<i>/``
    (Hive layout). Centroids go to a ``_ivf_centroids.json`` sidecar
    (underscore-prefixed, so parquet readers ignore it). Queries served
    through :func:`ivf_topk_indexed` then PARTITION-PRUNE the scan to
    their probed cells -- at rest, an ANN lookup over a 100 TB corpus
    reads ~n_probe/n_centroids of the data and lists nothing else. Build
    cost is one corpus scan + one partitioned write; pass
    ``centroids=kmeans_centroids(...)`` for trained cells.
    """
    if centroids is None:
        centroids = _hash_sample_centroids(corpus, n_centroids, id_col, vec_col)
    index = _ivf_index(path)
    index.write(
        {"": corpus.withColumn("cell", _cell_of(F.col(vec_col), centroids))},
        "overwrite",
    )
    index.commit(centroids)
    return centroids


def _ivf_index(path: str) -> BucketedIndex:
    return BucketedIndex(
        path, "_ivf_centroids.json", "IVF index", "write_ivf_index",
        part="cell", clustered=False,
    )


def read_ivf_centroids(path: str) -> list[list[float]]:
    return _ivf_index(path).load()[0]


def _cell_candidates(
    spark, index: BucketedIndex, centroids, queries: DataFrame, n_probe: int,
    id_col: str, vec_col: str, *cols: Column,
) -> DataFrame:
    """The cell-pruned candidate join of the indexed IVF probes: every
    query row explodes to its ``n_probe`` nearest cells as (query_id,
    q_vec, cell), the index read is pruned to those cells, and each
    indexed row (projected to ``cols``) pairs with every query probing
    its cell. No self-match filter here: the semantic novelty sink needs
    a replayed vector to find its own earlier copy."""
    query_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            _nearest_cells(
                _to_double(F.col(vec_col)), _centroid_literals(centroids), n_probe
            )
        ).alias("cell"),
    )
    corpus_cells = index.read(spark, index.probed(query_cells)).select(
        *cols, F.col("cell")
    )
    return corpus_cells.join(F.broadcast(query_cells), on="cell")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a :func:`write_ivf_index` index, reading
    ONLY the probed cell partitions.

    The probed cell set (bounded by n_centroids, a handful of ints) is
    computed from the query side and pushed into the scan as an IN filter
    on the partition column -- directory-level pruning, no listing or
    footer reads outside the probed cells (plan-asserted in tests).
    Identical results to :func:`ivf_topk` with the same centroids; the
    difference is the at-rest scan cost.
    """
    index = _ivf_index(path)
    pairs = _cell_candidates(
        spark, index, index.load()[0], queries, n_probe, id_col, vec_col,
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"),
    )
    return _rank_pairs(pairs, k)


def _ivf_novel_indexed(
    spark, batch: DataFrame, path: str, threshold: float, n_probe: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Rows of ``batch`` with no vector of a :func:`write_ivf_index`
    index at cosine >= ``threshold`` among their ``n_probe`` nearest
    cells -- the semantic twin of ``dedup.minhash_novel_indexed``."""
    index = _ivf_index(path)
    hits = (
        _cell_candidates(
            spark, index, index.load()[0], batch, n_probe, id_col, vec_col,
            F.col(vec_col).alias("c_vec"),
        )
        .filter(cosine(F.col("q_vec"), F.col("c_vec")) >= threshold)
        .select(F.col("query_id").alias(id_col))
        .distinct()
    )
    return batch.join(hits, id_col, "left_anti")


def _auto_lsh_layout(
    n: int, bands: int, threshold: float, max_band_factor: int = 8
) -> tuple[int, int]:
    """Auto-size the sign-LSH layout ``(bits_per_band, bands)`` from the
    corpus size while HOLDING the recall operating point (ADVICE r5).

    bits: smallest with ``2^bits >= n/100`` (floor 6, cap 24) keeps the
    expected bucket size ~100 -- the guard against the quadratic
    candidate-join cliff (SIZING note in ``cosine_neardup_pairs``).

    bands: raising bits alone lowers the per-band collision probability
    ``s^bits`` at the threshold's angular similarity
    ``s = 1 - acos(t)/pi``, so the S-curve recall
    ``1 - (1 - s^bits)^bands`` would silently drop for default callers
    (t=0.9, 12 bands: 6 -> 14 bits is ~1.0 -> ~0.63 recall at s=t).
    We therefore scale bands to the smallest B restoring the recall the
    6-bit floor gave, capped at ``max_band_factor`` x the requested
    bands: band cost is LINEAR (signature width, explode rows, join
    probes) and the cap bounds it; past the cap -- billion-vector
    corpora at loose thresholds -- recall degrades gracefully and the
    right moves are a higher threshold, an explicit pinned layout, or
    the ``max_bucket`` backstop. At t >= 0.9 the cap is not binding
    until bits ~ 18 (n ~ 26M); recall at s=t is the curve's WORST
    point -- true near-dups above t collide strictly more often.
    """
    bits = min(24, max(6, math.ceil(math.log2(n / 100)) if n > 100 else 6))
    if bits <= 6:
        return bits, bands
    s = 1.0 - math.acos(max(-1.0, min(threshold, 0.999999))) / math.pi
    miss_floor = 1.0 - s**6  # per-band miss prob at the 6-bit floor
    miss = 1.0 - s**bits
    if not (0.0 < miss < 1.0 and 0.0 < miss_floor < 1.0):
        return bits, bands
    want = math.ceil(bands * math.log(miss_floor) / math.log(miss))
    return bits, max(bands, min(bands * max_band_factor, want))


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = 12,
    bits_per_band: int | None = None,
    dim: int | None = None,
    seed: int = 0,
    max_bucket: int | None = None,
) -> DataFrame:
    """Embedding pairs (a < b) with cosine >= threshold, banded-sign-LSH
    candidate generation + exact cosine verify.

    Default (``bands`` set) is the 100 TB path: each vector gets
    ``bands`` keys of ``bits_per_band`` sign bits (deterministic
    Rademacher hyperplanes), pairs sharing ANY band key become candidates
    (equi-join on the key -- NO cartesian / inequality join on the
    corpus), and only candidates pay the exact cosine. Output has no false
    positives; recall follows the LSH S-curve
    ``1 - (1 - s^r)^B`` with ``s = 1 - acos(cos)/pi`` -- near 1 for the
    high thresholds (0.9+) production near-dup uses, lower near a loose
    boundary. The defaults put the S-curve midpoint at cos ~0.45.
    Everything is deterministic, so the DuckDB oracle replicates the
    banding bit-for-bit (same pattern as ``minhash_lsh_pairs``).

    ``bands=None`` opts into the exact all-pairs O(n^2/2) baseline --
    test-scale only; it is the plan shape that dies at scale.

    SIZING ``bits_per_band``: candidate cost is quadratic in bucket
    size (sum over (band,key) buckets of |bucket|^2), so the expected
    bucket size n / 2^bits must stay small -- duplicate-heavy corpora
    concentrate replicas into the SAME buckets in every band and punish
    coarse bands hardest. Measured on a 16x-replicated 32k corpus:
    bits_per_band=6 (64 keys) -> ~500-vector buckets -> ~100M pre-distinct
    join rows -> 74 s; bits_per_band=12 -> 7 s for the same recall band
    count. Rule of thumb: 2^bits >= n / 100 -- ENFORCED IN CODE: the
    default ``bits_per_band=None`` sizes itself via ``_auto_lsh_layout``
    from one cheap count() (bits ``max(6, ceil(log2(n/100)))`` capped at
    24 so keys stay comfortable int32), so a duplicate-heavy corpus
    cannot hit the 74 s cliff by omission -- AND scales ``bands`` up
    alongside the bits to hold the S-curve recall at the caller's
    threshold (more bits per band alone would silently cut near-dup
    recall, e.g. t=0.9 with 12 bands: 6 -> 14 bits is ~1.0 -> ~0.63 at
    s=t; the band growth is capped at 8x -- see ``_auto_lsh_layout`` for
    the beyond-cap story). Pass an explicit int to pin the
    signature layout (the oracle-paired registry queries do -- the DuckDB
    twin must replicate the banding bit-for-bit, which needs a scale-
    independent layout).

    ``max_bucket`` is the backstop when a caller CANNOT raise
    ``bits_per_band`` (fixed signature layout, shared index): every
    (band, key) bucket larger than ``max_bucket`` is deterministically
    subdivided -- members ranked by id within the bucket, sub-bucket =
    ``floor(rank / max_bucket)`` -- and candidates only form WITHIN a
    sub-bucket, capping per-bucket join cost at ``max_bucket**2`` rows
    no matter how duplicate-heavy the corpus. The price is RECALL, not
    precision (verify stays exact; output is always a subset of the
    uncapped output): a pair split across sub-buckets in one band can
    still collide in any other band, so the loss follows the same
    S-curve with effectively fewer bands for the split pairs. The rank
    rank rule is pure integer arithmetic over ids, so the DuckDB oracle
    replicates it bit-for-bit (``_signlsh_neardup_oracle(max_bucket)``).
    Cost: one extra exchange per join side -- the window keys (band,
    key) and the join keys (band, key, sub) differ, and Spark requires
    all cluster keys for co-partitioning -- but that shuffle is LINEAR
    in the signature table (n x bands rows); it is the price that
    bounds the otherwise-quadratic candidate join, exactly the trade
    you want on a duplicate-skewed corpus.
    """
    a = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    if bands is None:
        return (
            a.join(b, F.col("vec_a") < F.col("vec_b"))
            .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
            .filter(F.col("cos_sim") >= threshold)
            .select("vec_a", "vec_b", "cos_sim")
        )

    if bits_per_band is None:
        # 2^bits >= n/100: one scalar count() action at plan-build time
        # buys freedom from the quadratic bucket cliff (docstring SIZING).
        # Bands scale WITH the bits so the default caller's recall
        # operating point holds (ADVICE r5; see _auto_lsh_layout).
        n = df.count()
        bits_per_band, bands = _auto_lsh_layout(max(n, 1), bands, threshold)
    if dim is None:
        # bounded O(1) action; callers that know the dim pass it to keep
        # the plan build action-free
        dim = df.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    planes = rademacher_planes(bands * bits_per_band, dim, seed)

    # Signature stage: Arrow-batched numpy, not per-plane HOF folds. The
    # 72 plane dots per vector are one (n x dim) @ (dim x planes) int64
    # matmul per batch -- SIMD inside numpy, vs ~bands*bits*dim interpreted
    # lambda evaluations per ROW for the F.aggregate formulation (measured
    # >2.5 s/1k rows of Catalyst+interpreted-HOF cost; the matmul is
    # milliseconds and scan-parallel). Determinism across engines: each
    # element is quantized to exact integer MICROS first, so the dot is an
    # exact int64 sum -- no float-summation order anywhere, and the DuckDB
    # oracle's list_dot_product over the same BIGINT micros is exact in
    # double (|dot| << 2^53). Plane entries are +/-1, so micro-dots sign-
    # agree with the float dots except within the quantization noise floor
    # -- a bucketing choice, not a correctness one (verify is exact either
    # way); the oracle replicates the micro formulation bit-for-bit.
    import numpy as np
    import pandas as pd

    plane_mat = np.asarray(planes, dtype=np.int64).T  # (dim, n_planes)
    n_bands, bpb = bands, bits_per_band

    def sig_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            micros = np.rint(vecs * 1_000_000.0).astype(np.int64)
            bits = (micros @ plane_mat) >= 0  # (n, n_planes) bool
            keys = np.zeros((len(pdf), n_bands), dtype=np.int32)
            for b in range(n_bands):
                for j in range(bpb):
                    keys[:, b] |= bits[:, b * bpb + j].astype(np.int32) << j
            yield pd.DataFrame(
                {
                    "bid": np.repeat(pdf["bid"].to_numpy(), n_bands),
                    "band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(pdf)
                    ),
                    "key": keys.reshape(-1),
                }
            )

    bands_df = df.select(
        F.col(id_col).alias("bid"), F.col(vec_col).alias("_v")
    ).mapInPandas(sig_batches, "bid long, band int, key int")
    if max_bucket is not None:
        sub_w = W.partitionBy("band", "key").orderBy("bid")
        bands_df = bands_df.select(
            "bid",
            "band",
            "key",
            F.floor((F.row_number().over(sub_w) - 1) / F.lit(max_bucket))
            .cast("int")
            .alias("sub"),
        )
    # candidates: equi-join on (band, key); the id inequality only
    # de-duplicates within a bucket (it is NOT the join condition). The
    # self-join's two sides are identical subtrees, so ReuseExchange runs
    # the Arrow signature stage once.
    la, lb = bands_df.alias("la"), bands_df.alias("lb")
    join_cond = (
        (F.col("la.band") == F.col("lb.band"))
        & (F.col("la.key") == F.col("lb.key"))
        & (F.col("la.bid") < F.col("lb.bid"))
    )
    if max_bucket is not None:
        join_cond = join_cond & (F.col("la.sub") == F.col("lb.sub"))
    cand = (
        la.join(
            lb,
            join_cond,
        )
        .select(F.col("la.bid").alias("vec_a"), F.col("lb.bid").alias("vec_b"))
        .distinct()
    )
    # Exact verify on candidates only (vectors join back by id -- the band
    # explode never shuffles the float payload). Arrow-batched like the
    # signature stage: a duplicate-heavy corpus makes |candidates| >> n
    # (every replica pair collides in every band), and the interpreted HOF
    # cosine was measured at ~100x the cost of the vectorized loop on a
    # 16x-replicated probe. Arithmetic parity with the DuckDB oracle is
    # preserved EXACTLY: the dim-indexed accumulation loop performs the
    # same IEEE double multiply-adds in the same left-to-right order as
    # list_dot_product / the F.aggregate fold -- vectorized ACROSS pairs,
    # ordered WITHIN each pair -- so cos_sim is bit-identical, not merely
    # close.
    an = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
    bn = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
    id_dt = df.schema[id_col].dataType.simpleString()

    def verify_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            n_rows = len(pdf)
            dot = np.zeros(n_rows)
            na = np.zeros(n_rows)
            nb = np.zeros(n_rows)
            for i in range(va.shape[1]):  # left-to-right fold, pair-vectorized
                dot += va[:, i] * vb[:, i]
                na += va[:, i] * va[:, i]
                nb += vb[:, i] * vb[:, i]
            cos = np.round(dot / (np.sqrt(na) * np.sqrt(nb)), 6)
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy()[keep],
                    "vec_b": pdf["vec_b"].to_numpy()[keep],
                    "cos_sim": cos[keep],
                }
            )

    return (
        cand.join(an, "vec_a")
        .join(bn, "vec_b")
        .mapInPandas(
            verify_batches, f"vec_a {id_dt}, vec_b {id_dt}, cos_sim double"
        )
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = 12,
    bits_per_band: int | None = None,
    dim: int | None = None,
    seed: int = 0,
    max_iter: int = 25,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: one keep/drop decision per
    vector from embedding-space near-duplicate CLUSTERS.

    Composition of two already-scale-shaped pieces: near-dup pairs from
    ``cosine_neardup_pairs`` (banded sign-LSH candidates + exact cosine
    verify -- never all-pairs), resolved to connected components with
    ``dedup.duplicate_clusters`` (iterative min-label propagation, cost
    bounded by ``max_iter``). Every vector gets its component's minimum id
    as ``cluster_id`` (singletons: their own id); ``kept`` marks the one
    representative a semantic dedup pass retains per cluster.

    Scale shape: the pair stage touches only band-bucket collisions; the
    CC stage shuffles only the (bounded) edge list; the final decision is
    one equi-join of the corpus ids against the (duplicates-only) label
    table -- the full embedding payload is never joined or shuffled.
    """
    from .dedup import duplicate_clusters

    pairs = cosine_neardup_pairs(
        df,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        bands=bands,
        bits_per_band=bits_per_band,
        dim=dim,
        seed=seed,
    )
    clusters = duplicate_clusters(
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        ),
        max_iter=max_iter,
    )
    labels = clusters.select(
        F.col("doc_id").alias(id_col), F.col("cluster_id").alias("_cl")
    )
    return (
        df.select(id_col)
        .join(labels, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_cl", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("_cl", F.col(id_col)) == F.col(id_col)).alias("kept"),
        )
    )


def embedding_moments(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension corpus moments of an embedding column -- the
    normalization/whitening statistics an embedding pipeline computes
    before indexing (mean-centering, variance scaling, PCA prep).

    Values are quantized to exact integer MICROS per element before any
    summation (``round(v * 1e6)::BIGINT``), so the per-dimension sums are
    associative integer adds: bit-identical across partition orders and
    engines -- no float accumulation anywhere (the q49 lesson). Outputs
    per dimension: n, sum_micro, mean_micro (integer division), and
    sum_sq_micro2 (sum of squared micros; callers derive variance).

    Scale shape: posexplode fans each row into ``dim`` (index, value)
    pairs inside the scan projection -- no shuffle for the fan-out -- then
    ONE groupBy over ``dim`` keys (a handful of groups) where map-side
    combine collapses each partition to ``dim`` rows before the exchange.
    The shuffle payload is O(dim x partitions), independent of corpus
    size. The squares sum runs and PRESENTS in DECIMAL(38,0) (VERDICT
    r10 #3): a LongType sum-of-squares silently wraps past ~1e6 rows/dim
    at |v| <= 1e3 (1e12 per element), which is exactly the corpus this
    operator exists for at 100 TB; DECIMAL(38,0) holds ~1e26 rows/dim
    headroom with no behavior cliff (DuckDB twin: HUGEINT-exact,
    presented ::DECIMAL(38,0)). Overflow-range pinned in
    tests/test_operators_misc.py::test_embedding_moments_sum_sq_beyond_int64.
    """
    micro = lambda c: F.round(c.cast("double") * 1000000).cast("long")  # noqa: E731
    e = df.select(F.posexplode(F.col(vec_col)).alias("dim_idx", "_v")).select(
        "dim_idx", micro(F.col("_v")).alias("_m")
    )
    return (
        e.groupBy("dim_idx")
        .agg(
            F.count("*").alias("n"),
            F.sum("_m").alias("sum_micro"),
            # each factor lifts to DECIMAL(19,0) BEFORE the multiply (a
            # LongType product itself wraps past |micro| ~ 3e9, i.e.
            # |v| ~ 3e3); (19,0)x(19,0) -> DECIMAL(38,0) holds the full
            # int64 x int64 range exactly (max ~8.5e37 < 1e38)
            F.sum(
                F.col("_m").cast("decimal(19,0)")
                * F.col("_m").cast("decimal(19,0)")
            ).alias("sum_sq_micro2"),
        )
        .select(
            "dim_idx",
            "n",
            "sum_micro",
            F.expr("sum_micro div n").alias("mean_micro"),
            "sum_sq_micro2",
        )
    )


def append_ivf_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new vector batch to an existing :func:`write_ivf_index`
    index WITHOUT retraining or rewriting: assign each vector to its
    nearest existing centroid (same literal-argmin expression as the
    build) and append cell-partitioned files -- O(|batch|) write cost,
    the incremental-ingest shape for an at-rest ANN index.

    Probe results via :func:`ivf_topk_indexed` are identical to an index
    rebuilt from scratch over the union with the SAME centroids (cell
    assignment is a pure function of vector x centroids; verified in
    tests). Centroids drift as the corpus grows -- production re-trains
    periodically and rebuilds at the next compaction window, exactly like
    IncrementalTable's delta/compact split; appends between rebuilds only
    add files under already-probed directories, so reader pruning is
    unaffected. (File visibility is per-file atomic; a manifest commit a
    la sources/incremental.py would make multi-file appends atomic too.)
    """
    index = _ivf_index(path)
    with index.appending() as (centroids, _):
        index.write(
            {"": batch.withColumn("cell", _cell_of(F.col(vec_col), centroids))},
            "append",
        )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_queries: int = 100_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query, the
    top-k most-similar corpus vectors whose LABEL DIFFERS -- the nearest
    wrong answers, which is what embedding-model training (DPR/SimCSE
    et al.) samples as negatives.

    Same plan shape as :func:`cosine_topk` (broadcast queries, one corpus
    scan, per-partition partial top-k before the global window), with the
    label-mismatch predicate applied INSIDE the scan join -- exclusion
    must happen before ranking, so a post-filter on top-k output would
    under-deliver negatives. Output: (query_id, query_label, neighbor_id,
    neighbor_label, cos_sim, rank). ``max_queries``
    enforces the broadcast contract up front. MIGRATION NOTE (r6): the
    old ``max_queries=None`` "disable the guard" spelling is rejected
    loudly -- pass the explicit sentinel ``max_queries=0`` to opt out
    of the guard and accept an unbounded broadcast.
    """
    _guard_broadcast_queries(queries, max_queries)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("query_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label")),
        )
        .withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
        .select("query_id", "query_label", "neighbor_id", "neighbor_label", "cos_sim")
    )
    order = (F.desc("cos_sim"), F.asc("neighbor_id"))
    w_local = W.partitionBy("query_id", "_p").orderBy(*order)
    partial = (
        scored.withColumn("_p", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k)
        .drop("_p", "_r")
    )
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "cos_sim", "rank",
        )
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding centroids (class prototypes) in exact integer
    micros: for every (label, dimension), n / sum_micro / mean_micro.
    The prototype table behind nearest-centroid classification, cluster
    summaries, and per-class drift monitoring.

    Same determinism contract as :func:`embedding_moments` (quantize to
    integer micros BEFORE summation; associative BIGINT adds, engine- and
    partition-order-independent) and the same scale shape: posexplode in
    the scan projection, one groupBy over (label x dim) keys -- map-side
    combine collapses each partition to |labels| x dim rows, so the
    shuffle payload is independent of corpus size.
    """
    micro = lambda c: F.round(c.cast("double") * 1000000).cast("long")  # noqa: E731
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim_idx", "_v"),
    ).select("label", "dim_idx", micro(F.col("_v")).alias("_m"))
    return (
        e.groupBy("label", "dim_idx")
        .agg(F.count("*").alias("n"), F.sum("_m").alias("sum_micro"))
        .select(
            "label", "dim_idx", "n", "sum_micro",
            F.expr("sum_micro div n").alias("mean_micro"),
        )
    )


def rebuild_ivf_index(
    spark,
    path: str,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Retrain-and-rebuild step of the IVF lifecycle: read the CURRENT
    index contents (base + every appended batch), re-derive centroids over
    the full corpus (or take trained ``centroids``, e.g. from
    :func:`kmeans_centroids`), and atomically swap in a freshly
    cell-partitioned index.

    This is the compaction twin of :func:`append_ivf_index`: appends are
    O(batch) between rebuilds, and the rebuild pays one full
    scan + partitioned write to restore cell balance after centroid drift
    -- exactly the delta/compact cost split of ``sources/incremental.py``.
    Readers never observe a half-built index: the old one serves reads
    until the swap.
    """
    return _ivf_index(path).rebuild(spark, lambda old, staging: write_ivf_index(
        old.select(id_col, vec_col), staging, n_centroids=n_centroids,
        centroids=centroids, id_col=id_col, vec_col=vec_col,
    ))


def scalar_quantization_params(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension [min, max] over the corpus -- the codebook for
    linear int8 scalar quantization. One posexplode aggregate reduced to
    dim-many rows (map-side combine); the result is dim-bounded, so
    collecting it to literals is the same bounded O(dim) plan-build
    action as the IVF centroid literals."""
    stats = (
        df.select(F.posexplode(_to_double(F.col(vec_col))).alias("i", "v"))
        .groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("i")
        .collect()
    )
    return [r["mn"] for r in stats], [r["mx"] for r in stats]


def quantize_reconstruct(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Replace each vector with its int8-scalar-quantized RECONSTRUCTION:
    code = round((x - min_d) * levels / (max_d - min_d)), stored in
    [0, levels] (one byte at rest -- 4x smaller than float32, the
    storage play for 100 TB embedding stores); reconstruction =
    min_d + code * (max_d - min_d) / levels. Constant dims reconstruct
    to their min (zero-width guard). Pure row-local transform over
    literal codebook arrays -- codegen, no shuffle, no Python.
    """
    mins_arr = F.array(*[F.lit(float(m)) for m in mins])
    maxs_arr = F.array(*[F.lit(float(m)) for m in maxs])

    def recon(x, i):
        mn = F.element_at(mins_arr, i + 1)
        mx = F.element_at(maxs_arr, i + 1)
        width = mx - mn
        code = F.round((x - mn) * F.lit(float(levels)) / width)
        return F.when(mx == mn, mn).otherwise(
            mn + code * width / F.lit(float(levels))
        )

    return df.withColumn(
        vec_col, F.transform(_to_double(F.col(vec_col)), recon)
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact-scan ANN over the int8-quantized corpus: raw query vectors
    score against RECONSTRUCTED corpus vectors (the memory-bound serving
    layout; recall loss vs full precision is the quantization error, not
    a search approximation). Same plan contract as :func:`cosine_topk`
    (broadcast queries, two-phase top-k). ``max_queries``
    enforces the broadcast contract up front. MIGRATION NOTE (r6): the
    old ``max_queries=None`` "disable the guard" spelling is rejected
    loudly -- pass the explicit sentinel ``max_queries=0`` to opt out
    of the guard and accept an unbounded broadcast."""
    mins, maxs = scalar_quantization_params(corpus, vec_col)
    recon = quantize_reconstruct(corpus, mins, maxs, vec_col, levels)
    return cosine_topk(
        recon, queries, k=k, id_col=id_col, vec_col=vec_col,
        max_queries=max_queries,
    )


def diversity_sample(
    df: DataFrame,
    per_cell: int = 2,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space diversity subset: the ``per_cell`` most central
    vectors of each hash-centroid cell (the SemDeDup-adjacent "keep the
    cluster representatives" selection; the cheap coreset a curriculum /
    eval-set builder wants when it cannot afford facility location).

    Deterministic end to end -- hash-sampled centroids (same scheme as
    ``write_ivf_index``; no Lloyd, so the DuckDB oracle replicates the
    assignment bit-for-bit), argmax-cosine cell assignment with the q97
    tiebreak (higher cell id wins ties), per-cell rank by (centroid
    cosine desc, id). Plan shape: centroid literals baked into a codegen
    expression (no join/shuffle for assignment), one window partitioned
    by cell.
    """
    cents = _hash_sample_centroids(df, n_centroids, id_col, vec_col)
    lits = _centroid_literals(cents)
    vec_d = _to_double(F.col(vec_col))
    cell = _nearest_cells(vec_d, lits, 1)[0]
    assigned = df.select(
        F.col(id_col),
        cell.alias("cell"),
        F.round(F.element_at(F.array(*[cosine(vec_d, c) for c in lits]),
                             cell + 1), 6).alias("cos_to_centroid"),
    )
    w = W.partitionBy("cell").orderBy(
        F.desc("cos_to_centroid"), F.asc(id_col)
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_cell)
        .select("cell", "rank", id_col, "cos_to_centroid")
    )


def _sq_l2(sub: Column, cw: Column) -> Column:
    """Squared L2 distance between two equal-length double arrays as a
    pure fold expression (codegen; no Python)."""
    return F.aggregate(
        F.zip_with(sub, cw, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    n_codewords: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jegou/Douze/Schmid, TPAMI 2011):
    the vector dimension splits into ``m`` contiguous subspaces and each
    subspace trains its own ``n_codewords``-entry k-means codebook, so a
    D-float vector compresses to m sub-byte codes -- the at-rest layout
    that makes a 100 TB float32 embedding store fit serving RAM
    (D*4 bytes -> m bytes at n_codewords<=256).

    All m subspaces train JOINTLY: each Lloyd iteration is ONE corpus
    scan that explodes every vector into its m (subspace, sub-vector)
    rows, assigns each to its current-codebook argmin-L2 cell in the
    scan stage, and runs ONE map-side-combined aggregate of m x
    n_codewords groups -- identical codebooks to m independent
    per-subspace L2-Lloyd runs (assignments and means never cross
    subspaces; init is the same hash-sampled row set sliced per
    subspace) at 1/m of the scans. Assignment is squared-L2, PQ's
    definition -- NOT the cosine cells the IVF path trains. The
    driver only ever holds the m x n_codewords x (D/m) codebook matrix.
    Deterministic (hash-sampled init, fixed iterations; empty cells
    keep their previous codeword). D must divide evenly by m
    (fail-fast).
    """
    dsub, books = _pq_init(corpus, m, n_codewords, id_col, vec_col)
    vec_d = _to_double(F.col(vec_col))
    for _ in range(n_iter):
        book_lits = _book_literals(books)
        subs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    _pq_cell(
                        F.slice(vec_d, j * dsub + 1, dsub), book_lits[j],
                        len(books[j]),
                    ).alias("cell"),
                    F.slice(vec_d, j * dsub + 1, dsub).alias("sub"),
                )
                for j in range(m)
            ]
        )
        rows = (
            corpus.select(F.explode(subs).alias("s"))
            .select(
                F.col("s.j").alias("j"),
                F.col("s.cell").alias("cell"),
                *[F.col("s.sub")[i].alias(f"x{i}") for i in range(dsub)],
            )
            .groupBy("j", "cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(f"x{i}").alias(f"s{i}") for i in range(dsub)],
            )
            .collect()
        )
        new = {
            (r["j"], r["cell"]): [r[f"s{i}"] / r["n"] for i in range(dsub)]
            for r in rows
        }
        books = [
            [new.get((j, c), cw) for c, cw in enumerate(book)]
            for j, book in enumerate(books)
        ]
    return books


def _pq_init(
    corpus: DataFrame, m: int, n_codewords: int, id_col: str, vec_col: str
) -> tuple[int, list[list[list[float]]]]:
    """Hash-sampled PQ init: the same n_codewords rows every subspace's
    independent k-means would pick, sliced per subspace. One TakeOrdered
    scan (the _hash_sample_centroids shape); validates dim % m == 0."""
    from .sketch import md5_hash48

    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(md5_hash48(F.col("_id").cast("string")), F.col("_id"))
        .limit(n_codewords)
        .select("_v")
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: empty corpus")
    dim = len(rows[0]["_v"])
    if dim % m != 0:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = [
        [[float(x) for x in r["_v"][j * dsub : (j + 1) * dsub]] for r in rows]
        for j in range(m)
    ]
    return dsub, books


def _pq_cell(sub: Column, book_lit: Column, k: int) -> Column:
    """Argmin-squared-L2 codeword index for one subspace (ties -> lowest
    code) as a pure expression."""
    cand = F.array(
        *[
            F.struct(
                _sq_l2(sub, F.element_at(book_lit, c + 1)).alias("d"),
                F.lit(c).alias("code"),
            )
            for c in range(k)
        ]
    )
    return F.element_at(F.array_sort(cand), 1)["code"]


def _book_literals(books: list[list[list[float]]]) -> list[Column]:
    return [
        F.array(*[F.array(*[F.lit(float(x)) for x in cw]) for cw in book])
        for book in books
    ]


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` codebook indices: per subspace, the
    argmin-squared-L2 codeword (ties -> lowest code). Pure row-local
    expression over literal codebooks -- codegen, no shuffle, no join,
    no Python; the corpus is scanned once.

    Expression size grows with m * n_codewords (each codeword is one
    fold); at serving-scale books (m=16, k=256) move the codebook to a
    broadcast join or an Arrow batch instead -- this literal form is
    the training-scale path and documents the trade-off.
    """
    m = len(books)
    dsub = len(books[0][0])
    vec_d = _to_double(F.col(vec_col))
    code_cols = [
        _pq_cell(F.slice(vec_d, j * dsub + 1, dsub), book_lit, len(books[j]))
        for j, book_lit in enumerate(_book_literals(books))
    ]
    return df.select(
        F.col(id_col), F.array(*code_cols).alias("pq_codes")
    )


def pq_reconstruct(
    codes: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Decompress PQ codes back to approximate vectors: concatenate each
    subspace's selected codeword (row-local literal gather). The
    reconstruction IS the quantization error surface -- scoring against
    it is exactly what an ADC lookup-table scan computes, term for term,
    so correctness tests on the reconstruction cover the serving math.
    """
    gathers = [
        F.element_at(book_lit, F.element_at(F.col(codes_col), j + 1) + 1)
        for j, book_lit in enumerate(_book_literals(books))
    ]
    return codes.select(
        F.col(id_col), F.flatten(F.array(*gathers)).alias(vec_col)
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    n_codewords: int = 16,
    n_iter: int = 3,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """ANN over the product-quantized corpus: RAW query vectors score by
    cosine against PQ RECONSTRUCTIONS (asymmetric distance -- queries
    stay full-precision, exactly the ADC regime; recall loss is the
    quantization error, not a search approximation). Same plan contract
    as :func:`cosine_topk`: broadcast bounded query side, two-phase
    partial-then-global top-k, corpus scanned once with the
    decode-and-score expression fused into the scan stage.

    Composes with IVF: at serving scale you coarse-quantize first
    (:func:`ivf_topk`) and PQ-scan only the probed cells; here the flat
    scan keeps the operator's correctness surface minimal.
    """
    if books is None:
        books = pq_codebooks(
            corpus, m=m, n_codewords=n_codewords, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
    recon = pq_reconstruct(
        pq_encode(corpus, books, id_col=id_col, vec_col=vec_col),
        books, id_col=id_col, vec_col=vec_col,
    )
    return cosine_topk(
        recon, queries, k=k, id_col=id_col, vec_col=vec_col,
        max_queries=max_queries,
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    m: int = 4,
    n_codewords: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ: the production ANN serving composition (FAISS's IVFPQ
    layout, Jegou et al. TPAMI 2011 sec. V) -- coarse-quantize the
    corpus into inverted cells, store only PQ codes in each cell, and
    per query scan the ``n_probe`` nearest cells scoring raw query
    vectors against PQ reconstructions (asymmetric distance).
    Cuts BOTH axes: compute (n_probe/n_centroids of the corpus per
    query) and memory (m bytes per stored vector), which is why a
    100 TB float32 store serves from RAM.

    Plan shape: cell assignment and PQ decode are pure literal-codebook
    expressions fused into the corpus scan; the probe is the same
    broadcast equi-join on cell id as :func:`ivf_topk`; top-k is the
    rank window per query over probed candidates only. Residual
    encoding (PQ over vector - centroid) is deliberately NOT done:
    cosine scoring has no per-cell translation invariance, so books
    train on raw vectors -- documented divergence from the L2 IVFPQ
    formulation.
    """
    if centroids is None:
        centroids = _hash_sample_centroids(corpus, n_centroids, id_col, vec_col)
    if books is None:
        books = pq_codebooks(
            corpus, m=m, n_codewords=n_codewords, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
    cent_lits = _centroid_literals(centroids)
    # cell from the RAW vector (coarse quantizer), reconstruction from
    # the PQ codes -- both pure expressions in ONE scan-stage select
    book_lits = _book_literals(books)
    dsub = len(books[0][0])
    vec_d = _to_double(F.col(vec_col))
    recon_expr = F.flatten(
        F.array(
            *[
                F.element_at(
                    book_lit,
                    _pq_cell(
                        F.slice(vec_d, j * dsub + 1, dsub), book_lit,
                        len(books[j]),
                    )
                    + 1,
                )
                for j, book_lit in enumerate(book_lits)
            ]
        )
    )
    corpus_cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        recon_expr.alias("c_vec"),
        _nearest_cells(F.col(vec_col), cent_lits, 1)[0].alias("cell"),
    )
    query_cells = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            _nearest_cells(F.col(vec_col), cent_lits, n_probe)
        ).alias("cell"),
    )
    return _rank_pairs(corpus_cells.join(F.broadcast(query_cells), on="cell"), k)


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 4,
    n_codewords: int = 16,
    n_iter: int = 3,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist the corpus as a cell-partitioned parquet IVF-PQ index:
    under each ``cell=<i>/`` only ``(id, pq_codes)`` rows -- the raw
    vectors do NOT exist at rest. Codes store as 1-byte tinyints when
    n_codewords <= 128 (else 2-byte smallints), so the at-rest bytes
    are ~m per vector instead of 4*D: the compression PQ exists for,
    realized on disk, not just claimed. Centroids + codebooks + layout
    go to a ``_ivfpq_meta.json`` sidecar (underscore-prefixed; parquet
    readers ignore it).

    Build cost: codebook training (:func:`pq_codebooks`) + ONE corpus
    scan fusing cell assignment (raw vector) and encoding into the
    partitioned write. Queries go through :func:`ivfpq_topk_indexed`.
    """
    if centroids is None:
        centroids = _hash_sample_centroids(corpus, n_centroids, id_col, vec_col)
    if books is None:
        books = pq_codebooks(
            corpus, m=m, n_codewords=n_codewords, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
    code_t = "array<tinyint>" if len(books[0]) <= 128 else "array<smallint>"
    dsub = len(books[0][0])
    vec_d = _to_double(F.col(vec_col))
    codes = F.array(
        *[
            _pq_cell(F.slice(vec_d, j * dsub + 1, dsub), bl, len(books[j]))
            for j, bl in enumerate(_book_literals(books))
        ]
    ).cast(code_t)
    index = _ivfpq_index(path)
    index.write(
        {"": corpus.select(
            F.col(id_col), codes.alias("pq_codes"),
            _cell_of(F.col(vec_col), centroids).alias("cell"),
        )},
        "overwrite",
    )
    meta = {
        "centroids": centroids,
        "books": books,
        "m": len(books),
        "n_codewords": len(books[0]),
        "id_col": id_col,
        "vec_col": vec_col,
    }
    index.commit(meta)
    return meta


def _ivfpq_index(path: str) -> BucketedIndex:
    return BucketedIndex(
        path, "_ivfpq_meta.json", "IVF-PQ index", "write_ivfpq_index",
        part="cell", clustered=False,
    )


def read_ivfpq_meta(path: str) -> dict:
    return _ivfpq_index(path).load()[0]


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN against a :func:`write_ivfpq_index` index: probed cell
    partitions are DIRECTORY-PRUNED (static IN filter on the partition
    column from a bounded <= n_centroids-int driver action), and the
    scan reads only (id, pq_codes) -- m bytes per candidate; the
    reconstruction is a literal-codebook gather fused into the scan
    stage. Identical results to :func:`ivf_pq_topk` with the same
    centroids/books (plan-pinned in tests); the difference is the
    at-rest scan cost: ~n_probe/n_centroids of an already-m/4D-sized
    store.
    """
    index = _ivfpq_index(path)
    meta, _ = index.load()
    recon = F.flatten(
        F.array(
            *[
                F.element_at(
                    bl,
                    F.element_at(F.col("pq_codes"), j + 1).cast("int") + 1,
                )
                for j, bl in enumerate(_book_literals(meta["books"]))
            ]
        )
    )
    pairs = _cell_candidates(
        spark, index, meta["centroids"], queries, n_probe, id_col, vec_col,
        F.col(meta["id_col"]).alias("neighbor_id"), recon.alias("c_vec"),
    )
    return _rank_pairs(pairs, k)


def pq_recall_curve(
    corpus: DataFrame,
    queries: DataFrame,
    layouts: "Sequence[tuple[int, int]]" = ((4, 16), (8, 16), (16, 16)),
    n_iter: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[dict]:
    """Recall/compression tuning curve for product quantization: for
    each (m, n_codewords) layout, trains codebooks, runs :func:`pq_topk`
    against the exact baseline, and reports {'m', 'n_codewords',
    'recall', 'seconds', 'bytes_per_vec', 'compression'} -- recall
    traded against at-rest size, the PQ tuning axis (the IVF curve
    trades recall against scan fraction; composing both via
    :func:`ivf_pq_topk` multiplies the savings).
    bytes_per_vec counts one code per subspace (1 byte at
    n_codewords <= 256); compression is vs float32 vectors.
    """
    import time

    dim_row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col
        ).collect()
    }
    out = []
    for m, n_codewords in layouts:
        t0 = time.perf_counter()
        books = pq_codebooks(
            corpus, m=m, n_codewords=n_codewords, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_topk(
                corpus, queries, k=k, books=books,
                id_col=id_col, vec_col=vec_col,
            ).collect()
        }
        bytes_per_vec = m * (1 if n_codewords <= 256 else 2)
        out.append(
            {
                "m": m,
                "n_codewords": n_codewords,
                "recall": round(len(exact & approx) / max(len(exact), 1), 4),
                "seconds": round(time.perf_counter() - t0, 3),
                "bytes_per_vec": bytes_per_vec,
                "compression": round(dim * 4 / max(bytes_per_vec, 1), 1),
            }
        )
    return out


# ---------------------------------------------------------------------
# Power-iteration top principal component (exact integer arithmetic)
# ---------------------------------------------------------------------


def power_iteration_top_pc(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 8,
    n_iter: int = 3,
) -> DataFrame:
    """Top principal component of an embedding block by ``n_iter`` power-
    iteration steps, EXACT end to end -- the PCA-prep primitive
    (dominant direction for whitening, drift direction analysis, or
    deflation-based top-k PCA).

    Exactness: elements quantize to integer micros; the mean-cleared
    second-moment matrix A = n*C - s s^T (n^2 x the covariance -- same
    eigenvectors, no rational mean anywhere) accumulates in
    DECIMAL(38,0); each iteration w = A v normalizes by MAX-ABS (not
    L2: no sqrt exists in exact integer arithmetic; power iteration
    converges under any normalization) with one sign-aware HALF_UP
    division per component. Every quantity is an exact integer, so the
    unrolled DuckDB twin (:func:`power_iteration_oracle_sql`, HUGEINT)
    is bit-identical. Sign follows the iterate (deterministic, not
    canonicalized).

    Scale: ONE corpus aggregate (dim*(dim+3)/2 + 1 map-side-combined
    sums -- shuffle payload O(dim^2 x partitions), corpus-size-free);
    the iteration then runs on the DRIVER over that single collected
    row (r15 optimization): w = A v is O(dim^2) arbitrary-precision
    integer math per step -- Python ints are exact like the DECIMAL/
    HUGEINT twin lanes, and ``//`` on nonnegative ints is exactly
    ``floordiv_nonneg``, so the result is bit-identical to the former
    distributed projection chain (pinned by the unchanged oracle). The
    former in-plan form cost one Catalyst plan + codegen + 1-row
    localCheckpoint job PER ITERATION (~16x expression-tree growth per
    level forced the per-round cut; 5.5 s at sf0.1 of pure fixed
    overhead); a 1-row collect is exempt from the no-driver-data rule
    by the registry's own convention (1-row scalar reads). ``dim`` is
    the gated block size: the aggregate is O(dim^2) per row, so slice
    wide embeddings to the leading block you need (the oracle unrolls
    O(dim^2 * n_iter) expressions -- dim <= 16 is the practical twin
    range).
    """
    micro = lambda c: F.round(c.cast("double") * 1000000).cast("long")  # noqa: E731
    vm = df.select(
        *[
            micro(F.element_at(F.col(vec_col), i + 1)).alias(f"m{i}")
            for i in range(dim)
        ]
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    aggs += [F.sum(d38(F.col(f"m{j}"))).alias(f"s{j}") for j in range(dim)]
    aggs += [
        F.sum(d38(F.col(f"m{j}")) * d38(F.col(f"m{k}"))).alias(f"c{j}_{k}")
        for j in range(dim)
        for k in range(j, dim)
    ]
    r = vm.agg(*aggs).collect()[0]  # 1-row scalar read (dim^2 cells)

    # driver-side exact iterate over the collected moment row: Python
    # ints ARE the DECIMAL(38,0)/HUGEINT lane (unbounded, exact), and
    # `//` on nonnegative ints == floordiv_nonneg. Empty input mirrors
    # the SQL NULL propagation: every output is NULL.
    if (
        r["n"] is None
        or int(r["n"]) == 0
        or any(r[f"s{j}"] is None for j in range(dim))
        or any(
            r[f"c{j}_{k}"] is None
            for j in range(dim)
            for k in range(j, dim)
        )
    ):
        # a NULL moment cell with n > 0 (e.g. every vector shorter than
        # dim, so element_at -> NULL and SUM over all-NULL is NULL)
        # propagates to an all-NULL pc row, matching the former in-plan
        # SQL's NULL arithmetic instead of raising TypeError on int(None)
        # (ADVICE r15; pinned by tests/test_advice_fixes.py)
        pc: list[int | None] = [None] * dim
    else:
        n = int(r["n"])
        s = [int(r[f"s{j}"]) for j in range(dim)]
        c = {
            (j, k): int(r[f"c{j}_{k}"])
            for j in range(dim)
            for k in range(j, dim)
        }
        A = [
            [
                n * c[(min(j, k), max(j, k))] - s[j] * s[k]
                for k in range(dim)
            ]
            for j in range(dim)
        ]
        # v0 = all-ones in micros; each iteration: w = A v, v' =
        # max-abs normalized w (HALF_UP micros, sign-aware)
        v = [1_000_000] * dim
        for _it in range(n_iter):
            w = [
                sum(A[k][j] * v[j] for j in range(dim)) for k in range(dim)
            ]
            mx = max(abs(x) for x in w)
            if mx == 0:
                v = [0] * dim
            else:
                v = [
                    (-1 if x < 0 else 1)
                    * ((2 * 1_000_000 * abs(x) + mx) // (2 * mx))
                    for x in w
                ]
        pc = list(v)
    return df.sparkSession.createDataFrame(
        [(k, pc[k]) for k in range(dim)],
        "dim_idx int, pc_micros long",
    )


def power_iteration_oracle_sql(
    vec_sql: str = "embedding",
    table: str = "embeddings",
    dim: int = 8,
    n_iter: int = 3,
) -> str:
    """DuckDB twin of :func:`power_iteration_top_pc`: identical micros,
    identical n-cleared moment matrix, the iteration UNROLLED one CTE
    per step in HUGEINT -- bit-identical by construction."""
    # ::DOUBLE first: the raw element is FLOAT32 and DuckDB would
    # multiply in float precision, diverging from Spark's double math
    mic = ", ".join(
        f"round(({vec_sql}[{i + 1}])::DOUBLE * 1000000)::BIGINT AS m{i}"
        for i in range(dim)
    )
    sums = ", ".join(f"sum(m{j}::HUGEINT) AS s{j}" for j in range(dim))
    crosses = ", ".join(
        f"sum(m{j}::HUGEINT * m{k}::HUGEINT) AS c{j}_{k}"
        for j in range(dim)
        for k in range(j, dim)
    )
    def a(j, k):
        lo, hi = min(j, k), max(j, k)
        return f"(n * c{lo}_{hi} - s{j} * s{k})"
    mat = ", ".join(
        f"{a(j, k)} AS a{j}_{k}" for j in range(dim) for k in range(dim)
    )
    parts = [
        f"mic AS (SELECT {mic} FROM {table})",
        f"agg AS (SELECT count(*)::HUGEINT AS n, {sums}, {crosses} FROM mic)",
        f"mat AS (SELECT {mat} FROM agg)",
        "it0 AS (SELECT *, "
        + ", ".join(f"1000000::HUGEINT AS v{k}" for k in range(dim))
        + " FROM mat)",
    ]
    for t in range(1, n_iter + 1):
        ws = ", ".join(
            "("
            + " + ".join(f"a{k}_{j} * v{j}" for j in range(dim))
            + f") AS w{k}"
            for k in range(dim)
        )
        mx = "greatest(" + ", ".join(f"abs(w{k})" for k in range(dim)) + ")"
        vs = ", ".join(
            f"CASE WHEN mx = 0 THEN 0::HUGEINT ELSE "
            f"(CASE WHEN w{k} < 0 THEN -1 ELSE 1 END)::HUGEINT"
            f" * ((2::HUGEINT * 1000000 * abs(w{k}) + mx)"
            f" // (2::HUGEINT * mx)) END AS v{k}"
            for k in range(dim)
        )
        acols = ", ".join(
            f"a{j}_{k}" for j in range(dim) for k in range(dim)
        )
        parts.append(
            f"w{t} AS (SELECT {acols}, {ws}, {mx} AS mx FROM it{t - 1})"
        )
        parts.append(f"it{t} AS (SELECT {acols}, {vs} FROM w{t})")
    unions = " UNION ALL ".join(
        f"SELECT {k} AS dim_idx, v{k}::BIGINT AS pc_micros FROM it{n_iter}"
        for k in range(dim)
    )
    return "WITH " + ",\n".join(parts) + "\n" + unions


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 12,
    bits_per_band: int = 6,
    dim: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Drop training rows whose EMBEDDING is near any held-out eval
    embedding -- decontamination at the SEMANTIC level, the complement
    of the lexical 8-gram screen (q48/z15): paraphrased eval leakage
    shares no n-grams but lands next to the eval point in embedding
    space.

    Mechanics mirror :func:`cosine_neardup_pairs`'s banded stages
    CROSS-SET (no train-train or eval-eval pairs are ever formed): both
    sides get Arrow-batched integer-micros sign signatures over the
    SAME deterministic Rademacher planes, candidates are the
    (band, key) equi-join of train bands against eval bands, and only
    candidates pay the exact left-to-right-fold cosine (same
    pair-vectorized Arrow verify, bit-identical to the oracle). Returns
    the surviving train rows (anti-join on contaminated ids).

    Scale: eval sets are small by nature -- the eval band table is
    broadcastable, so the screen costs one train-side signature scan +
    a broadcast probe; the train embeddings themselves shuffle only for
    the candidate verify join (candidates, not corpus).
    """
    import numpy as np
    import pandas as pd

    planes = rademacher_planes(bands * bits_per_band, dim, seed)
    plane_mat = np.asarray(planes, dtype=np.int64).T
    n_bands, bpb = bands, bits_per_band

    def sig_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            micros = np.rint(vecs * 1_000_000.0).astype(np.int64)
            bits = (micros @ plane_mat) >= 0
            keys = np.zeros((len(pdf), n_bands), dtype=np.int32)
            for b in range(n_bands):
                for j in range(bpb):
                    keys[:, b] |= bits[:, b * bpb + j].astype(np.int32) << j
            yield pd.DataFrame(
                {
                    "bid": np.repeat(pdf["bid"].to_numpy(), n_bands),
                    "band": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(pdf)
                    ),
                    "key": keys.reshape(-1),
                }
            )

    def bands_of(d: DataFrame) -> DataFrame:
        return d.select(
            F.col(id_col).alias("bid"), F.col(vec_col).alias("_v")
        ).mapInPandas(sig_batches, "bid long, band int, key int")

    tb = bands_of(train).select(
        F.col("bid").alias("train_id"), "band", "key"
    )
    eb = bands_of(eval_df).select(
        F.col("bid").alias("eval_id"), "band", "key"
    )
    cand = (
        tb.join(F.broadcast(eb), ["band", "key"])
        .select("train_id", "eval_id")
        .distinct()
    )
    tv = train.select(
        F.col(id_col).alias("train_id"), F.col(vec_col).alias("_va")
    )
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("_vb")
    )

    def verify_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            vb = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            n_rows = len(pdf)
            dot = np.zeros(n_rows)
            na = np.zeros(n_rows)
            nb = np.zeros(n_rows)
            for i in range(va.shape[1]):  # left-to-right fold (oracle parity)
                dot += va[:, i] * vb[:, i]
                na += va[:, i] * va[:, i]
                nb += vb[:, i] * vb[:, i]
            cos = np.round(dot / (np.sqrt(na) * np.sqrt(nb)), 6)
            keep = cos >= threshold
            yield pd.DataFrame({"train_id": pdf["train_id"].to_numpy()[keep]})

    dirty = (
        cand.join(tv, "train_id")
        .join(F.broadcast(ev), "eval_id")
        .mapInPandas(verify_batches, "train_id long")
        .distinct()
        .withColumnRenamed("train_id", id_col)
    )
    return train.join(dirty, id_col, "left_anti")


def ndcg_discounts_micros(k: int) -> list[int]:
    """The DCG discount vector 1/log2(i+1), i = 1..k, QUANTIZED to
    integer micros driver-side and baked into BOTH engines' plans as
    the same INTEGER literals (the rademacher_planes determinism
    pattern). Quantization is part of the metric contract here: with
    integer gains it makes DCG an exact BIGINT sum -- a float dot fold
    is NOT portable (DuckDB's list_dot_product is not strictly
    left-to-right; measured 1-ulp drift), and a 1e-6 discount
    quantization is far below any decision threshold an eval gate
    uses."""
    import math

    return [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def retrieval_ndcg_mrr(
    run: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query nDCG@k and MRR of a retrieval run -- the ranking-eval
    table every retrieval/reranker experiment reads, as a first-class
    verified query (the z75 recall@k sibling with GRADED relevance):

        DCG@k  = sum_i gain_i * disc_i        (i = rank; disc in micros)
        nDCG@k = DCG@k / IDCG@k               (ideal = gains sorted desc)
        RR     = 1 / rank of the first gain > 0

    ``run`` holds (query, rank, integer gain) rows, rank 1..<=k per
    query, any ranked operator's output joined to relevance labels.
    Determinism: gains are exact integers and the discounts are
    INTEGER-MICROS literals (:func:`ndcg_discounts_micros`), so DCG and
    IDCG are exact BIGINT sums (gain-discount-micros units) and nDCG is
    one HALF_UP micros ratio of exact integers -- zero float anywhere;
    a double dot fold is not portable (DuckDB's list_dot_product
    summation order drifts 1 ulp). RR is an exact HALF_UP micros ratio.
    NULL nDCG/RR when a query has no relevant result (no fake zeros).

    Scale shape: one query-keyed aggregate packing <= k rows into an
    in-row array, then pure in-row array math -- no window, no second
    shuffle; output is |Q| rows.
    """
    from ..functions.exactnum import ratio_micros_halfup

    disc = F.array(
        *[F.lit(d).cast("long") for d in ndcg_discounts_micros(k)]
    )
    # (rank, gain) packed into ONE BIGINT rank*1e6 + gain so the rank
    # ordering is a plain integer sort in both engines (no struct-sort
    # semantics to align); gains are small nonneg ints by contract
    packed = run.groupBy(F.col(query_col).alias("query_id")).agg(
        F.array_sort(
            F.collect_list(
                F.col(rank_col).cast("long") * F.lit(1_000_000)
                + F.col(rel_col).cast("long")
            )
        ).alias("_rg"),
        F.min(F.when(F.col(rel_col) > 0, F.col(rank_col))).alias("_first"),
    )
    gains = F.transform(F.col("_rg"), lambda x: x % F.lit(1_000_000))
    zero = F.lit(0).cast("long")
    pad = F.slice(F.concat(gains, F.array_repeat(zero, k)), 1, k)
    ideal = F.reverse(F.array_sort(pad))
    dot = lambda a: F.aggregate(  # noqa: E731 - exact BIGINT fold
        F.zip_with(a, disc, lambda x, y: x * y), zero, lambda acc, x: acc + x
    )
    dcg, idcg = dot(pad), dot(ideal)
    return packed.select(
        "query_id",
        F.size("_rg").alias("n_ranked"),
        dcg.alias("dcg_um"),
        idcg.alias("idcg_um"),
        F.when(
            idcg > 0, ratio_micros_halfup(dcg, idcg)
        ).alias("ndcg_micros"),
        F.col("_first").cast("long").alias("first_rel_rank"),
        F.when(
            F.col("_first").isNotNull(),
            ratio_micros_halfup(F.lit(1), F.col("_first")),
        ).alias("rr_micros"),
    )


def retrieval_ndcg_mrr_oracle_sql(run_sql: str, k: int = 10) -> str:
    """DuckDB twin of :func:`retrieval_ndcg_mrr`: the same integer-
    micros discount literals, exact BIGINT dot sums (order-free because
    integer addition is associative), the same cleared-integer ratios.
    ``run_sql`` must yield (query_id, rank, rel)."""
    disc = (
        "[" + ",".join(f"{d}::BIGINT" for d in ndcg_discounts_micros(k)) + "]"
    )
    return f"""
WITH run AS ({run_sql}),
packed AS (
  SELECT query_id,
         list_sort(list(rank::BIGINT * 1000000 + rel::BIGINT)) AS rg,
         min(CASE WHEN rel > 0 THEN rank END) AS first_rel
  FROM run GROUP BY query_id),
arrs AS (
  SELECT query_id, len(rg)::BIGINT AS n_ranked, first_rel,
         ([x % 1000000 for x in rg]
          || [0::BIGINT for _ in generate_series(1, {k})])[1:{k}] AS pad
  FROM packed),
sc AS (
  SELECT query_id, n_ranked, first_rel,
         list_sum(list_apply(list_zip(pad, {disc}),
                             z -> z[1] * z[2]))::BIGINT AS dcg,
         list_sum(list_apply(list_zip(list_reverse_sort(pad), {disc}),
                             z -> z[1] * z[2]))::BIGINT AS idcg
  FROM arrs)
SELECT query_id, n_ranked, dcg AS dcg_um, idcg AS idcg_um,
       CASE WHEN idcg > 0
            THEN (2000000 * dcg + idcg) // (2 * idcg) END::BIGINT
         AS ndcg_micros,
       first_rel::BIGINT AS first_rel_rank,
       CASE WHEN first_rel IS NOT NULL
            THEN (2000000 * 1 + first_rel) // (2 * first_rel)
       END::BIGINT AS rr_micros
FROM sc
"""


def rbo_suffix_weights_micros(k: int, p: float = 0.9) -> list[int]:
    """Rank-biased-overlap depth weights, precomputed as SUFFIX sums and
    quantized to integer micros driver-side (the z185 discount rule).

    RBO@k = (1-p) * sum_{d=1..k} p^(d-1) * |A intersect B at depth d|/d.
    An item appearing at ranks (ra, rb) in the two lists is inside the
    depth-d intersection for every d >= max(ra, rb), so its total
    contribution is the suffix sum SW[max(ra, rb)] -- which turns RBO
    into ONE join + ONE integer sum, no per-depth pass. Index m-1 holds
    SW[m] = round(1e6 * sum_{d=m..k} (1-p) p^(d-1) / d).
    """
    import math  # noqa: F401 - parity with ndcg helper style

    per_depth = [(1 - p) * p ** (d - 1) / d for d in range(1, k + 1)]
    return [
        round(1_000_000 * sum(per_depth[m - 1:])) for m in range(1, k + 1)
    ]


def rank_agreement_rbo(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 10,
    p: float = 0.9,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query truncated rank-biased overlap (Webber et al. TOIS'10)
    between two retrieval runs -- the top-weighted agreement score for
    comparing rankers (exact vs quantized ANN, old vs new BM25): unlike
    recall@k it rewards agreeing EARLY, and unlike Kendall's tau it is
    defined for non-conjoint top-k lists. Truncated at depth k with no
    extrapolation = the conservative RBO_min (identical runs score
    1 - p^k, ~0.651e6 micros at k=10, p=0.9 -- by design, the residual
    mass belongs to unseen depths).

    Exactness: the per-depth geometric weights fold into per-item
    SUFFIX-sum literals quantized ONCE to integer micros
    (:func:`rbo_suffix_weights_micros`), so each common item
    contributes SW[max(ra, rb)] and the per-query score is an exact
    BIGINT sum -- zero float (the z185 rule).

    Scale shape: one equi-join of the two (|Q| x k)-sized runs on
    (query, item), one literal-array lookup, one query-keyed sum, and a
    left join back to the run-A query set so zero-overlap queries
    report 0, not a missing row.

    Output: (query_id, n_common, rbo_micros).
    """
    sw = rbo_suffix_weights_micros(k, p)
    sw_arr = F.array(*[F.lit(w).cast("long") for w in sw])
    a = run_a.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("_item"),
        F.col(rank_col).cast("int").alias("_ra"),
    ).filter(F.col("_ra") <= k)
    b = run_b.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("_item"),
        F.col(rank_col).cast("int").alias("_rb"),
    ).filter(F.col("_rb") <= k)
    common = a.join(b, ["query_id", "_item"]).select(
        "query_id",
        F.element_at(sw_arr, F.greatest("_ra", "_rb")).alias("_w"),
    )
    scored = common.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("_w").cast("long").alias("rbo_micros"),
    )
    return (
        a.select("query_id")
        .distinct()
        .join(scored, "query_id", "left")
        .fillna({"n_common": 0, "rbo_micros": 0})
    )


def rank_agreement_rbo_oracle_sql(
    run_a_sql: str, run_b_sql: str, k: int = 10, p: float = 0.9
) -> str:
    """DuckDB twin of :func:`rank_agreement_rbo` (same quantized
    suffix-weight literals, same single-join algebra)."""
    sw = rbo_suffix_weights_micros(k, p)
    arr = "[" + ",".join(f"{w}::BIGINT" for w in sw) + "]"
    return f"""
WITH a AS (SELECT query_id, neighbor_id AS item, rank AS ra
           FROM ({run_a_sql}) ra0 WHERE rank <= {k}),
b AS (SELECT query_id, neighbor_id AS item, rank AS rb
      FROM ({run_b_sql}) rb0 WHERE rank <= {k}),
common AS (
  SELECT a.query_id, {arr}[greatest(ra, rb)] AS w
  FROM a JOIN b ON b.query_id = a.query_id AND b.item = a.item),
scored AS (SELECT query_id, count(*)::BIGINT AS n_common,
                  sum(w)::BIGINT AS rbo_micros
           FROM common GROUP BY query_id)
SELECT q.query_id,
       coalesce(n_common, 0)::BIGINT AS n_common,
       coalesce(rbo_micros, 0)::BIGINT AS rbo_micros
FROM (SELECT DISTINCT query_id FROM a) q
LEFT JOIN scored USING (query_id)
"""


def rank_agreement_kendall(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query Kendall tau-a between two retrieval runs, computed on
    the CONJOINT items (those in both top-k lists) -- the pairwise-
    order complement of :func:`rank_agreement_rbo`: RBO asks "how much
    do the lists overlap, weighted early", tau asks "of what they
    share, how consistently is it ORDERED". A reranker that keeps the
    same candidate set but scrambles its order scores high RBO overlap
    and low tau; reading both localizes a ranking regression.

    tau = (C - D) / C(n, 2) over the n conjoint items' pairs,
    concordant iff the two runs order the pair the same way; ranks
    within a top-k run are distinct so there are no ties and tau-a is
    the right variant. Every quantity is an exact integer and the
    score ONE sign-aware HALF_UP micros division (tau is negative for
    reversed orderings -- it must show as such, not clamp).

    Scale shape: the conjoint set is <= k per query, so the pair
    expansion is a bounded equi-self-join on query_id producing at
    most C(k,2) rows per query (k=10 -> 45) -- linear in |Q|, never in
    the corpus; then one query-keyed count aggregate and a left join
    back to run A's query set (zero-conjoint queries report n_pairs=0
    and NULL tau: "no evidence", distinct from tau=0 "evidence of
    independence").

    Output: (query_id, n_common, n_pairs, n_concordant, n_discordant,
    tau_micros).
    """
    from ..functions.exactnum import ratio_micros_halfup

    a = run_a.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("_item"),
        F.col(rank_col).cast("int").alias("_ra"),
    ).filter(F.col("_ra") <= k)
    b = run_b.select(
        F.col(query_col).alias("query_id"),
        F.col(id_col).alias("_item"),
        F.col(rank_col).cast("int").alias("_rb"),
    ).filter(F.col("_rb") <= k)
    conjoint = a.join(b, ["query_id", "_item"])
    lhs = conjoint.select(
        "query_id",
        F.col("_item").alias("_i1"),
        F.col("_ra").alias("_ra1"),
        F.col("_rb").alias("_rb1"),
    )
    rhs = conjoint.select(
        "query_id",
        F.col("_item").alias("_i2"),
        F.col("_ra").alias("_ra2"),
        F.col("_rb").alias("_rb2"),
    )
    pairs = lhs.join(rhs, "query_id").filter(F.col("_i1") < F.col("_i2"))
    sgn = (F.col("_ra1") - F.col("_ra2")) * (F.col("_rb1") - F.col("_rb2"))
    per_q = pairs.groupBy("query_id").agg(
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias(
            "n_concordant"
        ),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias(
            "n_discordant"
        ),
    )
    counts = conjoint.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    num = F.col("n_concordant") - F.col("n_discordant")
    den = (F.col("n_common") * (F.col("n_common") - 1) / F.lit(2)).cast(
        "long"
    )
    return (
        a.select("query_id")
        .distinct()
        .join(counts, "query_id", "left")
        .join(per_q, "query_id", "left")
        .fillna({"n_common": 0, "n_concordant": 0, "n_discordant": 0})
        .select(
            "query_id",
            "n_common",
            den.alias("n_pairs"),
            "n_concordant",
            "n_discordant",
            F.when(den == 0, F.lit(None).cast("long"))
            .otherwise(
                F.signum(num).cast("long")
                * ratio_micros_halfup(F.abs(num), den)
            )
            .alias("tau_micros"),
        )
    )


def rank_agreement_kendall_oracle_sql(
    run_a_sql: str, run_b_sql: str, k: int = 10
) -> str:
    """DuckDB twin of :func:`rank_agreement_kendall` (same conjoint
    pair algebra, same sign-aware HALF_UP)."""
    return f"""
WITH a AS (SELECT query_id, neighbor_id AS item, rank AS ra
           FROM ({run_a_sql}) ra0 WHERE rank <= {k}),
b AS (SELECT query_id, neighbor_id AS item, rank AS rb
      FROM ({run_b_sql}) rb0 WHERE rank <= {k}),
conjoint AS (
  SELECT a.query_id, a.item, a.ra, b.rb
  FROM a JOIN b ON b.query_id = a.query_id AND b.item = a.item),
pairs AS (
  SELECT c1.query_id,
         (c1.ra - c2.ra) * (c1.rb - c2.rb) AS sgn
  FROM conjoint c1 JOIN conjoint c2
    ON c2.query_id = c1.query_id AND c1.item < c2.item),
per_q AS (
  SELECT query_id,
         sum(CASE WHEN sgn > 0 THEN 1 ELSE 0 END)::BIGINT AS n_concordant,
         sum(CASE WHEN sgn < 0 THEN 1 ELSE 0 END)::BIGINT AS n_discordant
  FROM pairs GROUP BY query_id),
counts AS (SELECT query_id, count(*)::BIGINT AS n_common
           FROM conjoint GROUP BY query_id)
SELECT q.query_id,
       coalesce(n_common, 0)::BIGINT AS n_common,
       (coalesce(n_common, 0) * (coalesce(n_common, 0) - 1) // 2)::BIGINT
         AS n_pairs,
       coalesce(n_concordant, 0)::BIGINT AS n_concordant,
       coalesce(n_discordant, 0)::BIGINT AS n_discordant,
       (CASE WHEN coalesce(n_common, 0) < 2 THEN NULL ELSE
         (CASE WHEN (coalesce(n_concordant, 0) - coalesce(n_discordant, 0))
                    >= 0 THEN 1 ELSE -1 END)
         * ((2000000 * abs(coalesce(n_concordant, 0)
                           - coalesce(n_discordant, 0))
             + (n_common * (n_common - 1) // 2))
            // (2 * (n_common * (n_common - 1) // 2)))
        END)::BIGINT AS tau_micros
FROM (SELECT DISTINCT query_id FROM a) q
LEFT JOIN counts USING (query_id)
LEFT JOIN per_q USING (query_id)
"""


def anchor_margin_profile(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_anchors: int = 100_000,
) -> DataFrame:
    """Per-cell ROUTING-MARGIN profile of an anchor/centroid assignment:
    for every corpus vector, the gap between its best and second-best
    anchor cosine -- the confidence with which IVF-style cell routing
    (q60/q97/z120/z130) sends it to its cell. A cell full of
    near-zero margins is exactly where single-probe recall dies and
    ``n_probe`` must rise; this is the observability table that turns
    "recall 0.66, why?" into "these 2 cells route ambiguously".

    Exactness WITHOUT float aggregation (the z185 family rule, applied
    to selection instead of summation): per-vector cosines use the
    q38-proven round(cos, 6) fold, the margin is ONE subtraction of
    bit-identical doubles followed by ONE floor((c1-c2)*1e6) -- floor
    of identical doubles is identical in both engines, so the margin
    lands in exact BIGINT micros (granularity 1e-6, the definition of
    the metric, not an approximation of some other number) -- and the
    per-cell profile reports SELECTED order statistics over those
    integers: min, nearest-rank lower median, max. No double survives
    into the output and no float is ever summed. Assignment ties
    break toward the smaller anchor id (deterministic, the q97
    family rule).

    Scale shape: one broadcast of the bounded anchor side
    (``max_anchors`` guard, the q38 contract) against a single corpus
    scan, one per-vector window over the anchor count (bounded), one
    per-cell window for the median rank, one count aggregate.

    Output: (cell_id, n_vectors, min_margin_micros,
    median_margin_micros, max_margin_micros) -- margins in [0, 2e6]
    micros, 0 = perfectly ambiguous routing. All BIGINT.
    """
    _guard_broadcast_queries(anchors, max_anchors)
    a = anchors.select(
        F.col(id_col).alias("_aid"), F.col(vec_col).alias("_avec")
    )
    c = corpus.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_cvec")
    )
    scored = c.crossJoin(F.broadcast(a)).select(
        "_vid",
        "_aid",
        F.round(cosine(F.col("_cvec"), F.col("_avec")), 6).alias("_cos"),
    )
    w = W.partitionBy("_vid").orderBy(F.desc("_cos"), F.asc("_aid"))
    top2 = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 2)
        .groupBy("_vid")
        .agg(
            F.max(F.when(F.col("_r") == 1, F.col("_aid"))).alias(
                "cell_id"
            ),
            F.max(F.when(F.col("_r") == 1, F.col("_cos"))).alias("_c1"),
            F.max(F.when(F.col("_r") == 2, F.col("_cos"))).alias("_c2"),
        )
        .select(
            "_vid",
            "cell_id",
            F.floor((F.col("_c1") - F.col("_c2")) * F.lit(1_000_000.0))
            .cast("long")
            .alias("_margin"),
        )
    )
    wc = W.partitionBy("cell_id").orderBy(F.asc("_margin"), F.asc("_vid"))
    ranked = top2.withColumn("_mr", F.row_number().over(wc))
    stats = ranked.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("_margin").alias("min_margin_micros"),
        F.max("_margin").alias("max_margin_micros"),
    )
    medians = (
        ranked.join(
            stats.select(
                "cell_id",
                ((F.col("n_vectors") + 1) / 2).cast("long").alias("_mrank"),
            ),
            "cell_id",
        )
        .filter(F.col("_mr") == F.col("_mrank"))
        .select("cell_id", F.col("_margin").alias("median_margin_micros"))
    )
    return stats.join(medians, "cell_id").select(
        "cell_id",
        "n_vectors",
        "min_margin_micros",
        "median_margin_micros",
        "max_margin_micros",
    )


def anchor_margin_profile_oracle_sql(
    corpus_sql: str, anchors_sql: str, cos_sql: str
) -> str:
    """DuckDB twin of :func:`anchor_margin_profile` (same rounded
    cosine fold via ``cos_sql`` templated over qv/v, same
    floor((c1-c2)*1e6) micro quantization, same rank selections)."""
    return f"""
WITH c AS (SELECT vec_id AS vid, v FROM ({corpus_sql}) c0),
a AS (SELECT vec_id AS aid, v AS qv FROM ({anchors_sql}) a0),
scored AS (
  SELECT vid, aid, {cos_sql} AS cos
  FROM c CROSS JOIN a),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vid
                               ORDER BY cos DESC, aid) AS r
  FROM scored),
top2 AS (
  SELECT vid,
         max(CASE WHEN r = 1 THEN aid END) AS cell_id,
         floor((max(CASE WHEN r = 1 THEN cos END)
                - max(CASE WHEN r = 2 THEN cos END)) * 1000000.0)::BIGINT
           AS margin
  FROM ranked WHERE r <= 2 GROUP BY vid),
mranked AS (
  SELECT *, row_number() OVER (PARTITION BY cell_id
                               ORDER BY margin, vid) AS mr
  FROM top2),
stats AS (
  SELECT cell_id, count(*)::BIGINT AS n_vectors,
         min(margin)::BIGINT AS min_margin_micros,
         max(margin)::BIGINT AS max_margin_micros
  FROM top2 GROUP BY cell_id)
SELECT s.cell_id, s.n_vectors, s.min_margin_micros,
       m.margin::BIGINT AS median_margin_micros, s.max_margin_micros
FROM stats s
JOIN mranked m
  ON m.cell_id = s.cell_id AND m.mr = (s.n_vectors + 1) // 2
"""
