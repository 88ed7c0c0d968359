"""Training-data preparation operators: deterministic splits and
sequence packing.

Both are pure JVM-side expressions with exact DuckDB twins (oracle-gated),
and both are designed around Spark's partitioning model:

  * hash_split      content-hash bucketing -> train/valid/test labels.
                    Deterministic across engines AND across reshuffles
                    (the bucket is a pure function of the row content, not
                    of partition layout), so re-running the pipeline over
                    re-partitioned data never migrates a document across
                    splits -- the property that matters for contamination
                    control at 100 TB.
  * pack_token_bins greedy sequential packing of documents into
                    fixed-token-budget bins (pretraining sequence
                    packing). Packing is per `part_col` partition group
                    (e.g. source shard): the cumulative-sum window is
                    partitionBy(part_col), so the shuffle distributes by
                    shard and NO global single-partition window exists --
                    the global-order variant would serialize 100 TB
                    through one task.

The reference repo has no training surface; these extend the engine per
the north-star brief (BASELINE.json).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.xhash import char_poly_hash, ws_tokens
from .text import token_count


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunks -- the RAG/embedding-ingest shape:
    each document becomes windows of ``chunk_tokens`` whitespace tokens
    starting every ``chunk_tokens - overlap`` positions (the last window
    may be shorter). Output rows
    ``(doc_id, chunk_idx, begin_tok, n_tokens, chunk_text)`` carry full
    provenance: ``begin_tok`` (0-based) + ``n_tokens`` locate every
    chunk in its source exactly, so chunks are re-joinable to documents
    and de-chunkable for training-data audits.

    Pure built-ins (sequence -> posexplode -> slice -> concat_ws): the
    explode inflates rows ~len/stride per doc inside the scan stage with
    NO shuffle at all -- chunking a 100 TB corpus is embarrassingly
    parallel and this plan keeps it that way. The token array is
    projected to a column before slicing (the word_shingles PERF
    CONTRACT: indexed access over an unmaterialized split re-runs the
    split per window). Empty/whitespace-only docs yield one chunk of the
    empty-string token (both engines tokenize '' to ['']; see
    ``ws_tokens``).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        ws_tokens(F.col(text_col)).alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    return (
        toks.select(
            "doc_id", "_toks", "_n",
            F.posexplode(starts).alias("chunk_idx", "begin_tok"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "begin_tok",
            F.least(
                F.lit(chunk_tokens), F.col("_n") - F.col("begin_tok")
            ).alias("n_tokens"),
            F.concat_ws(
                " ",
                F.slice(F.col("_toks"), F.col("begin_tok") + 1, chunk_tokens),
            ).alias("chunk_text"),
        )
    )


def chunk_documents_oracle_sql(
    chunk_tokens: int = 64,
    overlap: int = 16,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`chunk_documents` (1-based list slicing with
    clamped upper bound; generate_series is inclusive like F.sequence)."""
    stride = chunk_tokens - overlap
    return f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM {table}),
s AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(generate_series(0, len(w) - 1, {stride})) AS begin_tok
  FROM t)
SELECT doc_id,
       (begin_tok // {stride})::INT AS chunk_idx,
       begin_tok::INT AS begin_tok,
       least({chunk_tokens}, n - begin_tok)::INT AS n_tokens,
       array_to_string(w[begin_tok + 1 : begin_tok + {chunk_tokens}], ' ')
         AS chunk_text
FROM s
"""


def hash_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_pct: int = 80,
    valid_pct: int = 10,
) -> DataFrame:
    """Label every row train/valid/test by a content-hash bucket in [0, 100).

    bucket = char_poly_hash(md5(text)) % 100 -- md5 first so near-identical
    texts still spread uniformly, poly-hash second so the bucket is
    reproducible in the DuckDB oracle (md5 hex is identical across
    engines). Rows with equal text land in the same split by construction
    (the leak-safe direction for duplicated corpora).
    """
    bucket = char_poly_hash(F.md5(F.col(text_col))) % 100
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def weighted_sample(
    df: DataFrame,
    weights: "dict[str, float] | Column | DataFrame",
    default_weight: float = 1.0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic per-source Bernoulli sampling (corpus mixing).

    Keeps a row iff ``content_bucket < weight[source] * 10000`` where
    content_bucket = char_poly_hash(md5(text)) % 10000 -- the standard
    up/down-weighting step when mixing training corpora (keep 30% of web,
    100% of books, ...). Content-hash gating makes the decision a pure
    function of the row, so it is reproducible across engines, reshuffles,
    and reruns, and equal texts are kept or dropped together (consistent
    with `hash_split`'s contamination-control property). No sampling
    shuffle: the filter evaluates per-row at scan time.

    ``weights`` is one of:
      * a Column -- the per-row weight expression itself (fully
        driver-action-free; the scale default when the weight is a
        function of row attributes),
      * a DataFrame of (``source_col``, ``weight``) -- broadcast-joined
        onto the corpus, missing sources get ``default_weight`` (the shape
        for externally-supplied mixing tables; never collected),
      * a dict of source -> weight -- folded into a literal CASE chain
        (convenience for small hand-written maps).
    """
    from pyspark.sql import Column

    bucket = char_poly_hash(F.md5(F.col(text_col))) % 10000
    if isinstance(weights, Column):
        w = weights
    elif isinstance(weights, DataFrame):
        wdf = weights.select(
            F.col(source_col), F.col("weight").cast("double").alias("_wt")
        )
        return (
            df.join(F.broadcast(wdf), on=source_col, how="left")
            .withColumn("_wt", F.coalesce(F.col("_wt"), F.lit(float(default_weight))))
            .filter(bucket < (F.col("_wt") * 10000).cast("long"))
            .drop("_wt")
        )
    else:
        w = F.lit(float(default_weight))
        for src, wt in sorted(weights.items()):
            w = F.when(F.col(source_col) == src, F.lit(float(wt))).otherwise(w)
    return df.filter(bucket < (w * 10000).cast("long"))


def pack_token_bins(
    df: DataFrame,
    budget: int = 2048,
    part_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy sequential sequence packing: per ``part_col`` group, walk
    documents in ``id_col`` order accumulating token counts; a document
    lands in bin floor(tokens_before_it / budget).

    One bin-id per (part_col, bin_id); documents longer than the budget
    occupy their own bin(s) (never split -- a packer that splits documents
    is a tokenizer-level concern). Returns per-bin stats.
    """
    n_tok = token_count(F.col(text_col))
    w = (
        W.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        df.select(part_col, id_col, n_tok.alias("n_tokens"))
        .withColumn("bin_id", F.floor((cum - F.col("n_tokens")) / budget))
        .groupBy(part_col, "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
    )


def ngram_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination probe: per training document, how many
    distinct word n-grams it shares with an evaluation corpus.

    The standard pre-training hygiene step (filter/flag training docs that
    leak eval content). Shape at scale: the eval side is a benchmark --
    small by construction -- so its distinct-gram set broadcasts; the
    training side streams through scan -> shingle explode -> broadcast
    hash join (the join immediately discards the ~50x explode inflation)
    -> one groupBy on the doc id. No shuffle ever carries the exploded
    grams of non-matching docs.

    Returns (id_col, n_shared_grams) for contaminated docs only; callers
    anti-join or threshold on it. Shingles are distinct per doc and the
    eval set is distinct, so a plain count() is the distinct-gram count.

    Both sides repartition on the doc id BEFORE shingling: corpora often
    arrive as few large files, and the n-word shingle transform inflates
    per-row work ~n x |doc| -- without the spread the whole pipeline runs
    at input-split parallelism (measured 17.8 s -> 4.8 s at sf0.1 on a
    single-file corpus). Grams join as xxhash64 longs, not strings: an
    8-byte broadcast key instead of ~50-char shingles, equality-safe up to
    the usual ~2^-64 collision odds per pair.
    """
    ev = _doc_grams(eval_df, n, text_col, id_col).select("gram").distinct()
    return (
        _doc_grams(train_df, n, text_col, id_col)
        .join(F.broadcast(ev), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )


def _doc_grams(d: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, gram-hash) rows: distinct word n-grams per doc, as xxhash64
    longs (8-byte join keys instead of ~50-char shingle strings).

    Repartitions on the doc id BEFORE shingling: corpora often arrive as
    few large files and the shingle transform inflates per-row work
    ~n x |doc| -- without the spread the pipeline runs at
    input-split parallelism (measured 17.8 s -> 4.8 s at sf0.1 on a
    single-file corpus).
    """
    from ..functions.xhash import word_shingles, ws_tokens

    spread = d.repartition(d.sparkSession.sparkContext.defaultParallelism, id_col)
    # materialized tokens first (see dedup.shingle_sets: O(len^2) otherwise)
    sh = word_shingles(F.col("_toks"), n)
    return spread.withColumn("_toks", ws_tokens(F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.transform(sh, lambda g: F.xxhash64(g))).alias("gram"),
    )


def bloom_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """``ngram_contamination`` for the regime where the eval gram set is
    too big to broadcast as an exact hash set: Bloom prefilter + exact
    verify. Result-identical to the exact operator (same oracle).

    Why this exists: the broadcast join in ``ngram_contamination`` ships
    ~8 bytes per distinct eval gram to every executor. A benchmark suite
    is small, but decontaminating against a large held-out corpus (or
    many benchmarks at once) can push the exact set past broadcast
    limits. A Bloom filter needs ~1.2 bytes/element at 1% fp (vs 8+),
    and -- crucially -- its size is CAPPED at ``m_bits/8`` bytes no
    matter how many grams go in; only the false-positive rate degrades.

    Shape:
      1. eval grams -> k bit positions each (JVM-side ``xxhash64(gram,
         seed)``), distinct positions collected once -- bounded by
         ``m_bits`` regardless of corpus size (the same bounded-driver-
         materialization class as the k-means centroids) -- packed into
         a numpy bit array and broadcast via ``SparkContext.broadcast``.
      2. train grams stream through an Arrow-batched ``mapInPandas``
         probe: positions computed JVM-side (so the Python step is pure
         vectorized bit indexing -- no portable-xxhash problem), rows
         surviving only if all k bits are set. This discards the
         overwhelming non-matching majority before any shuffle.
      3. exact verify: surviving candidates equi-join the eval gram set
         (a SHUFFLE join -- the whole point is not broadcasting it);
         by then the probe side is tiny, so the shuffle carries almost
         nothing. False positives die here; the final count is exact.

    The plan never materializes the eval grams on executors beyond the
    fixed-size bit array, and the train side's explode inflation dies at
    the Bloom probe instead of the broadcast join.
    """
    import numpy as np

    spark = train_df.sparkSession
    ev = _doc_grams(eval_df, n, text_col, id_col).select("gram").distinct()

    pos_cols = [
        F.pmod(F.xxhash64(F.col("gram"), F.lit(i)), F.lit(m_bits)).alias(f"_p{i}")
        for i in range(k_hashes)
    ]
    # Bounded driver materialization: at most m_bits distinct positions.
    pos_pdf = (
        ev.select(F.explode(F.array(*pos_cols)).alias("p")).distinct().toPandas()
    )
    bits = np.zeros(m_bits // 8 + 1, dtype=np.uint8)
    p = pos_pdf["p"].to_numpy(dtype=np.int64)
    np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
    bits_b = spark.sparkContext.broadcast(bits.tobytes())

    tr = _doc_grams(train_df, n, text_col, id_col).select(
        id_col, "gram", *pos_cols
    )

    def probe(batches):
        arr = np.frombuffer(bits_b.value, dtype=np.uint8)
        for pdf in batches:
            ok = np.ones(len(pdf), dtype=bool)
            for i in range(k_hashes):
                q = pdf[f"_p{i}"].to_numpy(dtype=np.int64)
                ok &= ((arr[q >> 3] >> (q & 7)) & 1).astype(bool)
            yield pdf.loc[ok, [id_col, "gram"]]

    cand = tr.mapInPandas(probe, schema=f"{id_col} long, gram long")
    return (
        cand.join(ev, "gram")  # exact verify: shuffle join, no broadcast
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )


def stratified_take(
    df: DataFrame,
    n_per_group: int,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic exact-count sample: the first ``n_per_group`` rows of
    each group in content-hash order (md5 of the text, id tie-break).

    The inspection/eval-set shape ("give me 50 docs per source, stably"):
    unlike ``sample()``/``sampleBy()`` the count is exact and the SELECTION
    is a pure function of row content -- reruns, reshuffles, and other
    engines (the DuckDB oracle) pick the same rows. One window shuffle on
    the group column; no global sort.
    """
    w = W.partitionBy(group_col).orderBy(F.md5(F.col(text_col)), F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def chunk_token_windows(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows (context-window prep
    for embedding/retrieval pipelines: window=model context, overlap =
    window - stride).

    Starts march at ``stride``; a start is emitted iff it is 0 or the
    previous window did not already reach the end of the document, so the
    final (possibly short) window is emitted exactly once and no window is
    a suffix of its predecessor. Pure per-row expressions (sequence +
    slice + posexplode): the 1->N fan-out happens inside the scan
    projection, no shuffle, no UDF -- at 100 TB the chunker is a map-only
    pass whose output partitioning follows the input's.
    """
    assert 0 < stride <= window
    toks = ws_tokens(F.col(text_col))
    n = token_count(F.col(text_col))
    starts = F.filter(
        F.when(
            n > 0, F.sequence(F.lit(0), n - F.lit(1), F.lit(stride))
        ).otherwise(F.array().cast("array<int>")),
        lambda s: (s == 0) | (s + F.lit(window - stride) < n),
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_token"),
            F.least(F.lit(window), n - s).alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(toks, s + 1, window)).alias("chunk_text"),
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "ch")
    ).select(
        id_col,
        "chunk_id",
        F.col("ch.start_token").alias("start_token"),
        F.col("ch.n_chunk_tokens").alias("n_chunk_tokens"),
        F.col("ch.chunk_text").alias("chunk_text"),
    )


def deterministic_sample(
    df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Exact-size uniform corpus sample in ONE pass: the ``k`` rows with
    the smallest ``poly_hash(md5(salt || text))`` (ties broken by id).

    The hash induces a fixed pseudo-random total order over documents, so
    taking its bottom-k IS a uniform without-replacement sample -- but
    unlike ``df.sample()`` it is reproducible across runs, engines,
    partitionings AND corpus growth: a document's sort key never changes,
    so re-sampling after appending new docs only swaps in documents that
    genuinely hash below the old threshold (bottom-k sketches compose:
    bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B)), the classic
    KMV/min-wise property). ``salt`` redraws the sample.

    Scale shape: Spark executes orderBy+limit as TakeOrderedAndProject --
    per-partition partial top-k (a k-row heap per task) merged on the
    driver side of the exchange; nothing but k rows per partition ever
    shuffles, and there is no global sort. The same plan shape serves a
    100 TB corpus: cost is one scan + k-row heaps.

    Content-hash keying (md5 of text, like ``hash_split``) keeps equal
    texts adjacent in the order -- a sample drawn before and after an
    exact-dedup pass selects consistently.
    """
    key = char_poly_hash(F.md5(F.concat(F.lit(str(salt)), F.col(text_col))))
    return (
        df.withColumn("_sk", key)
        .orderBy("_sk", id_col)
        .limit(k)
        .drop("_sk")
    )


def source_overlap_matrix(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-source contamination matrix: for every unordered pair of
    sources, the number of distinct word n-grams that occur in BOTH -- the
    corpus-governance audit behind mixing decisions (which crawls/dumps
    duplicate each other, where eval-set leakage between slices lives).

    Plan shape: (source, gram) pairs are distinct-ed (one shuffle, grams
    keyed), each gram folds to its sorted source SET (second gram-keyed
    shuffle with map-side combine; set size is bounded by |sources|, a
    constant ~dozens, never by corpus size), pairs are generated per gram
    by pure array expressions, and a final tiny groupBy over source-pair
    keys emits the matrix. No self-join of the gram table, so no gram
    re-shuffle; the pair fan-out is |sources|^2-bounded per gram. Grams
    stay strings for exact oracle parity -- a 100 TB deployment swaps in
    xxhash64 gram keys (8 bytes vs ~50 chars) like ngram_contamination.
    """
    from ..functions.xhash import word_shingles, ws_tokens

    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    sg = (
        # materialized tokens first (see dedup.shingle_sets)
        spread.withColumn("_toks", ws_tokens(F.col(text_col)))
        .select(
            F.col(source_col).alias("src"),
            F.explode(word_shingles(F.col("_toks"), n)).alias("gram"),
        )
        .distinct()
    )
    per_gram = (
        sg.groupBy("gram")
        .agg(F.array_sort(F.collect_set("src")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    # all (i < j) pairs of the sorted source set, as pure array exprs
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("srcs"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("srcs"), i + 2, F.size(F.col("srcs"))
                        ),
                        lambda y: F.struct(
                            x.alias("src_a"), y.alias("src_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.src_a", "p.src_b").groupBy("src_a", "src_b").agg(
        F.count("*").alias("shared_grams")
    )


def weighted_priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Exact-size weighted without-replacement sample (priority sampling,
    Duffield/Lund/Thorup): each row draws a deterministic pseudo-uniform
    ``u`` in (0, 1] from its content hash and gets priority ``w / u``; the
    top-k priorities ARE a weighted sample -- heavy rows surface with
    probability proportional to weight, and the whole draw is a pure
    function of (content, salt): reproducible across runs, engines, and
    partitionings, and composable under corpus growth like every bottom-k
    sketch here (priorities never change, so appends only displace rows
    that genuinely outrank the old cut).

    ``w / u`` deliberately avoids the exponential-keys formulation
    (``u^(1/w)``): a single IEEE division is correctly-rounded and
    bit-identical in every engine, while ``pow``/``ln`` differ in the
    last ulp across libms -- near-tied keys would then select different
    rows in Spark vs the oracle.

    Scale shape: same as ``deterministic_sample`` -- orderBy+limit
    executes as TakeOrderedAndProject (k-row heap per task, only k rows
    per partition cross the exchange, no global sort). One scan at any
    corpus size. The corpus-mixing shape: weight by quality score, token
    count, or source multiplier and draw the training slice directly.
    """
    from ..functions.xhash import md5_hash32

    u = (
        md5_hash32(F.concat(F.lit(str(salt)), F.col(text_col))) + 1
    ) / F.lit(4294967296.0)
    pri = F.col(weight_col).cast("double") / u
    return (
        df.withColumn("priority", F.round(pri, 4))
        .orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k)
    )


def source_mixing_weights(
    df: DataFrame,
    token_cap: int = 100_000,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Corpus-mixing table: per source, document/token counts and a
    sampling weight in exact parts-per-million, with each source's token
    mass CAPPED before normalization -- the standard guard against one
    dominant crawl swamping the mixture (the practical form of
    temperature-scaled mixing, kept in pure integer arithmetic so the
    weights are deterministic across engines and partition orders).

    weight_ppm = capped_tokens * 1e6 div sum(capped_tokens); the div is
    integer, so weights are exact and sum to <= 1e6 (the remainder is the
    truncation dust a sampler ignores). Scale shape: one map-side-combined
    groupBy over sources, then a single-row total broadcast back -- the
    aggregate table is |sources|-sized, never corpus-sized.
    """
    per_source = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("n_tokens"),
    )
    capped = per_source.withColumn(
        "capped_tokens", F.least(F.col("n_tokens"), F.lit(token_cap))
    )
    total = capped.agg(
        F.sum("capped_tokens").alias("_total")
    )
    return (
        capped.crossJoin(F.broadcast(total))
        .select(
            "source", "n_docs", "n_tokens", "capped_tokens",
            F.expr("capped_tokens * 1000000L div _total").alias("weight_ppm"),
        )
    )


def grouped_priority_sample(
    df: DataFrame,
    n_per_group: int,
    weight_col: str,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Per-group weighted without-replacement sample: the top
    ``n_per_group`` priority-sampling draws (w/u, see
    :func:`weighted_priority_sample`) WITHIN each group -- the per-domain
    quota form of corpus mixing (each source contributes its own weighted
    slice, so one source's weight mass cannot crowd out another's quota).

    One window shuffle on the group column; the same engine-portable
    single-division keys as the global variant (no pow/ln), ties broken by
    id. Composable under growth per group for the same reason bottom-k
    sketches are.
    """
    from ..functions.xhash import md5_hash32

    u = (
        md5_hash32(F.concat(F.lit(str(salt)), F.col(text_col))) + 1
    ) / F.lit(4294967296.0)
    pri = F.round(F.col(weight_col).cast("double") / u, 4)
    w = W.partitionBy(group_col).orderBy(F.desc("_pri"), F.asc(id_col))
    return (
        df.withColumn("_pri", pri)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .withColumnRenamed("_pri", "priority")
        .drop("_rn")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    group_by: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Clamp ``value_col`` to its [lo, hi] exact interpolated percentiles
    (per group if given) -- the standard outlier-clipping pass before
    normalizing features / quality scores for training.

    Plan: one grouped percentile aggregate (group-bounded, broadcast at
    scale) joined back, then a row-local least/greatest clamp. Exact
    percentiles are deterministic cross-engine (q53 parity); the clamp
    takes values verbatim, so clamped rows carry exact input doubles.
    """
    out = out_col or f"{value_col}_winsorized"
    v = F.col(value_col)
    keys = [group_by] if group_by else []
    pcts = (df.groupBy(*keys) if group_by else df.groupBy()).agg(
        F.percentile(value_col, F.lit(lo)).alias("_plo"),
        F.percentile(value_col, F.lit(hi)).alias("_phi"),
    )
    joined = (
        df.join(F.broadcast(pcts), keys) if group_by
        else df.crossJoin(F.broadcast(pcts))
    )
    return joined.withColumn(
        out, F.least(F.greatest(v, F.col("_plo")), F.col("_phi"))
    ).drop("_plo", "_phi")


def cluster_safe_split(
    df: DataFrame,
    threshold: float = 0.8,
    train_pct: int = 80,
    valid_pct: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Leak-proof train/valid/test split: documents are split by their
    NEAR-DUP CLUSTER id, not their own content hash, so near-duplicate
    variants land in the same split BY CONSTRUCTION -- closing the
    leakage channel :func:`hash_split` provably leaves open (z81: a
    content-hash split keeps identical text together but scatters
    variant copies across splits, i.e. eval contamination).

    Plan: near-dup pairs (the q31 inverted-index plan) -> connected
    components (q45) -> cluster id joined back (singletons keep their
    own id -- the left join's NULL coalesce) -> the SAME md5-poly bucket
    rule as hash_split, applied to the cluster id. Leakage = 0 is
    pinned by test, not just claimed.
    """
    from ..functions.xhash import char_poly_hash
    from .dedup import duplicate_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(df, threshold=threshold, text_col=text_col,
                                id_col=id_col, unpersist_after=False)
    clusters = duplicate_clusters(pairs)
    labeled = (
        df.join(
            clusters.select(
                F.col("doc_id").alias(id_col),
                F.col("cluster_id").alias("_cid"),
            ),
            id_col,
            "left",
        )
        .withColumn("cluster_id", F.coalesce(F.col("_cid"), F.col(id_col)))
        .drop("_cid")
    )
    bucket = (
        char_poly_hash(F.md5(F.col("cluster_id").cast("string"))) % 100
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return labeled.withColumn("split", split)


def epoch_shuffle(
    df: DataFrame,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle, written as shards:
    each row gets a pseudo-random 48-bit key from ``md5(seed:id)``, a
    shard assignment ``key % n_shards``, and a 1-based position within
    its shard -- the (shard, pos) pair IS the epoch's read order
    (readers consume shards round-robin or in parallel). Changing
    ``seed`` re-deals the entire order; keeping it reproduces the epoch
    bit-for-bit on any cluster layout, which is what makes training
    runs resumable and comparable.

    Scale shape: ONE shuffle keyed on the shard id and one window per
    shard (corpus/n_shards rows each) -- never a global sort or a
    single-partition window; at 100 TB you raise n_shards with the
    executor count. The key is a pure per-row expression, so the
    assignment needs no state and re-runs land identically (the DuckDB
    oracle recomputes the same md5 ordering).
    """
    from .sketch import md5_hash48

    key = md5_hash48(
        F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string"))
    )
    w = W.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.withColumn("shuffle_key", key)
        .withColumn(
            "shard", F.pmod(F.col("shuffle_key"), F.lit(n_shards)).cast("int")
        )
        .withColumn("pos", F.row_number().over(w))
    )


def stride_interleave(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic proportional interleave of sources into one
    training order (stride scheduling, Waldspurger '95 -- the schedule
    a curriculum/mixture spec compiles to): a source with integer
    weight w is visited w times per round, so sorting by the emitted
    ``interleave_key`` yields a stream where, in every prefix, source
    shares track ``weights`` to within one round.

    Mechanics: rows rank r = 1.. within their source (content-hash
    order, id tie-break -- the ``stratified_take`` determinism), and
    ``interleave_key = (2r - 1) * (L // w)`` with L = lcm(weights):
    pure integer arithmetic (exact; no float pass positions), ties
    broken by (source, rank). Sources absent from ``weights`` are
    EXCLUDED (an interleave spec is a whitelist -- the mixing tables
    z28/z92 produce one).

    Scale shape (the z90 discipline, applied to RANKING): a naive
    ``partitionBy(source)`` rank would funnel each source's entire data
    through one partition -- |sources| is small, so that is a skew
    bottleneck at 100 TB. Instead the per-source rank is two-level:
    rows window inside (source, md5-prefix bucket) -- 256x finer
    partitions -- and each bucket adds an exclusive prefix-count offset
    computed by a window over the |sources| x 256 bucket axis (bounded,
    broadcast back). Because the bucket is a PREFIX of the ordering
    hash, (bucket, md5, id) order == (md5, id) order and the ranks are
    bit-identical to the single-window form. The GLOBAL order ships as
    a sort KEY, not a materialized global row number -- consumers
    range-partition or sort by (interleave_key, source, src_rank) when
    writing.
    """
    if not weights:
        raise ValueError("stride_interleave: weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(
            f"stride_interleave: weights must be positive ints, got {weights}"
        )
    lcm = 1
    for v in weights.values():
        lcm = math.lcm(lcm, v)
    strides = F.create_map(
        *[
            x
            for s, wt in sorted(weights.items())
            for x in (F.lit(s), F.lit(lcm // wt))
        ]
    )
    h = F.md5(F.col(text_col))
    rows = df.filter(F.col(source_col).isin(list(weights))).withColumn(
        "_bkt", F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    )
    counts = rows.groupBy(source_col, "_bkt").agg(
        F.count(F.lit(1)).alias("_n")
    )
    off_w = (
        W.partitionBy(source_col)
        .orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        source_col,
        "_bkt",
        F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"),
    )
    in_w = W.partitionBy(source_col, "_bkt").orderBy(h, F.col(id_col))
    return (
        rows.join(F.broadcast(offsets), [source_col, "_bkt"])
        .withColumn(
            "src_rank",
            (F.col("_off") + F.row_number().over(in_w)).cast("int"),
        )
        .drop("_bkt", "_off")
        .withColumn(
            "interleave_key",
            (F.lit(2) * F.col("src_rank") - F.lit(1))
            * strides[F.col(source_col)],
        )
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Frequency-ranked token vocabulary with dense ids: the top
    ``top_n`` whitespace tokens by (count desc, token asc) get
    ``token_id`` 1..top_n -- the frozen id table a trainer's encode
    step joins against. Ties break lexically so the vocabulary is a
    pure function of the corpus (rerun/engine stable).

    Scale shape: one explode + one map-side-combined count keyed on the
    token, then a TakeOrdered ``limit(top_n)`` (per-partition top-k
    merge, never a full sort); the id-assigning window runs over the
    LIMITED top_n rows only -- vocab-sized, corpus-independent.
    """
    from ..functions.xhash import ws_tokens

    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(ws_tokens(F.col(text_col)))
    order = [F.desc("n"), F.asc("tokn")]
    return (
        df.select(F.explode(toks).alias("tokn"))
        .groupBy("tokn")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(*order)
        .limit(top_n)
        .withColumn("token_id", F.row_number().over(W.orderBy(*order)))
    )


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = 0,
) -> DataFrame:
    """Encode documents as integer token-id arrays against a frozen
    vocabulary (:func:`build_vocab` output) -- the corpus -> trainer
    handoff format. Unknown tokens map to ``oov_id``; per-doc ``n_oov``
    makes coverage auditable (the z84 OOV-rate contract, but producing
    the encoded arrays, not just the rate).

    Returns ``(id, token_ids array<int>, n_tokens, n_oov)``; empty docs
    encode as empty arrays.

    Scale shape: explode -> LEFT equi-join on the token (the vocab side
    is top_n rows, broadcast) -> one groupBy(id) reassembly with an
    array_sort over (pos, id) structs. Per-doc state only; the corpus
    is scanned once and shuffled once on the doc id.
    """
    from ..functions.xhash import ws_tokens

    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(ws_tokens(F.col(text_col)))
    pos = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "tokn")
    )
    enc = pos.join(
        F.broadcast(vocab.select("tokn", "token_id")), "tokn", "left"
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.coalesce(F.col("token_id"), F.lit(oov_id)).cast("int").alias("tid"),
    )
    agg = enc.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("tid")))),
            lambda s: s["tid"],
        ).alias("_ids"),
        F.count(F.lit(1)).alias("_n"),
        F.sum((F.col("tid") == oov_id).cast("int")).alias("_oov"),
    )
    return df.select(F.col(id_col)).join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("_ids"), F.array().cast("array<int>")).alias(
            "token_ids"
        ),
        F.coalesce(F.col("_n"), F.lit(0)).cast("int").alias("n_tokens"),
        F.coalesce(F.col("_oov"), F.lit(0)).cast("int").alias("n_oov"),
    )


def write_epoch_shards(
    df: DataFrame,
    path: str,
    seed: int = 0,
    n_shards: int = 16,
    id_col: str = "doc_id",
    mode: str = "error",
) -> dict:
    """Materialize an epoch's read order (:func:`epoch_shuffle`) as
    ``path/shard=K/`` parquet, each shard's rows PHYSICALLY in ``pos``
    order -- the on-disk handoff a data loader consumes sequentially
    (round-robin or one worker per shard) without any read-time sort.

    Layout contract: ``repartition(n_shards, shard)`` puts exactly one
    shard in one task, ``sortWithinPartitions(shard, pos)`` orders it,
    and the partitioned writer emits it as one ordered file per shard
    (readers that split files at scale re-assert order by the persisted
    ``pos`` column -- it is stored, not implied). Returns shard row
    counts so the caller can assert coverage.
    """
    ep = epoch_shuffle(df, seed=seed, n_shards=n_shards, id_col=id_col)
    (
        ep.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.partitionBy("shard")
        .mode(mode)
        .parquet(path)
    )
    spark = df.sparkSession
    counts = {
        r["shard"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {"n_shards": len(counts), "rows": sum(counts.values()),
            "shard_rows": counts}


def quotas_to_stride_weights(
    quotas: dict[str, int], resolution: int = 12
) -> dict[str, int]:
    """Compress integer source quotas (e.g. the z92 largest-remainder
    token budgets, or raw token counts) into SMALL stride weights for
    :func:`stride_interleave`: re-allocate ``resolution`` seats
    proportionally by largest remainder (rem desc, source asc ties), so
    the interleave's lcm-based keys stay small integers however large
    the budgets are -- feeding multi-billion-token quotas straight into
    stride_interleave would blow the lcm (and the int64 key space).
    Zero-seat sources are dropped (the interleave whitelist contract);
    seats sum to exactly ``resolution``.

    Pure driver-side arithmetic over the |sources|-bounded dict the
    quota aggregate already collects -- no Spark action.
    """
    if not quotas:
        raise ValueError("quotas_to_stride_weights: quotas must be non-empty")
    if any(q < 0 for q in quotas.values()) or all(
        q == 0 for q in quotas.values()
    ):
        raise ValueError(
            f"quotas_to_stride_weights: need nonnegative quotas with a "
            f"positive total, got {quotas}"
        )
    if resolution < 1:
        raise ValueError(
            f"quotas_to_stride_weights: resolution must be >= 1, "
            f"got {resolution}"
        )
    total = sum(quotas.values())
    base = {s: resolution * q // total for s, q in quotas.items()}
    rem = {s: resolution * q % total for s, q in quotas.items()}
    leftover = resolution - sum(base.values())
    for s in sorted(quotas, key=lambda s: (-rem[s], s))[:leftover]:
        base[s] += 1
    return {s: w for s, w in base.items() if w > 0}


def pack_manifest(
    df: DataFrame,
    budget: int = 2048,
    part_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_width: int = 4096,
) -> DataFrame:
    """Per-document PLACEMENT manifest for :func:`pack_token_bins`'
    packing: ``(id, part, n_tokens, bin_id, begin_offset)`` -- where in
    its bin each document's tokens start. This is what the training
    loader actually consumes: it materializes each bin's buffer by
    copying doc tokens at begin_offset and builds the block-diagonal
    attention mask from the (begin_offset, n_tokens) spans.
    Same bin assignment as pack_token_bins (floor(tokens_before /
    budget), id order per part, oversized docs never split).

    Scale shape: the per-part running token count is TWO-LEVEL (the z90
    discipline) -- rows window inside (part, id-range bucket) and each
    bucket adds an exclusive prefix offset from a window over the
    bucket axis (rows/bucket_width per part, recursively bucketable) --
    so no whole-part single-partition window; the begin_offset window
    partitions by (part, bin): budget-bounded groups.
    """
    n_tok = token_count(F.col(text_col))
    rows = df.select(
        F.col(part_col), F.col(id_col), n_tok.alias("n_tokens")
    ).withColumn(
        "_bkt", (F.col(id_col) - F.col(id_col) % bucket_width) / bucket_width
    )
    totals = rows.groupBy(part_col, "_bkt").agg(
        F.sum("n_tokens").alias("_bt")
    )
    off_w = (
        W.partitionBy(part_col)
        .orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = totals.select(
        part_col,
        "_bkt",
        F.coalesce(F.sum("_bt").over(off_w), F.lit(0)).alias("_off"),
    )
    in_w = (
        W.partitionBy(part_col, "_bkt")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    placed = (
        rows.join(F.broadcast(offsets), [part_col, "_bkt"])
        .withColumn(
            "_before",
            (F.col("_off") + F.sum("n_tokens").over(in_w) - F.col("n_tokens"))
            .cast("long"),
        )
        .withColumn("bin_id", F.floor(F.col("_before") / budget))
    )
    bin_w = W.partitionBy(part_col, "bin_id")
    return placed.select(
        F.col(id_col),
        F.col(part_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("bin_id").cast("long").alias("bin_id"),
        (F.col("_before") - F.min("_before").over(bin_w))
        .cast("int")
        .alias("begin_offset"),
    )


def length_batches(
    df: DataFrame,
    batch_size: int = 8,
    part_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_width: int = 64,
) -> DataFrame:
    """Length-bucketed batching (the dynamic-batching step for
    variable-length sequence training/inference): per part, documents
    sort by (n_tokens, id) and group into fixed-count batches, so each
    batch holds similar-length docs and pads to its own max instead of
    the corpus max. Returns per-batch accounting --
    ``(part, batch_id, n_docs, max_tokens, sum_tokens, padded_tokens,
    waste_tokens)`` -- where waste = n_docs * max - sum is exactly the
    padding the bucketing exists to minimize (exact integers, so the
    efficiency claim is auditable, not estimated).

    Scale shape: the per-part length rank is TWO-LEVEL (the z90
    discipline) -- rows window inside (part, n_tokens-range bucket),
    offsets from a bounded window over the bucket axis -- because the
    bucket is a PREFIX of the (n_tokens, id) order, ranks are identical
    to the single-window form without funneling whole parts through
    one partition. The batch aggregate groups on (part, batch_id):
    batch_size-bounded groups.
    """
    if batch_size < 1:
        raise ValueError(f"length_batches: batch_size must be >= 1, got {batch_size}")
    n_tok = token_count(F.col(text_col))
    rows = df.select(
        F.col(part_col), F.col(id_col), n_tok.alias("n_tokens")
    ).withColumn(
        "_bkt",
        (F.col("n_tokens") - F.col("n_tokens") % bucket_width) / bucket_width,
    )
    counts = rows.groupBy(part_col, "_bkt").agg(
        F.count(F.lit(1)).alias("_n")
    )
    off_w = (
        W.partitionBy(part_col)
        .orderBy("_bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        part_col,
        "_bkt",
        F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_off"),
    )
    in_w = W.partitionBy(part_col, "_bkt").orderBy("n_tokens", id_col)
    ranked = rows.join(F.broadcast(offsets), [part_col, "_bkt"]).withColumn(
        "batch_id",
        F.floor(
            (F.col("_off") + F.row_number().over(in_w) - 1) / batch_size
        ),
    )
    return ranked.groupBy(part_col, "batch_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_docs"),
        F.max("n_tokens").cast("int").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens"))
        .cast("long")
        .alias("padded_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long")
        .alias("waste_tokens"),
    )


# ---------------------------------------------------------------------
# Hashed-feature importance weights (DSIR shape)
# ---------------------------------------------------------------------


def importance_weights(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 8192,
) -> DataFrame:
    """Data-selection importance weights via hashed n-gram features --
    the DSIR shape (Xie et al. 2023: importance resampling on hashed
    n-gram likelihood ratios), with the likelihood ratio kept in EXACT
    integer micros instead of floating log space. Each document scores

        score = sum over its DISTINCT hashed features f of
                micros( (df_target(f)+1) * (N_pool+2)
                        / ((df_pool(f)+1) * (N_target+2)) )

    -- add-one-smoothed target-vs-pool document-frequency odds, HALF_UP
    at 1e-6 (one exact integer ratio per feature; sums of integers are
    partition-order-free, so the score is bit-stable cross-engine where
    a float log-sum would not be). Rank by score and resample top-p to
    up-weight target-like documents (the DSIR use).

    ``target_pred`` is a boolean Column marking the target-domain rows
    INSIDE ``df`` (e.g. ``F.col("source") == "src0"``); the pool is all
    of ``df``. Documents shorter than ``n`` tokens have no features and
    are dropped (documented; a pipeline keeps them via left join if it
    must).

    Scale: one explode + ONE feature-keyed aggregate computes both
    document frequencies; the weight table is bounded by ``n_buckets``
    rows and broadcast back to the exploded features, so the only
    corpus-scale shuffles are the explode's doc-keyed repartition and
    the final doc-keyed sum. Totals ride a 1-row broadcast.
    """
    from ..functions.exactnum import ratio_micros_halfup
    from ..functions.xhash import md5_hash32, word_shingle_list

    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    staged = (
        spread.withColumn("_toks", ws_tokens(F.col(text_col)))
        .withColumn("_grams", word_shingle_list(F.col("_toks"), n=n))
        .select(
            F.col(id_col).alias("doc_id"),
            target_pred.cast("boolean").alias("_tgt"),
            F.array_distinct(
                F.transform(
                    F.col("_grams"),
                    lambda g: md5_hash32(g) % F.lit(n_buckets),
                )
            ).alias("_feats"),
        )
    )
    # explode_outer + isNotNull, NOT explode: plain explode injects a
    # size(_feats) > 0 pre-filter that Catalyst pushes BELOW the
    # repartition exchange with the whole token/gram/hash chain INLINED
    # -- re-evaluated O(len^2)-style on the raw input split (measured
    # 7.9 s -> 0.4 s warm at sf0.1). explode_outer has no such filter;
    # the null rows (docs with no features) drop in a post-Generate
    # filter that costs nothing.
    e = staged.select(
        "doc_id", "_tgt", F.explode_outer("_feats").alias("feature")
    ).filter(F.col("feature").isNotNull())
    totals = staged.agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum(F.col("_tgt").cast("long")).alias("_nt"),
    )
    freqs = (
        e.groupBy("feature")
        .agg(
            F.count(F.lit(1)).alias("_cp"),
            F.sum(F.col("_tgt").cast("long")).alias("_ct"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "feature",
            ratio_micros_halfup(
                (F.col("_ct") + 1) * (F.col("_np") + 2),
                (F.col("_cp") + 1) * (F.col("_nt") + 2),
            ).alias("_w_micros"),
        )
    )
    return (
        e.join(F.broadcast(freqs), "feature")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum("_w_micros").cast("long").alias("score_micros"),
        )
    )


def importance_weights_oracle_sql(
    target_sql: str,
    n: int = 2,
    n_buckets: int = 8192,
    docs_sql: str = "SELECT doc_id, source, text FROM documents",
) -> str:
    """DuckDB twin of :func:`importance_weights`: same md5-prefix
    feature hashing, same smoothed integer-micros odds, bit-identical.
    ``target_sql`` is the boolean predicate over ``docs_sql`` columns."""
    from ..functions.xhash import MD5_HASH32_SQL

    gram = " || ' ' || ".join(f"w[i+{off}]" for off in range(n))
    # integer-micros HALF_UP ratio, kept as BIGINT (ratio_scaled_sql
    # presents as a double -- wrong here: the Spark side sums raw micros)
    num, den = "(ct + 1) * (np + 2)", "(cp + 1) * (nt + 2)"
    w_expr = f"((2 * 1000000 * ({num}) + ({den})) // (2 * ({den})))::BIGINT"
    return f"""
WITH docs AS ({docs_sql}),
t AS (SELECT doc_id, ({target_sql}) AS tgt,
             string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM docs),
g AS (SELECT doc_id, tgt,
             list_distinct([{MD5_HASH32_SQL.format(x=f"({gram})")} % {n_buckets}
              for i in generate_series(1, greatest(len(w) - {n - 1}, 0))])
               AS feats
      FROM t),
e AS (SELECT doc_id, tgt, unnest(feats) AS feature FROM g),
totals AS (SELECT count(*)::BIGINT AS np,
                  sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS nt
           FROM g),
freqs AS (SELECT feature, count(*)::BIGINT AS cp,
                 sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct
          FROM e GROUP BY feature),
wts AS (SELECT feature, {w_expr} AS w_micros
        FROM freqs, totals)
SELECT e.doc_id, count(*)::BIGINT AS n_features,
       sum(w_micros)::BIGINT AS score_micros
FROM e JOIN wts USING (feature)
GROUP BY e.doc_id
"""
