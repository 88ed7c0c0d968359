"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of this module -- see SURVEY.md north-star):

  * exact_duplicates      one hash-groupBy; map-side partial agg, single
                          shuffle on the 128-bit content hash.
  * ngram_jaccard_pairs   EXACT similarity join via an inverted shingle
                          index (explode -> equi-join on shingle -> count
                          common) instead of the O(n^2) cross join. Shuffle
                          keys are shingles; ultra-frequent shingles are the
                          skew risk at 100 TB -- ``max_shingle_df`` drops
                          shingles occurring in more than that many docs
                          (exactness caveat documented on the parameter).
  * minhash_lsh_pairs     candidate generation in O(n * bands) via banded
                          signature buckets, then exact-Jaccard
                          verification of candidates only. SIGNATURES use
                          the portable polynomial scheme from
                          functions.xhash (banding is lossy, so candidate
                          membership depends on signature values and the
                          DuckDB oracle must reproduce them bit-for-bit);
                          verification runs on xxhash64 long arrays.
  * simhash               64->16-bit sign-aggregated token-hash sketch per
                          doc; near-dup candidates = equal sketch.

No Python UDFs anywhere: split/transform/aggregate/explode only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.exactnum import ratio_micros_halfup as _ratio_micros_halfup
from ..functions.xhash import (
    MINHASH_MOD,
    md5_hash32,
    minhash_signature,
    word_shingle_list,
    word_shingles,
    ws_tokens,
)
from ..sources.bucketed_index import BucketedIndex, release


def _jaccard_micro_cols(common, sz_a, sz_b, threshold: float):
    """(jaccard double column, exact keep-predicate) for a verified pair.

    The predicate compares true Jaccard to the threshold entirely in
    BIGINT (``common * 1e6 >= union * round(t*1e6)``) -- no rounded double
    ever gates a row. The display column is the HALF_UP-micros ratio
    presented as a double (bit-identical cross-engine).
    """
    union = (sz_a + sz_b - common).cast("long")
    t_micros = round(threshold * 1_000_000)
    keep = common.cast("long") * F.lit(1_000_000) >= union * F.lit(t_micros)
    jac = _ratio_micros_halfup(common, union) / F.lit(1_000_000.0)
    return jac, keep


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (content md5, n_copies, keep_id).

    keep_id = min id per group (the canonical survivor). Only groups with
    more than one member are duplicates, but singletons are returned too so
    the output doubles as a content-hash manifest; filter n_copies > 1 for
    the dedup decision.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, distinct n-word shingles) per document.

    Repartitions on the doc id first: document corpora often arrive as few
    large files (or one small one locally), and everything downstream
    (shingling, explode, signatures) inflates per-row work ~100x -- without
    the shuffle the whole pipeline would run at input-split parallelism.
    """
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    # materialize the token array BEFORE shingling: word_shingles indexes
    # the array per shingle position, and element_at over the raw
    # ws_tokens() expression re-runs the split per access -- O(len^2)
    # per doc (measured 9-13 s -> 0.5 s for the sf0.1 shingle stage)
    return spread.withColumn("_toks", ws_tokens(F.col(text_col))).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col("_toks"), n=n).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    prefix_order: str = "hash",
    unpersist_after: bool = True,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-duplicate pairs (doc_a < doc_b, j >= t).

    Prefix-filtered inverted-index algorithm (PPJoin-style, exact):

      1. global shingle document-frequencies;
      2. each doc indexes only its PREFIX -- the (|A| - ceil(t*|A|) + 1)
         rarest shingles (ties broken lexically). Any pair with
         Jaccard >= t must overlap within both prefixes, so candidate
         generation is lossless while skipping the ultra-frequent shingles
         that make a naive inverted index degenerate to all-pairs;
      3. length filter |B| >= t*|A| on candidates;
      4. exact verification on the full shingle arrays.

    This is the 100 TB shape: the only all-corpus shuffle keys are
    prefix shingles, and verification touches candidate pairs only.

    ``prefix_order`` picks the canonical total order prefixes are taken in
    (lossless either way -- prefix filtering only needs SOME consistent
    global order):
      * 'hash' (default): order by xxhash64 value. Zero global
        statistics -- prefixes come from a per-row array sort, no df join,
        no window. Best when shingle frequencies are benign.
      * 'df': order by global document frequency, so prefixes hold each
        doc's RAREST shingles -- fewer candidates and no hot shuffle keys
        on skewed corpora (stopword-heavy shingles never enter the index).
        Costs a frequency aggregation + join + per-doc window.
    ``max_shingle_df`` ('df' mode) additionally drops shingles above a df
    cap from the index -- that one CAN miss pairs (documented trade-off),
    leave None for the exact/oracle-checked config.
    """
    # Work entirely on xxhash64-hashed shingles (long arrays): prefix
    # filtering only needs SOME consistent global order, the candidate
    # equi-join only needs equality, and the verification intersect only
    # needs set identity -- all of which the 64-bit hash preserves up to a
    # ~(n_distinct^2 / 2^65) collision probability (~1e-9 at a million
    # distinct shingles; vanishing, documented). The win: no per-char
    # hashing, no string arrays in the cache or any shuffle -- 8-byte longs
    # everywhere. The shingle sets feed multiple plan branches (prefix index
    # + verification); persist once instead of recomputing the
    # tokenize+shingle lineage per branch (spills to disk at scale).
    sets = (
        shingle_sets(df, text_col, id_col, n)
        .select(
            "doc_id",
            F.array_sort(
                F.transform(F.col("sh"), lambda s: F.xxhash64(s))
            ).alias("shh"),
        )
        .withColumn("sz", F.size("shh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sets.count()  # eager fill: downstream branches would otherwise race to
    # compute the cache concurrently and duplicate the work
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    if prefix_order == "hash":
        # shh is already sorted by hash value = the global prefix order
        ranked = sets.select(
            "doc_id",
            "sz",
            F.explode(F.slice("shh", F.lit(1), prefix_len.cast("int"))).alias("g"),
        )
    elif prefix_order == "df":
        ex = sets.select("doc_id", "sz", F.explode("shh").alias("g"))
        freq = ex.groupBy("g").agg(F.count("*").alias("gdf"))
        if max_shingle_df is not None:
            freq = freq.filter(F.col("gdf") <= max_shingle_df)
        ranked = (
            ex.join(freq, "g")
            .withColumn(
                "rn",
                F.row_number().over(W.partitionBy("doc_id").orderBy("gdf", "g")),
            )
            .filter(F.col("rn") <= prefix_len)
            .select("doc_id", "sz", "g")
        )
    else:
        raise ValueError(f"prefix_order must be 'hash' or 'df', got {prefix_order!r}")
    a = ranked.alias("a")
    b = ranked.alias("b")
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(
            (F.col("b.sz") >= threshold * F.col("a.sz"))
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shh").alias("sh_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shh").alias("sh_b"), F.col("sz").alias("sz_b"))
    jac, keep = _jaccard_micro_cols(
        F.col("common"), F.col("sz_a"), F.col("sz_b"), threshold
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(keep)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return release(verified, [sets], unpersist_after)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 8,
    band_size: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    unpersist_after: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified.

    Pipeline: shingle -> k-element minhash signature -> split into
    k/band_size bands -> bucket-join docs sharing any band -> verify each
    candidate pair's TRUE Jaccard and keep >= threshold. Output therefore
    has no false positives; recall is governed by the (k, band_size)
    S-curve. Deterministic end to end (portable polynomial hashing), so the
    oracle replicates it exactly.
    """
    assert k % band_size == 0
    # Signatures stay on the portable polynomial scheme (the oracle must
    # reproduce them bit-for-bit -- banding is lossy, so WHICH candidates
    # emerge depends on signature values). Verification, however, only
    # needs set identity, so it runs on xxhash64 long arrays (same
    # vanishing-collision argument as ngram_jaccard_pairs) -- no string
    # arrays cached or shuffled.
    sets = (
        shingle_sets(df, text_col, id_col, n)
        .select(
            "doc_id",
            minhash_signature(F.col("sh"), k=k).alias("sig"),
            F.transform(F.col("sh"), lambda s: F.xxhash64(s)).alias("shh"),
        )
        .withColumn("sz", F.size("shh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sets.count()  # eager fill (see ngram_jaccard_pairs)

    n_bands = k // band_size
    # band key = struct of the band's raw long signature elements: struct
    # equality joins without materializing per-row concat strings
    bands = sets.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        *[
                            F.col("sig")[i * band_size + j].alias(f"k{j}")
                            for j in range(band_size)
                        ],
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk").alias("key"))

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shh").alias("sh_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shh").alias("sh_b"), F.col("sz").alias("sz_b"))
    jac, keep = _jaccard_micro_cols(
        F.col("common"), F.col("sz_a"), F.col("sz_b"), threshold
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(keep)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return release(verified, [sets], unpersist_after)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """16-bit SimHash over distinct whitespace tokens.

    Token -> portable md5-prefix hash (functions.xhash.md5_hash32) ->
    per-bit majority vote -> sketch integer. Docs with equal sketches are
    near-dup candidates (Hamming-0 bucketing; multi-probe Hamming-k would
    explode neighboring sketches).
    """
    toks = F.array_distinct(ws_tokens(F.col(text_col)))
    hashes = F.transform(toks, md5_hash32)
    n = F.size(toks)

    # NB: HOF lambdas must be single-parameter -- PySpark treats a 2-arg
    # callable as (element, index), so binding the bit via a default arg
    # would silently receive the array index instead.
    def bit_pred(b: int):
        return lambda h: (F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1)

    bit_terms = []
    for bit in range(bits):
        ones = F.size(F.filter(hashes, bit_pred(bit)))
        bit_terms.append(F.when(ones * 2 > n, F.lit(2**bit)).otherwise(F.lit(0)))
    sketch = bit_terms[0]
    for t in bit_terms[1:]:
        sketch = sketch + t
    return df.select(F.col(id_col).alias("doc_id"), sketch.cast("long").alias("simhash"))


def simhash_multiprobe_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    unpersist_after: bool = True,
) -> DataFrame:
    """Near-dup pairs within Hamming distance 1 of the SimHash sketch,
    without any O(n^2) comparison (multi-probe LSH).

    One join side indexes docs by their exact sketch; the other PROBES its
    sketch plus all ``bits`` single-bit flips. A probe collision means
    a XOR b is 0 or a power of two, i.e. hamming(a, b) <= 1 EXACTLY -- the
    candidate set needs no verification, only pair canonicalization
    (least/greatest + distinct; each pair is found from both directions).

    Scale shape: |probes| = n * (bits + 1) exploded 8-byte keys, one
    equi-join shuffled on sketch values, output bounded by true near-dup
    pairs. The sketch subplan feeds both sides, so it is persisted once.
    """
    sk = simhash(df, text_col, id_col, bits).persist(StorageLevel.MEMORY_AND_DISK)
    probes = sk.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sk_a"),
        F.explode(
            F.array(
                F.col("simhash"),
                *[F.col("simhash").bitwiseXOR(F.lit(1 << b)) for b in range(bits)],
            )
        ).alias("probe"),
    )
    idx = sk.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sk_b"))
    pairs = (
        probes.join(idx, probes.probe == idx.sk_b)
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b"))).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return release(pairs, [sk], unpersist_after)


def duplicate_clusters(
    pairs: DataFrame, max_iter: int = 25, on_nonconverged: str = "raise"
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS (connected
    components): every document in a component gets the component's
    minimum doc id as its cluster id -- the survivor a dedup pass keeps.

    Pair emitters (ngram_jaccard_pairs / minhash_lsh_pairs /
    simhash_multiprobe_pairs) find A~B and B~C separately; transitive
    closure is what actually decides "keep one of {A,B,C}". Implemented as
    iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels. Rounds needed = graph
    diameter -- near-dup components are near-cliques, so a handful;
    path-shaped adversarial graphs (chains of pairwise-similar docs) can
    exceed ``max_iter``, and the iteration bound is what makes the
    operator's cost PREDICTABLE at 100 TB, so non-convergence is never
    silent:

      * ``on_nonconverged='raise'`` (default): RuntimeError naming the
        bound -- a batch job fails loudly instead of shipping partial
        clusters.
      * ``on_nonconverged='quarantine'``: returns with an extra
        ``converged`` boolean column. Label-groups that would still
        change (they contain a node whose neighborhood offers a smaller
        label) are flagged ``converged=false`` -- a dedup pass keeps
        those docs aside for a follow-up run instead of trusting their
        cluster ids. Rows with ``converged=true`` carry their FINAL
        cluster id: a stable group only ever changes by adopting a
        smaller label through a boundary node, and that boundary node
        would be flagged pending.

    Scale shape: per round, one shuffle of the (bounded, already-reduced)
    edge list joined to the label table + a min-aggregate; lineage is cut
    every round with an eager localCheckpoint, so plans stay O(1) deep
    instead of O(iterations). This is the standard large-graph CC recipe
    (GraphFrames does the same dance) without a graph library dependency.
    """
    if on_nonconverged not in ("raise", "quarantine"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'quarantine', got "
            f"{on_nonconverged!r}"
        )
    edges = pairs.select(
        F.col("doc_a").cast("long").alias("src"),
        F.col("doc_b").cast("long").alias("dst"),
    )
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # r16 (guide §2.4, one pass instead of two): the label-update
        # join already sees old and new label side by side, so the
        # convergence test rides the SAME checkpointed pass as a
        # boolean column -- the former separate new-vs-old label JOIN
        # (a full extra shuffle + count job per round) is gone; the
        # count is now a narrow filter over the checkpoint blocks.
        new_label = F.least(
            F.col("label"), F.coalesce("nbr_label", F.col("label"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            sym.unpersist()
            out = labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
            if on_nonconverged == "quarantine":
                # stable schema across outcomes in quarantine mode
                out = out.withColumn("converged", F.lit(True))
            return out
    if on_nonconverged == "quarantine":
        # pending nodes: another round would still lower their label
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        pending_groups = (
            labels.join(nbr, labels.node == nbr.src)
            .filter(F.col("nbr_label") < F.col("label"))
            .select("label")
            .distinct()
        )
        out = labels.join(
            pending_groups.withColumnRenamed("label", "_bad"),
            labels.label == F.col("_bad"),
            "left",
        ).select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            F.col("_bad").isNull().alias("converged"),
        )
        out = out.localCheckpoint(eager=True)  # cut lineage before unpersist
        sym.unpersist()
        return out
    sym.unpersist()
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} iterations "
        "(graph diameter exceeds max_iter; raise it for path-shaped "
        "graphs, or pass on_nonconverged='quarantine' to flag the "
        "unfinished components instead)"
    )


def novel_documents(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingestion EXACT dedup: rows of ``new_df`` whose text
    does not already exist (byte-identical) in ``corpus_df``.

    Content-identity anti-join on md5 (engine-reproducible, so the oracle
    mirrors it directly). At 100 TB the corpus side is the big side and
    cannot broadcast; the join shuffles both sides on the 128-bit hash --
    store the corpus index bucketed by the hash
    (``IncrementalTable(bucket_by=...)`` / ``write_bucketed``) and the
    per-batch anti-join goes exchange-free on the corpus, which is the
    steady-state cost model: O(|batch|) work per ingest, never a corpus
    rescan-and-shuffle.
    """
    seen = corpus_df.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    return (
        new_df.withColumn("_h", F.md5(F.col(text_col)))
        .join(seen, "_h", "left_anti")
        .drop("_h")
    )


def minhash_novel(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    k: int = 8,
    band_size: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    unpersist_after: bool = True,
) -> DataFrame:
    """Incremental-ingestion NEAR-dup filter: rows of ``new_df`` with no
    corpus document at true Jaccard >= ``threshold``.

    Cross-frame variant of :func:`minhash_lsh_pairs`: both sides get the
    same portable banded signatures, candidates are the cross equi-join on
    (band, key) -- new-batch bands vs corpus bands, never corpus x corpus
    -- and only candidates pay the exact-Jaccard verify. The corpus-side
    band index is a pure function of corpus content, so a real deployment
    materializes it once (bucketed by band key) and each ingest batch
    joins its own tiny band set against it: per-batch cost is
    O(|batch| * bands) probe rows. False novelty (a missed near-dup)
    follows the banding S-curve, identical to the self-join path.
    """
    assert k % band_size == 0
    n_bands = k // band_size

    def bands(sets: DataFrame) -> DataFrame:
        return sets.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            *[
                                F.col("sig")[i * band_size + j].alias(f"k{j}")
                                for j in range(band_size)
                            ],
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("key"),
        )

    new_sets = _minhash_prep(new_df, text_col, id_col, n, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    new_sets.count()  # eager fill (see ngram_jaccard_pairs)
    # the corpus shingle/signature pass feeds BOTH joins (band index +
    # verify); persist it instead of recomputing the corpus scan twice --
    # but only when this call owns the cache lifecycle (eager mode).
    # In lazy mode a persist would outlive the call with no release point,
    # so the recompute is the lesser cost there.
    corpus_sets = _minhash_prep(corpus_df, text_col, id_col, n, k)
    caches = [new_sets]
    if unpersist_after:
        corpus_sets = corpus_sets.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(corpus_sets)

    cand = (
        bands(new_sets)
        .withColumnRenamed("doc_id", "new_id")
        .join(bands(corpus_sets).withColumnRenamed("doc_id", "corpus_id"), "key")
        .select("new_id", "corpus_id")
        .distinct()
    )
    dup_ids = _verified_dup_ids(cand, new_sets, corpus_sets, threshold)
    # finalize on dup_ids (bounded by |batch|), NOT on the batch-sized
    # anti-join result: the checkpoint materializes only the duplicate id
    # set, then both caches are released before the caller ever runs the
    # returned plan
    dup_ids = release(dup_ids, caches, unpersist_after)
    return new_df.join(
        dup_ids.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def _minhash_prep(df: DataFrame, text_col: str, id_col: str, n: int, k: int):
    """(doc_id, sig, shh, sz) -- the per-doc minhash payload shared by
    :func:`minhash_novel` and the at-rest index family. Pure per-doc
    function of content: index rows never depend on what else is in the
    corpus, which is what makes O(|batch|) appends rebuild-equivalent."""
    return shingle_sets(df, text_col, id_col, n).select(
        "doc_id",
        minhash_signature(F.col("sh"), k=k).alias("sig"),
        F.transform(F.col("sh"), lambda s: F.xxhash64(s)).alias("shh"),
        F.size("sh").alias("sz"),
    )


def _verified_dup_ids(
    cand: DataFrame, new_sets: DataFrame, corpus_sets: DataFrame, threshold: float
) -> DataFrame:
    """``doc_id`` of every candidate's new side whose pair (new_id,
    corpus_id) is at exact Jaccard >= ``threshold``; both set frames are
    :func:`_minhash_prep`-shaped (doc_id, shh, sz)."""

    def side(sets, id_name, s):
        return sets.select(
            F.col("doc_id").alias(id_name),
            F.col("shh").alias(f"sh_{s}"),
            F.col("sz").alias(f"sz_{s}"),
        )

    _, keep = _jaccard_micro_cols(
        F.col("common"), F.col("sz_a"), F.col("sz_b"), threshold
    )
    return (
        cand.join(side(new_sets, "new_id", "a"), "new_id")
        .join(side(corpus_sets, "corpus_id", "b"), "corpus_id")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(keep)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )


def _minhash_band_rows(
    sets: DataFrame, k: int, band_size: int, n_buckets: int
) -> DataFrame:
    """(doc_id, band, bkeys, bucket) rows -- one per (doc, band).

    ``bkeys`` is the band's EXACT signature slice (array<long>), so the
    candidate equi-join on (band, bkeys) matches :func:`minhash_novel`'s
    struct-key join value-for-value; ``bucket`` hashes (band, slice) for
    Hive partition pruning only and never decides candidacy."""
    n_bands = k // band_size
    return sets.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.array(
                            *[
                                F.col("sig")[i * band_size + j]
                                for j in range(band_size)
                            ]
                        ).alias("bkeys"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bkeys").alias("bkeys"),
        F.pmod(
            F.xxhash64(F.col("bk.band"), F.col("bk.bkeys")), F.lit(n_buckets)
        ).cast("int").alias("bucket"),
    )


def _set_bucket(id_col_expr, n_buckets: int):
    return F.pmod(F.xxhash64(id_col_expr), F.lit(n_buckets)).cast("int")


def _minhash_index(path: str) -> BucketedIndex:
    return BucketedIndex(
        path, "_minhash_stats.json", "minhash index", "write_minhash_index",
        subdirs=("sets", "bands"), layout=("n", "k", "band_size", "n_buckets"),
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    n: int = 3,
    k: int = 8,
    band_size: int = 2,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist an at-rest MinHash-LSH near-dup index -- the lexical twin
    of :func:`~..operators.similarity.write_ivf_index` (embeddings) and
    :func:`~..operators.text.write_posting_index` (terms).

    Layout (two Hive-partitioned parquet subdirs + a stats sidecar):
      ``sets/bucket=<pmod(xxhash64(doc_id), n_buckets)>/`` ->
        (doc_id, shh, sz) -- the xxhash64'd shingle sets that pay the
        EXACT-Jaccard verify (banding generates candidates, it never
        decides duplicates);
      ``bands/bucket=<pmod(xxhash64(band, slice), n_buckets)>/`` ->
        (doc_id, band, bkeys) -- the banded signature slices that
        generate candidates;
      ``_minhash_stats.json`` -> layout params + n_docs.

    Crash order is sets before bands: a torn write leaves verify
    payloads without band rows (the batch is simply not indexed yet),
    never band rows whose candidates cannot be verified. A probe
    (:func:`minhash_novel_indexed`) partition-prunes BOTH reads to the
    buckets its batch actually hits: at rest, near-dup screening of a
    batch against a 100 TB corpus reads ~|batch bands|/n_buckets of the
    band index and only the candidate docs' verify payloads -- never a
    corpus scan. The index protocol is in ``sources/bucketed_index.py``.
    """
    assert k % band_size == 0
    index = _minhash_index(path)
    stats = {"n": n, "k": k, "band_size": band_size, "n_buckets": n_buckets}
    stats["n_docs"] = _write_minhash_rows(
        index, df, "overwrite", stats, text_col, id_col
    )
    index.commit(stats)


def _write_minhash_rows(index, df, mode, stats, text_col, id_col) -> int:
    """Shared build/append data path: ONE shingle/signature pass (the
    per-doc payload is persisted and feeds both writes plus the row
    count). Returns the batch row count."""
    k, n_buckets = stats["k"], stats["n_buckets"]
    sets = _minhash_prep(df, text_col, id_col, stats["n"], k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        n_docs = sets.count()  # eager fill; also the stats delta
        index.write(
            {
                "sets": sets.select(
                    "doc_id", "shh", "sz",
                    _set_bucket(F.col("doc_id"), n_buckets).alias("bucket"),
                ),
                "bands": _minhash_band_rows(
                    sets, k, stats["band_size"], n_buckets
                ),
            },
            mode,
        )
    finally:
        sets.unpersist()
    return n_docs


def append_minhash_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    cas_retries: int = 8,
) -> None:
    """O(|batch|) growth of a :func:`write_minhash_index` layout: the
    batch's verify payloads and band rows append into the same buckets
    (index rows are pure per-doc functions, so probe results are
    IDENTICAL to an index rebuilt over the union -- pinned by test).

    A torn append degrades to "batch not yet indexed", and RE-appending
    the same batch is probe-safe (band candidates are ``distinct``-ed
    and duplicate verify rows collapse in the dup-id distinct) at the
    cost of double-counted n_docs and dead storage -- see
    :func:`compact_minhash_index`. Contract: append-only growth; dedup
    re-ingested doc_ids upstream.
    """
    index = _minhash_index(path)
    with index.appending(cas_retries) as (stats, delta):
        delta["n_docs"] = _write_minhash_rows(
            index, batch, "append", stats, text_col, id_col
        )


def compact_minhash_index(spark, path: str) -> dict:
    """In-place maintenance for a :func:`write_minhash_index` layout:
    distinct-dedup both subdirs and reset ``n_docs`` to the TRUE
    distinct doc count -- the cleanup for re-appended batches after a
    torn append (duplicate rows, double-counted stats) and for file
    growth across many appends (each rewrite lands ~1 file/bucket).

    Probe results are untouched BY CONSTRUCTION: duplicate band rows
    only re-emit candidates that ``distinct()`` collapses, and duplicate
    set rows collapse in the dup-id distinct. Sets are swapped before
    bands, which keeps a mid-crash state probe-safe for the same reason
    appends write sets first. Returns
    ``{"n_docs": ..., "set_rows_removed": ..., "band_rows_removed": ...}``.

    DataFrame invalidation: compaction replaces the parquet files, so
    any LIVE lazy DataFrame previously read from ``{path}/sets`` or
    ``{path}/bands`` will fail on next materialization
    (FILE_NOT_EXIST); re-read after compacting.
    """
    n_docs, removed = _minhash_index(path).compact(spark)
    return {
        "n_docs": n_docs,
        "set_rows_removed": removed["sets"],
        "band_rows_removed": removed["bands"],
    }


def minhash_novel_indexed(
    spark,
    batch: DataFrame,
    path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    unpersist_after: bool = True,
) -> DataFrame:
    """Rows of ``batch`` with no INDEXED document at true Jaccard >=
    ``threshold`` -- :func:`minhash_novel` served from a
    :func:`write_minhash_index` layout instead of a corpus DataFrame,
    with both index reads partition-pruned to the buckets the batch
    hits. Value-identical to ``minhash_novel(batch, corpus)`` at the
    index's layout params (candidates join on the EXACT band slices,
    verification is exact Jaccard) -- the disk roundtrip is
    value-transparent, pinned by test and shared oracle.

    Per-batch cost: O(|batch| * bands) probe rows against the pruned
    band buckets + exact verify of candidates only; two bounded driver
    actions turn the probed bucket sets into static partition filters.
    """
    index = _minhash_index(path)
    stats, _ = index.load()
    k, n_buckets = stats["k"], stats["n_buckets"]

    new_sets = _minhash_prep(batch, text_col, id_col, stats["n"], k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    caches = [new_sets]
    new_bands = _minhash_band_rows(new_sets, k, stats["band_size"], n_buckets)
    # the probed-bucket collect doubles as the persist's eager fill --
    # the downstream actions here are strictly sequential, so the first
    # action materializes the cache and no recompute race exists
    idx_bands = index.read(spark, index.probed(new_bands), "bands").select(
        F.col("doc_id").alias("corpus_id"), "band", "bkeys"
    )
    cand = (
        new_bands.select(
            F.col("doc_id").alias("new_id"), "band", "bkeys"
        )
        .join(idx_bands, ["band", "bkeys"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    if unpersist_after:
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(cand)
    cand_buckets = index.probed(
        cand.select(_set_bucket(F.col("corpus_id"), n_buckets).alias("bucket"))
    )
    idx_sets = index.read(spark, cand_buckets, "sets")
    dup_ids = release(
        _verified_dup_ids(cand, new_sets, idx_sets, threshold),
        caches, unpersist_after,
    )
    return batch.join(
        dup_ids.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def dup_ngram_stats(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicated-n-gram rate per document (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" exact-
    substring signal, approximated at word-n-gram granularity).

    A gram is "duplicated" when it occurs in >= ``min_docs`` distinct
    documents corpus-wide. Each document is then scored by how much of it
    is made of such boilerplate grams:

      n_grams       total gram occurrences in the doc (with multiplicity)
      n_dup_grams   occurrences whose gram is duplicated
      dup_bp        floor(n_dup_grams * 10000 / n_grams) -- basis points,
                    exact integer arithmetic (no float rounding to go
                    nondeterministic across engines/partition orders)

    Training pipelines threshold on dup_bp to drop template/boilerplate
    documents that document-level dedup can never catch (every copy is
    unique overall but 80% shared header).

    Scale shape: one explode -> two aggregations, both shuffling on the
    8-byte xxhash64 gram key with map-side combine; the doc-frequency
    pass reduces to |distinct grams| rows and the hot-gram set (df >=
    min_docs) is a tail of that, joined back on the gram key (AQE
    broadcasts it when small; hot grams are few by definition -- the
    threshold keeps only the heavy tail). No driver materialization, no
    UDFs; everything stays in whole-stage codegen.

    Docs shorter than n tokens have n_grams = 0 and report dup_bp = 0.
    """
    from ..functions.xhash import word_shingle_list

    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    # materialized tokens first (see shingle_sets: O(len^2) otherwise)
    grams = spread.withColumn("_toks", ws_tokens(F.col(text_col))).select(
        F.col(id_col),
        F.explode(
            F.transform(
                word_shingle_list(F.col("_toks"), n),
                lambda g: F.xxhash64(g),
            )
        ).alias("gram"),
    )
    hot = (
        grams.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("gram")
    )
    per_doc = grams.join(hot.withColumn("_hot", F.lit(1)), "gram", "left").groupBy(
        id_col
    ).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce(F.col("_hot"), F.lit(0))).alias("n_dup_grams"),
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.when(
            F.coalesce("n_grams", F.lit(0)) > 0,
            F.floor(F.col("n_dup_grams") * 10000 / F.col("n_grams")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_bp"),
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    unpersist_after: bool = True,
) -> DataFrame:
    """EXACT directed containment pairs: (doc_a, doc_b) with
    ``|sh(A) ∩ sh(B)| / |sh(A)| >= t`` -- doc A's shingles (nearly)
    contained in B. The ASYMMETRIC near-dup detector: a short document
    quoted/embedded inside a longer one scores low on symmetric Jaccard
    (the union is dominated by B) but high on containment, which is
    exactly the boilerplate-wrapping / quotation duplication a corpus
    pipeline must catch that :func:`ngram_jaccard_pairs` cannot.

    Prefix filtering adapts asymmetrically: only the PROBE side (A) can
    take a prefix (|A| - ceil(t*|A|) + 1 rarest-by-hash shingles --
    any pair with containment >= t must overlap inside A's prefix), the
    INDEXED side (B) must carry all its shingles because containment
    puts no lower bound on B's share of the overlap. Size filter:
    |B| >= t*|A| (the overlap cannot exceed |B|). Costs one full-index
    explode (linear in total shingles) + prefix-bounded candidate join
    + exact verify on candidates -- no all-pairs anywhere.
    """
    sets = (
        shingle_sets(df, text_col, id_col, n)
        .select(
            "doc_id",
            F.array_sort(
                F.transform(F.col("sh"), lambda s: F.xxhash64(s))
            ).alias("shh"),
        )
        .withColumn("sz", F.size("shh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sets.count()  # eager fill (see ngram_jaccard_pairs)
    prefix_len = (
        F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).cast("int")
    probe = sets.select(
        "doc_id",
        "sz",
        F.explode(F.slice("shh", F.lit(1), prefix_len)).alias("g"),
    )
    index = sets.select("doc_id", "sz", F.explode("shh").alias("g"))
    cand = (
        probe.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .filter(F.col("b.sz") >= threshold * F.col("a.sz"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shh").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    t_micros = round(threshold * 1_000_000)
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", common)
        # exact BIGINT gate + HALF_UP-micros display (q49 determinism rule)
        .filter(
            F.col("common").cast("long") * F.lit(1_000_000)
            >= F.col("sz_a").cast("long") * F.lit(t_micros)
        )
        .select(
            "doc_a",
            "doc_b",
            (
                _ratio_micros_halfup(F.col("common"), F.col("sz_a"))
                / F.lit(1_000_000.0)
            ).alias("containment"),
        )
    )
    return release(verified, [sets], unpersist_after)


def exact_substring_dedup(
    df: DataFrame,
    k: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication with SPAN REMOVAL (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): every token covered by a k-token gram that occurs
    MORE THAN ONCE in the corpus (cross-doc or repeated within one doc)
    is removed, and the surviving tokens are re-joined. This is the
    operator the z16 duplicated-n-gram RATE only measures: the actual
    cleaning pass a training pipeline runs.

    Output: (doc_id, n_tokens, n_dup_tokens, cleaned_text) with
    ``cleaned_text`` the whitespace-normalized (lower + collapsed)
    surviving tokens in original order. The covered-token rule is pure
    set algebra -- token t is covered iff a duplicated gram STARTS in
    [t-k+1, t] -- so no interval merging is needed and the DuckDB
    oracle replicates it exactly.

    Scale shape (the paper's suffix-array construction is a
    single-machine algorithm; this is its shuffle-native equivalent at
    token-k-gram granularity):
      * gram explode is LINEAR (n_tokens rows per doc, k-token concat);
      * one groupBy(gram) count -- the dominant shuffle, standard
        map-side-combined aggregation;
      * duplicated-gram starts join back by gram (equi-join), covered
        positions explode at k x |dup starts| (bounded), and removal is
        a LEFT ANTI join on (doc, idx) -- every step is linear in its
        input, nothing is quadratic, nothing collects.
    True arbitrary-length exact-substring matching (not multiples of
    token grams) needs the suffix-array formulation; at cluster scale
    the k-gram pass is what production pipelines run first anyway.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), ws_tokens(F.col(text_col)).alias("_toks")
    )
    # PERF CONTRACT (word_shingles): grams built from the materialized
    # _toks column, never the raw split expression
    grams = tok.select(
        "doc_id",
        F.posexplode(word_shingle_list(F.col("_toks"), k)).alias(
            "pos", "gram"
        ),
    )
    dup = (
        grams.groupBy("gram")
        .count()
        .filter(F.col("count") >= 2)
        .select("gram")
    )
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("idx"),
        )
        .distinct()
    )
    tokpos = tok.select(
        "doc_id", F.posexplode(F.col("_toks")).alias("idx", "tokn")
    )
    kept = tokpos.join(covered, ["doc_id", "idx"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("idx"), F.col("tokn")))
                ),
                lambda s: s["tokn"],
            ),
        ).alias("_cleaned"),
    )
    return (
        tok.join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            (
                F.size("_toks") - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).cast("long").alias("n_dup_tokens"),
            F.coalesce(F.col("_cleaned"), F.lit("")).alias("cleaned_text"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_dup_docs: int = 2,
    min_line_chars: int = 1,
    split_regex: str = "\n",
    rejoin: str = "\n",
) -> DataFrame:
    """CCNet-style line-level corpus dedup (Wenzek et al., LREC 2020):
    drop every line that occurs in >= ``min_dup_docs`` DISTINCT
    documents -- the standard boilerplate-removal pass (nav menus,
    cookie banners, footers) that runs before document-level dedup in
    web-corpus pipelines. Lines shorter than ``min_line_chars`` are
    exempt (never counted, never dropped), the usual guard that keeps
    empty lines and bullets from being nuked corpus-wide.

    Returns one row per input doc: ``(id, text_dedup, n_lines_kept,
    n_lines_dropped)`` with surviving lines rejoined in original order
    (a doc whose every line is boilerplate survives as '').

    Scale shape: one explode over lines, then the corpus-wide line
    frequency is aggregated on ``md5(line)`` -- a fixed-width 32-char
    shuffle key however long the lines are, with map-side partial
    counts. The DROP SET (lines present in >= min_dup_docs docs) is
    the only thing joined back, via LEFT ANTI on the hash: at 100 TB
    the drop set is the boilerplate vocabulary -- orders of magnitude
    smaller than the corpus -- so AQE picks a broadcast for it while
    the big side streams. Identical content implies identical length,
    so exempt short lines can never collide into the drop set: the
    anti join alone is exact. Reassembly is one groupBy(id) with an
    array_sort over (pos, line) structs -- per-doc state only, never a
    global sort.
    """
    if min_dup_docs < 2:
        raise ValueError(
            f"line_dedup: min_dup_docs must be >= 2, got {min_dup_docs}"
        )
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_regex, -1)).alias(
            "pos", "line"
        ),
    )
    drop_set = (
        lines.filter(F.length("line") >= min_line_chars)
        .select(F.md5("line").alias("lh"), F.col(id_col))
        .groupBy("lh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_dup_docs)
        .select("lh")
    )
    kept = lines.withColumn("lh", F.md5("line")).join(
        drop_set, "lh", "left_anti"
    )
    agg = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            rejoin,
        ).alias("_text_dedup"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), split_regex, -1)).alias("_n0"),
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce(F.col("_text_dedup"), F.lit("")).alias("text_dedup"),
        F.coalesce(F.col("_n_kept"), F.lit(0)).cast("int").alias(
            "n_lines_kept"
        ),
        (F.col("_n0") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_lines_dropped"),
    )


def line_dedup_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_dup_docs: int = 2,
    min_line_chars: int = 1,
) -> str:
    """DuckDB twin of :func:`line_dedup` (newline split only). Owned by
    the operator so the gated entry and any caller share one
    definition."""
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, string_split({text_col}, chr(10)) AS ls
  FROM {table}),
lines AS (
  SELECT doc_id,
         unnest([{{'pos': i, 'line': ls[i]}}
                 FOR i IN generate_series(1, len(ls))],
                recursive := true)
  FROM t),
dup AS (
  SELECT md5(line) AS lh
  FROM lines
  WHERE length(line) >= {min_line_chars}
  GROUP BY 1
  HAVING count(DISTINCT doc_id) >= {min_dup_docs}),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN dup d ON md5(l.line) = d.lh
  WHERE d.lh IS NULL)
SELECT t.doc_id,
       coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '')
           AS text_dedup,
       count(k.pos)::INT AS n_lines_kept,
       (len(t.ls) - count(k.pos))::INT AS n_lines_dropped
FROM t LEFT JOIN kept k USING (doc_id)
GROUP BY t.doc_id, len(t.ls)
"""


# ---------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------


def _winnow_staged(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc_id, _h) with _h the k-gram hash sequence (multiplicity kept,
    order preserved) -- the shared front half of the winnowing ops.
    Same repartition + token-materialization contract as shingle_sets."""
    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    return (
        spread.withColumn("_toks", ws_tokens(F.col(text_col)))
        .withColumn("_grams", word_shingle_list(F.col("_toks"), n=k))
        .select(
            F.col(id_col).alias("doc_id"),
            F.transform(F.col("_grams"), md5_hash32).alias("_h"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 -- the MOSS algorithm): hash every k-gram, slide a window
    of ``window`` consecutive gram hashes, keep the minimum of each
    window; ties take the RIGHTMOST minimal position (the stateless
    variant of robust winnowing's tie rule -- deterministic without
    carrying state across windows). Returns one row per distinct
    (fp_hash, pos) fingerprint per document.

    Guarantees (the paper's): any shared substring of at least
    ``k + window - 1`` tokens produces at least one shared fingerprint,
    and expected density is 2/(window+1) of grams -- tunable recall vs
    index size, unlike MinHash's fixed-size sketch which loses locality
    (positions). Positions make the match SPAN recoverable -- the
    plagiarism/attribution use case, not just a yes/no dup bit.

    Scale: one row-local pass (O(len * window) per doc, bounded lambda
    depth), then explode; no shuffle beyond the id repartition. No
    Python UDFs -- split/transform/slice/filter only.
    """
    staged = _winnow_staged(df, text_col, id_col, k)
    h = F.col("_h")
    n_win = F.size(h) - (window - 1)

    def fp(j):
        win = F.slice(h, j, window)
        m = F.array_min(win)
        pos = F.array_max(
            F.filter(
                F.sequence(j, j + F.lit(window - 1)),
                lambda i: F.element_at(h, i) == m,
            )
        )
        return F.struct(m.alias("fp_hash"), pos.alias("pos"))

    fps = F.when(
        n_win >= 1,
        F.array_distinct(F.transform(F.sequence(F.lit(1), n_win), fp)),
    ).otherwise(F.array().cast("array<struct<fp_hash:bigint,pos:int>>"))
    # explode_outer + isNotNull: plain explode's pushed size>0 filter
    # would re-run the whole gram/hash/window chain below the exchange
    # (see importance_weights for the measured pathology)
    return (
        staged.select("doc_id", F.explode_outer(fps).alias("_f"))
        .filter(F.col("_f").isNotNull())
        .select(
            "doc_id",
            F.col("_f.fp_hash").alias("fp_hash"),
            F.col("_f.pos").alias("pos"),
        )
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    max_df: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints:
    (doc_a, doc_b, n_shared) for pairs sharing at least ``min_shared``
    distinct fingerprint hashes.

    The quadratic-bucket hazard (every pair sharing a hot fingerprint
    joins) is bounded by ``max_df``: fingerprints present in more than
    that many documents are dropped before the join -- MOSS's own
    "ignore too-common fingerprints" rule (boilerplate k-grams carry no
    authorship signal). The cap is a recall-only tradeoff on HOT grams
    and is part of the operator contract, mirrored by the oracle.

    Plan: in-row distinct fingerprint-hash sets (positions never
    computed -- the pair decision doesn't need them), explode, one
    hash-keyed document-frequency aggregate, frequency-capped
    equi-self-join on fp_hash, pair-keyed count. Never all-pairs; every
    shuffle key is a fingerprint hash or a doc pair.
    """
    staged = _winnow_staged(df, text_col, id_col, k)
    h = F.col("_h")
    n_win = F.size(h) - (window - 1)
    hashes = F.when(
        n_win >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda j: F.array_min(F.slice(h, j, window)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # explode_outer + isNotNull: see winnow_fingerprints
    e = staged.select(
        "doc_id", F.explode_outer(hashes).alias("fp_hash")
    ).filter(F.col("fp_hash").isNotNull())
    docfreq = e.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("_ndocs"))
    kept = e.join(docfreq.filter(F.col("_ndocs") <= max_df), "fp_hash").select(
        "doc_id", "fp_hash"
    )
    a = kept.withColumnRenamed("doc_id", "doc_a")
    b = kept.withColumnRenamed("doc_id", "doc_b")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_pairs_oracle_sql(
    k: int = 3,
    window: int = 4,
    max_df: int = 20,
    min_shared: int = 3,
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB twin of :func:`winnow_pairs` -- same gram hashes
    (md5-prefix), same window minima, same df cap, bit-identical."""
    from ..functions.xhash import MD5_HASH32_SQL

    gram = " || ' ' || ".join(f"w[i+{off}]" for off in range(k))
    return f"""
WITH docs AS ({docs_sql}),
t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM docs),
g AS (SELECT doc_id,
             [{gram}
              for i in generate_series(1, greatest(len(w) - {k - 1}, 0))] AS grams
      FROM t),
h AS (SELECT doc_id, [{MD5_HASH32_SQL.format(x='x')} for x in grams] AS hl
      FROM g),
fp AS (SELECT doc_id,
              list_distinct([list_min(hl[j:j+{window - 1}])
               for j in generate_series(1, greatest(len(hl) - {window - 1}, 0))])
                AS fps
       FROM h),
e AS (SELECT doc_id, unnest(fps) AS fp_hash FROM fp),
df AS (SELECT fp_hash, count(*) AS ndocs FROM e GROUP BY fp_hash),
kept AS (SELECT e.doc_id, e.fp_hash
         FROM e JOIN df USING (fp_hash) WHERE df.ndocs <= {max_df})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------
# At-rest winnowing-fingerprint index (the MOSS twin of the minhash index)
# ---------------------------------------------------------------------


def _winnow_fp_rows(
    df: DataFrame, k: int, window: int, n_buckets: int,
    text_col: str, id_col: str,
) -> DataFrame:
    """(doc_id, fp_hash, bucket) -- one distinct fingerprint-hash row
    per doc, bucket a pure function of fp_hash (so EVERY posting of a
    hash lands in one bucket and pruned reads see the hash's complete
    global posting list -- document frequencies computed off pruned
    reads are exact)."""
    staged = _winnow_staged(df, text_col, id_col, k)
    h = F.col("_h")
    n_win = F.size(h) - (window - 1)
    hashes = F.when(
        n_win >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda j: F.array_min(F.slice(h, j, window)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        staged.select("doc_id", F.explode_outer(hashes).alias("fp_hash"))
        .filter(F.col("fp_hash").isNotNull())
        .select(
            "doc_id",
            "fp_hash",
            _set_bucket(F.col("fp_hash"), n_buckets).alias("bucket"),
        )
    )


def _winnow_index(path: str) -> BucketedIndex:
    return BucketedIndex(
        path, "_winnow_stats.json", "winnow index", "write_winnow_index",
        subdirs=("fps",), layout=("k", "window", "n_buckets"),
    )


def write_winnow_index(
    df: DataFrame,
    path: str,
    k: int = 3,
    window: int = 4,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist an at-rest winnowing-fingerprint index -- the
    MOSS/locality twin of :func:`write_minhash_index`: one Hive-
    partitioned parquet subdir ``fps/bucket=<pmod(xxhash64(fp_hash),
    n_buckets)>/`` of (doc_id, fp_hash) postings + a
    ``_winnow_stats.json`` sidecar (k, window, n_buckets, n_docs).
    Fingerprint rows are pure per-doc content functions, so appends are
    rebuild-equivalent by construction; a probe prunes its read to the
    buckets its batch's fingerprints hash into, and because the bucket
    is a function of the HASH, the pruned read carries each probed
    hash's complete posting list -- index-side document frequencies
    (the boilerplate cap) stay exact.
    """
    index = _winnow_index(path)
    stats = {"k": k, "window": window, "n_buckets": n_buckets}
    stats["n_docs"] = _write_winnow_rows(
        index, df, "overwrite", stats, text_col, id_col
    )
    index.commit(stats)


def _write_winnow_rows(index, df, mode, stats, text_col, id_col) -> int:
    rows = _winnow_fp_rows(df, stats["k"], stats["window"],
                           stats["n_buckets"], text_col, id_col)
    n_docs = rows.select("doc_id").distinct().count()
    index.write({"fps": rows}, mode)
    return n_docs


def append_winnow_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    cas_retries: int = 8,
) -> None:
    """O(|batch|) growth of a :func:`write_winnow_index` layout: data
    rows append into the same buckets (~1 file per bucket per batch).
    Re-appending a batch is probe-safe (the probe counts DISTINCT
    fingerprints per pair and DISTINCT doc ids per frequency) at the
    cost of dead storage + double-counted n_docs.
    """
    index = _winnow_index(path)
    with index.appending(cas_retries) as (stats, delta):
        delta["n_docs"] = _write_winnow_rows(
            index, batch, "append", stats, text_col, id_col
        )


def winnow_novel_indexed(
    spark,
    batch: DataFrame,
    path: str,
    min_shared: int = 2,
    max_df: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of ``batch`` that share < ``min_shared`` distinct winnowing
    fingerprints with EVERY indexed document -- near-dup novelty
    screening served from a :func:`write_winnow_index` layout, the
    locality-preserving twin of :func:`minhash_novel_indexed`.

    Exactness: candidates join on exact fingerprint hashes; the
    index-side boilerplate cap (fingerprints in > ``max_df`` indexed
    docs are ignored -- MOSS's rule) is computed from the PRUNED read,
    which is still the hash's complete global posting list (bucket is a
    function of the hash), so the result is value-identical to a full
    recompute over index ∪ batch. Per-batch cost: O(|batch|
    fingerprints) probe rows + ONE pruned index read + pair-keyed
    counts -- never a corpus scan. Nothing is cached: the batch's
    fingerprints are computed twice (bucket collect, then the join),
    which costs O(|batch|) and leaves no block behind per call.
    """
    index = _winnow_index(path)
    stats, _ = index.load()
    new_fps = _winnow_fp_rows(
        batch, stats["k"], stats["window"], stats["n_buckets"], text_col, id_col
    )
    idx = index.read(spark, index.probed(new_fps), "fps").select(
        F.col("doc_id").alias("corpus_id"), "fp_hash"
    )
    cdf = idx.groupBy("fp_hash").agg(
        F.countDistinct("corpus_id").alias("_df")
    )
    kept = idx.join(cdf.filter(F.col("_df") <= max_df), "fp_hash")
    dup_ids = (
        new_fps.select(F.col("doc_id").alias("new_id"), "fp_hash")
        .join(kept, "fp_hash")
        .groupBy("new_id", "corpus_id")
        .agg(F.countDistinct("fp_hash").alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_shared)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return batch.join(dup_ids, id_col, "left_anti")


def winnow_novel_oracle_sql(
    corpus_sql: str = "source IN ('src0', 'src1')",
    batch_sql: str = "source = 'src2'",
    k: int = 3,
    window: int = 4,
    max_df: int = 20,
    min_shared: int = 2,
) -> str:
    """DuckDB twin of :func:`winnow_novel_indexed` over the documents
    table: same gram hashes, window minima, index-side df cap, distinct
    shared-fingerprint counts -- the at-rest layout and pruning are
    value-transparent."""
    from ..functions.xhash import MD5_HASH32_SQL

    gram = " || ' ' || ".join(f"w[i+{off}]" for off in range(k))

    def fps(pred: str, name: str) -> str:
        return f"""
{name}_t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
             FROM documents WHERE {pred}),
{name}_h AS (SELECT doc_id, [{MD5_HASH32_SQL.format(x='x')} for x in
               [{gram}
                for i in generate_series(1, greatest(len(w) - {k - 1}, 0))]] AS hl
             FROM {name}_t),
{name}_e AS (SELECT doc_id, unnest(list_distinct([list_min(hl[j:j+{window - 1}])
               for j in generate_series(1, greatest(len(hl) - {window - 1}, 0))]))
               AS fp
             FROM {name}_h)"""

    return f"""
WITH {fps(corpus_sql, "c")},
{fps(batch_sql, "b")},
cdf AS (SELECT fp, count(DISTINCT doc_id) AS df FROM c_e GROUP BY fp),
kept AS (SELECT c_e.doc_id AS corpus_id, c_e.fp
         FROM c_e JOIN cdf USING (fp) WHERE cdf.df <= {max_df}),
m AS (SELECT b_e.doc_id AS new_id, kept.corpus_id,
             count(DISTINCT b_e.fp) AS n_shared
      FROM b_e JOIN kept ON b_e.fp = kept.fp
      GROUP BY 1, 2),
dup AS (SELECT DISTINCT new_id FROM m WHERE n_shared >= {min_shared})
SELECT doc_id, source FROM documents
WHERE ({batch_sql}) AND doc_id NOT IN (SELECT new_id FROM dup)
"""


def compact_winnow_index(spark, path: str) -> dict:
    """In-place maintenance for a :func:`write_winnow_index` layout:
    distinct-dedup the ``fps`` postings (duplicates only exist after
    re-appended batches; the probe's DISTINCT counts made them harmless
    but they are dead storage) and reset ``n_docs`` to the true distinct
    count. Probe results are untouched BY CONSTRUCTION -- compaction
    removes exactly the rows the probe's distincts already collapse.
    Returns ``{"n_docs": ..., "fp_rows_removed": ...}``.
    """
    n_docs, removed = _winnow_index(path).compact(spark)
    return {"n_docs": n_docs, "fp_rows_removed": removed["fps"]}


def temporal_novelty(
    df: DataFrame,
    day,
    fingerprint,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-day corpus novelty rate: for each ingestion day, how many
    documents are the FIRST occurrence of their content fingerprint
    (novel) vs re-crawls of something already seen -- the time axis of
    dedup observability (a scrape loop shows up as a day whose dup rate
    jumps; a fresh source as a day of near-pure novelty). The batch twin
    of the streaming novelty sinks, aggregated to the per-day table a
    curation dashboard reads.

    "First occurrence" is the row with the minimal (day, id) per
    fingerprint, totally ordered by encoding both into ONE BIGINT
    ``day * 10^12 + id`` (ids must be in [0, 10^12) -- enforced
    fail-loud per row by an ``assert_true`` guard fused into the
    id projection below: an out-of-domain id would silently shift the
    decoded day and misattribute novelty, so the job dies instead).
    Same-day duplicates count as dups of the smallest-id
    row, so per-day novel counts sum to the number of DISTINCT
    fingerprints in the corpus exactly.

    Scale shape: one fingerprint-keyed min aggregate + one day-keyed
    count each over corpus rows, one day-keyed join of two day-sized
    tables; dup_rate as exact HALF_UP micros. No window, no all-pairs.
    ``day``/``fingerprint`` are Column expressions so callers choose
    the time grain and the fingerprint definition (exact md5, leading
    shingle, simhash bucket...).
    """
    from ..functions.exactnum import floordiv_nonneg

    enc = F.lit(10**12).cast("long")
    idc = F.col(id_col).cast("long")
    # fail-loud domain guard (ADVICE r13 #3): the when() keeps the
    # assert_true live in the plan (it feeds _id, so Catalyst cannot
    # prune it); assert_true returns NULL when the condition holds.
    guarded_id = F.when(
        F.assert_true(
            (idc >= 0) & (idc < enc),
            f"temporal_novelty: {id_col} outside [0, 10^12) breaks the "
            "day*10^12+id encoding",
        ).isNull(),
        idc,
    )
    d = df.select(
        guarded_id.alias("_id"),
        day.cast("long").alias("_day"),
        fingerprint.alias("_fp"),
    )
    firsts = d.groupBy("_fp").agg(
        F.min(F.col("_day") * enc + F.col("_id")).alias("_first")
    )
    novel = (
        firsts.select(
            floordiv_nonneg(F.col("_first"), enc).alias("_day")
        )
        .groupBy("_day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    per_day = d.groupBy("_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        per_day.join(novel, "_day", "left")
        .fillna({"n_novel": 0})
        .select(
            F.col("_day").alias("day"),
            "n_docs",
            "n_novel",
            _ratio_micros_halfup(
                F.col("n_docs") - F.col("n_novel"), F.col("n_docs")
            ).alias("dup_rate_micros"),
        )
    )


def temporal_novelty_oracle_sql(
    rows_sql: str,
    day_sql: str = "day",
    fp_sql: str = "fp",
    id_sql: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`temporal_novelty` (same single-BIGINT
    (day, id) encoding, same cleared-integer dup rate)."""
    return f"""
WITH d AS (SELECT ({id_sql})::BIGINT AS id, ({day_sql})::BIGINT AS day,
                  {fp_sql} AS fp
           FROM ({rows_sql}) raw0),
firsts AS (SELECT fp, min(day * 1000000000000 + id) AS first_key
           FROM d GROUP BY fp),
novel AS (SELECT first_key // 1000000000000 AS day,
                 count(*)::BIGINT AS n_novel
          FROM firsts GROUP BY 1),
per_day AS (SELECT day, count(*)::BIGINT AS n_docs FROM d GROUP BY day)
SELECT p.day, p.n_docs,
       coalesce(n.n_novel, 0)::BIGINT AS n_novel,
       ((2000000 * (p.n_docs - coalesce(n.n_novel, 0)) + p.n_docs)
        // (2 * p.n_docs))::BIGINT AS dup_rate_micros
FROM per_day p LEFT JOIN novel n ON n.day = p.day
"""


def dedup_savings_report(
    df: DataFrame,
    fingerprint,
    chars_col: str = "n_chars",
) -> DataFrame:
    """Cluster-size histogram of a fingerprint dedup with the EXACT
    savings of a keep-one (keep-longest, the z177 policy) pass -- the
    capacity-planning table a curation team reads before running the
    actual dedup: per duplicate-cluster size, how many clusters, how
    many redundant documents, and how many redundant characters
    (cluster total minus its longest member) the pass would remove.
    Singleton clusters ride along as the size-1 row (zero savings), so
    the report's doc total reconciles against the corpus row count.

    Scale shape: one fingerprint-keyed aggregate (count + sum + max)
    over corpus rows, then ONE histogram aggregate over the cluster
    table keyed by cluster size (bounded by the max cluster size --
    never corpus-sized). Exact integers only.

    Output: (cluster_size, n_clusters, n_docs, redundant_docs,
    redundant_chars).
    """
    clusters = df.groupBy(fingerprint.alias("_fp")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(chars_col)).alias("_total"),
        F.max(F.col(chars_col)).alias("_kept"),
    )
    return (
        clusters.groupBy(F.col("_n").cast("long").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("_n").cast("long").alias("n_docs"),
            F.sum(F.col("_n") - 1).cast("long").alias("redundant_docs"),
            F.sum(F.col("_total") - F.col("_kept"))
            .cast("long")
            .alias("redundant_chars"),
        )
    )


def dedup_savings_oracle_sql(
    rows_sql: str,
    fp_sql: str = "fp",
    chars_sql: str = "n_chars",
) -> str:
    """DuckDB twin of :func:`dedup_savings_report`."""
    return f"""
WITH d AS (SELECT {fp_sql} AS fp, ({chars_sql})::BIGINT AS c
           FROM ({rows_sql}) raw0),
clusters AS (SELECT fp, count(*)::BIGINT AS n, sum(c)::BIGINT AS total,
                    max(c)::BIGINT AS kept
             FROM d GROUP BY fp)
SELECT n AS cluster_size,
       count(*)::BIGINT AS n_clusters,
       sum(n)::BIGINT AS n_docs,
       sum(n - 1)::BIGINT AS redundant_docs,
       sum(total - kept)::BIGINT AS redundant_chars
FROM clusters GROUP BY n
"""


def blocking_quality(
    items: DataFrame,
    truth_pairs: DataFrame,
    id_col: str = "id",
    block_col: str = "block",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Blocking-scheme scorecard for entity resolution: REDUCTION RATIO
    (what fraction of the quadratic pair space the blocking key prunes)
    vs PAIRS COMPLETENESS (what fraction of TRUE matches it keeps) --
    the two numbers that decide whether a blocking key is safe to
    deploy before the z153-style match-within-block pipeline, and the
    observability twin of z187 (which grades the CLUSTERS; this grades
    the candidate-generation stage that feeds them).

    Candidate-pair counting NEVER materializes pairs: sum of
    C(block_size, 2) over the block-size aggregate, DECIMAL(38,0)
    (block sizes square past int64 at corpus scale). Completeness
    joins the truth pairs to the item->block table twice (two
    equi-joins, truth-pair-sized) and counts co-blocked matches. Both
    ratios exact HALF_UP micros with the single clearable denominator;
    zero-denominator cells NULL, never a fake 0.

    Output one row: (n_items, n_blocks, max_block_size,
    n_candidate_pairs, n_all_pairs, n_true_matches, n_matches_blocked,
    reduction_ratio_micros, pairs_completeness_micros).
    """
    from ..functions.exactnum import ratio_micros_halfup

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def c2(n):
        nd = dec(n)
        return nd * (nd - 1) / F.lit(2).cast("decimal(38,0)")

    blocks = items.groupBy(F.col(block_col).alias("_blk")).agg(
        F.count(F.lit(1)).alias("_nb")
    )
    bstats = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.max("_nb").cast("long").alias("max_block_size"),
        F.coalesce(F.sum(c2(F.col("_nb"))), F.lit(0))
        .cast("decimal(38,0)")
        .alias("_cand"),
    )
    tot = items.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    ia = items.select(
        F.col(id_col).alias(a_col), F.col(block_col).alias("_ba")
    )
    ib = items.select(
        F.col(id_col).alias(b_col), F.col(block_col).alias("_bb")
    )
    tstats = (
        truth_pairs.select(a_col, b_col)
        .join(ia, a_col)
        .join(ib, b_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true_matches"),
            F.coalesce(
                F.sum(
                    F.when(F.col("_ba") == F.col("_bb"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_matches_blocked"),
        )
    )
    row = tot.crossJoin(F.broadcast(bstats)).crossJoin(F.broadcast(tstats))
    all_pairs = c2(F.col("n_items"))
    cand = F.col("_cand")
    return row.select(
        "n_items",
        "n_blocks",
        "max_block_size",
        cand.cast("long").alias("n_candidate_pairs"),
        all_pairs.cast("long").alias("n_all_pairs"),
        "n_true_matches",
        "n_matches_blocked",
        F.when(all_pairs == 0, F.lit(None).cast("long"))
        .otherwise(ratio_micros_halfup(all_pairs - cand, all_pairs))
        .alias("reduction_ratio_micros"),
        F.when(F.col("n_true_matches") == 0, F.lit(None).cast("long"))
        .otherwise(
            ratio_micros_halfup(
                F.col("n_matches_blocked"), F.col("n_true_matches")
            )
        )
        .alias("pairs_completeness_micros"),
    )


def blocking_quality_oracle_sql(
    items_sql: str,
    truth_sql: str,
    id_sql: str = "id",
    block_sql: str = "block",
) -> str:
    """DuckDB twin of :func:`blocking_quality` (HUGEINT pair algebra,
    same clearable-denominator micros)."""
    r = "((2000000 * ({n}) + ({d})) // (2 * ({d})))"
    return f"""
WITH it AS (SELECT ({id_sql}) AS id, ({block_sql}) AS blk
            FROM ({items_sql}) raw0),
blocks AS (SELECT blk, count(*)::HUGEINT AS nb FROM it GROUP BY blk),
bs AS (SELECT count(*)::BIGINT AS n_blocks,
              max(nb)::BIGINT AS max_block_size,
              coalesce(sum(nb * (nb - 1) // 2), 0)::HUGEINT AS cand
       FROM blocks),
tt AS (SELECT count(*)::HUGEINT AS n_items FROM it),
tp AS (SELECT t.id_a, t.id_b, a.blk AS ba, b.blk AS bb
       FROM ({truth_sql}) t
       JOIN it a ON a.id = t.id_a JOIN it b ON b.id = t.id_b),
ts AS (SELECT count(*)::BIGINT AS n_true_matches,
              coalesce(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END), 0)::BIGINT
                AS n_matches_blocked
       FROM tp),
m AS (SELECT *, n_items * (n_items - 1) // 2 AS all_pairs
      FROM tt CROSS JOIN bs CROSS JOIN ts)
SELECT n_items::BIGINT AS n_items, n_blocks, max_block_size,
       cand::BIGINT AS n_candidate_pairs,
       all_pairs::BIGINT AS n_all_pairs,
       n_true_matches, n_matches_blocked,
       (CASE WHEN all_pairs = 0 THEN NULL ELSE
         {r.format(n="all_pairs - cand", d="all_pairs")} END)::BIGINT
         AS reduction_ratio_micros,
       (CASE WHEN n_true_matches = 0 THEN NULL ELSE
         {r.format(n="n_matches_blocked", d="n_true_matches")} END)::BIGINT
         AS pairs_completeness_micros
FROM m
"""
