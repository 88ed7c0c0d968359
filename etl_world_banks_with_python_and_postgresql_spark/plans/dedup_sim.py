"""Dedup + similarity surface: exact/canonical/MinHash/SimHash/
Jaccard dedup, sign-LSH embedding near-dup, ANN top-k, multimodal
codecs (the north-star LLM-corpus operators).

Split from the monolithic plans/queries.py (round 5, VERDICT r4
task #7); registration order is irrelevant -- every consumer
sorts REGISTRY by name. Helpers and SQL twins live in
plans.base.
"""

import shutil

from .base import *  # noqa: F401,F403 -- registry, helpers, spark/operator imports
from .base import _cache_path



@query(
    "q30_dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
""",
    description="exact dedup: content-hash groupBy manifest",
)
def q30(spark, sf_dir):
    return dedup.exact_duplicates(load(spark, "documents", sf_dir))


@query(
    "q31_dedup_ngram_jaccard",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {_jacc_sql("a.sh", "b.sh")} AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE {_jacc_pred_sql("a.sh", "b.sh", 0.8)}
""",
    description="EXACT 3-gram Jaccard near-dup pairs via inverted shingle index",
)
def q31(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        load(spark, "documents", sf_dir), threshold=0.8, unpersist_after=False
    )


@query(
    "q32_dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    description="MinHash signatures + banded LSH candidates + exact-Jaccard verify",
)
def q32(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        load(spark, "documents", sf_dir), threshold=0.5, unpersist_after=False
    )


@query(
    "q33_dedup_simhash",
    oracle=_simhash_oracle(),
    description="16-bit SimHash sketch per document (near-dup bucketing)",
)
def q33(spark, sf_dir):
    return dedup.simhash(load(spark, "documents", sf_dir))


@query(
    "q38_ann_cosine_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
  FROM q CROSS JOIN e WHERE e.vec_id != query_id),
r AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id))::INT AS rnk
      FROM scored)
SELECT query_id, neighbor_id, cos_sim, rnk AS rank FROM r WHERE rnk <= 10
""",
    description="exact cosine top-k neighbors (brute-force ANN baseline)",
)
def q38(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") % 100 == 0), k=10)


@query(
    "q39_embedding_neardup",
    oracle=f"""
{_signlsh_neardup_oracle(threshold=0.45, bands=12, bits_per_band=6, dim=64)}
""",
    description=(
        "embedding-cosine near-duplicate pairs via banded sign-LSH "
        "candidates + exact cosine verify (no all-pairs join; the oracle "
        "replicates the deterministic banding, like q32's MinHash)"
    ),
)
def q39(spark, sf_dir):
    return similarity.cosine_neardup_pairs(
        load(spark, "embeddings", sf_dir),
        threshold=0.45,
        bands=12,
        bits_per_band=6,
        dim=64,
    )


@query(
    "q40_multimodal_meta",
    oracle="""
SELECT doc_id,
       octet_length(encode(text))                    AS n_bytes,
       (64 + octet_length(encode(text)) % 512)::INT  AS width,
       (64 + (octet_length(encode(text)) * 7) % 512)::INT AS height,
       'FAKE'                                        AS format
FROM documents
""",
    description="multimodal binary column + Arrow-batched metadata decode (stub codec)",
)
def q40(spark, sf_dir):
    docs = multimodal.attach_fake_binary(load(spark, "documents", sf_dir))
    return multimodal.decode_image_meta(docs)


@query(
    "q60_ivf_kmeans_topk",
    oracle=None,  # iterative (Lloyd) training is not SQL-expressible;
    # recall vs the exact cosine_topk baseline is pinned in
    # tests/test_operators_misc.py::test_ivf_kmeans_centroids_recall
    description=(
        "IVF top-k with k-means-trained coarse centroids: distributed "
        "Lloyd iterations (one map-side-combined shuffle of n_centroids "
        "groups per iteration), then literal-centroid cell probe join"
    ),
)
def q60(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    cents = similarity.kmeans_centroids(emb, n_centroids=8, n_iter=2)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ivf_topk(emb, q, n_probe=3, k=5, centroids=cents)


@query(
    "q77_multimodal_ann",
    # The corpus is ASCII (max codepoint 121, asserted by the catalog
    # canary), so the payload BYTES equal the text's code points and the
    # numpy byte-histogram has an exact SQL twin: per-bucket counts over
    # unicode(c) % 64, length-normalized with the same IEEE division, then
    # the same left-to-right cosine fold as q38. Upgraded from rows-only
    # in round 4.
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         [(len(list_filter([unicode(c) % 64 for c in string_split(text, '')],
                           m -> m = i)))::DOUBLE
          / greatest(length(text), 1)
          for i in generate_series(0, 63)] AS v
  FROM documents),
q AS (SELECT doc_id AS query_id, v AS qv FROM h
      WHERE doc_id % 100 = 0 AND doc_id < 50000),
scored AS (
  SELECT query_id, h.doc_id AS neighbor_id, {{_COS_SQL}} AS cos_sim
  FROM q CROSS JOIN h WHERE h.doc_id != query_id),
r AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id))::INT AS rnk
      FROM scored)
SELECT query_id, neighbor_id, cos_sim, rnk AS rank FROM r WHERE rnk <= 3
""".replace("{_COS_SQL}", _COS_SQL),
    description=(
        "end-to-end multimodal similarity: binary payload -> frame "
        "sampling -> byte-histogram embedding (model stand-in) -> exact "
        "cosine top-k, with a FULL SQL oracle (ASCII corpus makes the "
        "byte histogram SQL-expressible; same IEEE normalization and "
        "cosine fold)"
    ),
)
def q77(spark, sf_dir):
    from ..operators import similarity

    docs = multimodal.attach_fake_binary(load(spark, "documents", sf_dir))
    feats = multimodal.byte_histogram_features(docs)
    # |Q| is bounded by a FIXED id cap (<= 500 queries regardless of corpus
    # size), so the cosine_topk broadcast stays constant as data grows; an
    # unbounded %-sample would scale the broadcast with the corpus. Corpora
    # needing more queries than the broadcast budget go through ivf_topk.
    queries_side = feats.filter(
        (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 50_000)
    )
    return similarity.cosine_topk(
        feats, queries_side, k=3, id_col="doc_id", vec_col="embedding"
    )


@query(
    "q78_dedup_simhash_multiprobe",
    oracle=f"""
WITH s AS ({_simhash_oracle(bits=32)})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
""",
    description=(
        "multi-probe SimHash near-dup pairs: Hamming<=1 via sketch + "
        "single-bit-flip probe join (no O(n^2) compare; the DuckDB oracle "
        "IS the O(n^2) definition it must match)"
    ),
)
def q78(spark, sf_dir):
    return dedup.simhash_multiprobe_pairs(
        load(spark, "documents", sf_dir), bits=32, unpersist_after=False
    )


@query(
    "q49_train_pipeline",
    oracle=f"""
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
d AS (
  SELECT doc_id, source, text FROM documents JOIN keep USING (doc_id)),
q AS (
  SELECT doc_id, source, text,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len({_TOKENS_SQL}) END)::INT AS n_tokens,
         {text.QUALITY_MICROS_SQL.format(t="text")} AS score_micros
  FROM d),
s AS (
  SELECT *, {_POLY_SQL.format(x="md5(text)")} % 100 AS bucket FROM q
  WHERE score_micros >= 500000)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid'
            ELSE 'test' END AS split,
       source,
       count(*) AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens,
       sum(score_micros)::BIGINT AS sum_quality_micros,
       (sum(score_micros) // count(*))::BIGINT AS avg_quality_micros
FROM s GROUP BY 1, 2
""",
    description=(
        "end-to-end training-corpus preparation composed from the "
        "north-star operators: exact dedup (content-hash survivor) -> "
        "exact-integer quality scoring + threshold filter -> deterministic "
        "hash split -> per-(split, source) corpus stats. Every stage is the "
        "verified operator itself (dedup.exact_duplicates, "
        "text.with_quality_micros, train_prep.hash_split). The gated "
        "output and the filter are pure BIGINT -- no double anywhere, so "
        "the result is bit-identical across engines by construction "
        "(the r3/r4 red-cell class is structurally dead)"
    ),
)
def q49(spark, sf_dir):
    from ..operators.text import _floordiv
    from ..operators.train_prep import hash_split

    docs = load(spark, "documents", sf_dir)
    keep = dedup.exact_duplicates(docs).select(F.col("keep_id").alias("doc_id"))
    deduped = docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "source", "text"
    )
    # keep_cols threads source/text through the quality pass: ONE row-local
    # projection instead of a corpus-wide re-join on doc_id
    enriched = text.with_quality_micros(
        deduped, keep_cols=["source", "text"]
    ).filter(F.col("score_micros") >= 500000)
    return (
        hash_split(enriched)
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("score_micros").alias("sum_quality_micros"),
        )
        .withColumn(
            "avg_quality_micros",
            _floordiv(F.col("sum_quality_micros"), F.col("n_docs")),
        )
    )


@query(
    "q45_dedup_clusters",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE {_jacc_pred_sql("a.sh", "b.sh", 0.8)}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.node, s.dst FROM reach r JOIN sym s ON r.lbl = s.src)
SELECT node AS doc_id, min(lbl) AS cluster_id
FROM reach GROUP BY node
""",
    description=(
        "near-dup pairs resolved to duplicate CLUSTERS: connected "
        "components via iterative min-label propagation (lineage cut per "
        "round with localCheckpoint). The oracle is the recursive-CTE "
        "transitive closure -- the definition, independent of the "
        "iteration strategy"
    ),
)
def q45(spark, sf_dir):
    pairs = dedup.ngram_jaccard_pairs(
        load(spark, "documents", sf_dir), threshold=0.8, unpersist_after=False
    )
    return dedup.duplicate_clusters(pairs)


@query(
    "q97_ivf_indexed_ann",
    # Upgraded from rows-only in round 4: hash-sampled centroids, cell
    # assignment, probing, and the final top-k are all deterministic SQL.
    # The oracle recomputes the ENTIRE lifecycle -- the same
    # 8-smallest-id-hash centroids (one scan, no corpus sort: VERDICT r9
    # #4), the same (cosine, cell)-max cell
    # assignment and n_probe=4 probe set, the same k=5 ranking -- so the
    # disk roundtrip must be value-transparent, not merely row-shaped.
    # (Result equality with in-memory ivf_topk + directory pruning stay
    # pinned in tests/test_operators_misc.py.)
    oracle="""
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT,
                    vec_id) - 1 AS cell,
         v AS cv
  FROM e
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT, vec_id
  LIMIT 8),
cell_scores AS (
  SELECT e.vec_id, e.v, cent.cell,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(cent.cv, cent.cv))) AS s
  FROM e CROSS JOIN cent),
ranked_cells AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC)
           AS crn
  FROM cell_scores),
corpus_cell AS (SELECT vec_id, v, cell FROM ranked_cells WHERE crn = 1),
query_cell AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM ranked_cells
  WHERE crn <= 4 AND vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, c.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
  FROM corpus_cell c JOIN query_cell q USING (cell)
  WHERE c.vec_id != q.query_id),
r AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id))::INT
                 AS rnk
      FROM scored)
SELECT query_id, neighbor_id, cos_sim, rnk AS rank FROM r WHERE rnk <= 5
""",
    description=(
        "disk-backed IVF ANN: cell-partitioned parquet index + "
        "partition-pruned probe reads (the at-rest 100 TB ANN path; "
        "plan-asserted directory pruning), with a FULL SQL oracle "
        "recomputing centroids, cell assignment, probe set, and top-k"
    ),
)
def q97(spark, sf_dir):
    import shutil

    from ..operators import similarity

    emb = load(spark, "embeddings", sf_dir)
    queries_side = emb.filter(F.col("vec_id") % 100 == 0)
    # persistent warehouse scratch (not tempdir+collect): the probe plan
    # stays lazy, so the lint sweep sees the partition-pruned reads and
    # nothing funnels through the driver
    path = "spark-warehouse/q97_ivf_index"
    shutil.rmtree(path, ignore_errors=True)
    similarity.write_ivf_index(emb, path, n_centroids=8)
    return similarity.ivf_topk_indexed(spark, path, queries_side, n_probe=4, k=5)


@query(
    "q99_embedding_dup_clusters",
    oracle=f"""
WITH RECURSIVE pairs AS (
{_signlsh_neardup_oracle(threshold=0.45, bands=12, bits_per_band=6, dim=64)}
),
sym AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.node, s.dst FROM reach r JOIN sym s ON r.lbl = s.src)
SELECT node AS vec_id, min(lbl) AS cluster_id
FROM reach GROUP BY node
""",
    description=(
        "embedding near-dup pairs (banded sign-LSH + exact verify) "
        "resolved to duplicate clusters via the same min-label-propagation "
        "connected components as the text path (q45); oracle = recursive "
        "CTE over the replicated banding"
    ),
)
def q99(spark, sf_dir):
    pairs = similarity.cosine_neardup_pairs(
        load(spark, "embeddings", sf_dir),
        threshold=0.45,
        bands=12,
        bits_per_band=6,
        dim=64,
    ).select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    return dedup.duplicate_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


@query(
    "z02_novel_documents",
    oracle="""
SELECT n.doc_id, n.source
FROM documents n
WHERE n.source <> 'src0'
  AND md5(n.text) NOT IN (SELECT md5(text) FROM documents WHERE source = 'src0')
""",
    description=(
        "incremental-ingestion exact dedup: new batch (source<>src0) "
        "anti-joined on content md5 against the existing corpus (src0); "
        "bucket the corpus index by the hash for exchange-free per-batch "
        "ingests at scale"
    ),
)
def z02(spark, sf_dir):
    docs = load(spark, "documents", sf_dir)
    return dedup.novel_documents(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    ).select("doc_id", "source")


@query(
    "z03_minhash_novel",
    oracle=_minhash_novel_oracle(),
    description=(
        "incremental-ingestion NEAR-dup filter: new batch keeps only docs "
        "with no corpus document at Jaccard>=0.5; candidates via "
        "cross-frame banded MinHash (new bands x corpus bands, never "
        "corpus x corpus), exact-Jaccard verify on candidates only"
    ),
)
def z03(spark, sf_dir):
    docs = load(spark, "documents", sf_dir)
    return dedup.minhash_novel(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        threshold=0.5,
        unpersist_after=False,
    ).select("doc_id", "source")


# --- at-rest MinHash-LSH index: build and probe priced separately ----
#
# VERDICT r9 #3: the old single z106 entry conflated the ONE-TIME
# build+append with the RECURRING probe (~13 Spark actions per bench
# run), so the gate priced an operation no steady-state pipeline pays
# per batch. Split: z114 prices build+append (and oracle-verifies the
# indexed doc set round-trip), z115 prices the probe against a cached
# on-disk index (first call builds it; bench repeat>=2 min-of-N reports
# the probe-only steady state, which is the 100 TB recurring cost).


def _z_minhash_index_path(sf_dir: str) -> str:
    return _cache_path(sf_dir, "minhash_index")


def _z_minhash_index_cached(spark, sf_dir: str) -> str:
    """src0 built, src1 appended O(|batch|); cached by
    :func:`.base.cached_index` until documents.parquet changes."""

    def build(path):
        docs = load(spark, "documents", sf_dir)
        dedup.write_minhash_index(docs.filter(F.col("source") == "src0"), path)
        dedup.append_minhash_index(docs.filter(F.col("source") == "src1"), path)

    return cached_index(sf_dir, "minhash_index", "documents", build)


@query(
    "z114_minhash_index_build",
    oracle="SELECT doc_id, source FROM documents "
           "WHERE source IN ('src0', 'src1')",
    description=(
        "at-rest MinHash-LSH index BUILD cost (one-time): build over "
        "src0, O(|batch|) append src1 -- bucket-partitioned band slices "
        "+ verify payloads, sets-before-bands crash ordering, shared "
        "maintenance-lock protocol. Returns the indexed doc set read "
        "BACK from the index's verify payloads (joined to documents for "
        "lineage), so the oracle checks the round trip: exactly the "
        "src0+src1 docs are indexed, none lost, none duplicated"
    ),
)
def z114(spark, sf_dir):
    # a build entry prices the build: drop the cache so cached_index
    # rebuilds it, leaving a valid marker for z115's probe
    shutil.rmtree(_z_minhash_index_path(sf_dir), ignore_errors=True)
    path = _z_minhash_index_cached(spark, sf_dir)
    docs = load(spark, "documents", sf_dir)
    indexed = (
        spark.read.parquet(f"{path}/sets").select("doc_id").distinct()
    )
    return docs.join(indexed, "doc_id").select("doc_id", "source")


@query(
    "z115_minhash_index_probe",
    oracle=_minhash_novel_oracle(
        corpus_sql="source IN ('src0', 'src1')",
        batch_sql="source = 'src2'",
    ),
    description=(
        "at-rest MinHash-LSH index PROBE cost (recurring, the "
        "steady-state per-batch price): screen ONE incoming source "
        "batch (src2) against the cached src0+src1 index with both "
        "index reads partition-pruned to the probed buckets (<= "
        "n_buckets-int driver actions -> static partition filters). "
        "Value-identical to minhash_novel(batch, corpus) (candidates "
        "join on exact band slices; exact-Jaccard verify), so the "
        "oracle is the same replicated banding -- the disk roundtrip, "
        "the append AND the cache are value-transparent. First call "
        "builds the cache; bench min-of-N prices the probe alone"
    ),
)
def z115(spark, sf_dir):
    path = _z_minhash_index_cached(spark, sf_dir)
    docs = load(spark, "documents", sf_dir)
    return dedup.minhash_novel_indexed(
        spark,
        docs.filter(F.col("source") == "src2"),
        path,
        threshold=0.5,
        unpersist_after=False,
    ).select("doc_id", "source")


@query(
    "z05_audio_meta",
    oracle="""
WITH p AS (
  SELECT doc_id,
         (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                          WHEN 2 THEN 44100 ELSE 48000 END) AS rate,
         64 + (n_chars * 7) % 1000 AS n_samples
  FROM documents)
SELECT doc_id,
       (44 + 2 * n_samples)::BIGINT AS n_bytes,
       rate::INT AS sample_rate,
       1 AS n_channels,
       n_samples::BIGINT AS n_samples,
       (n_samples * 1000 // rate)::BIGINT AS duration_ms,
       'PCM16' AS codec
FROM p
""",
    description=(
        "audio leg of the multimodal family: REAL RIFF/WAVE payloads "
        "(stdlib wave, 16-bit mono PCM, deterministic generation "
        "parameters) -> REAL header decode via Arrow-batched mapInPandas. "
        "The oracle predicts the decoded metadata arithmetically from the "
        "generation parameters, so a decoder that misparses actual WAV "
        "headers fails the gate; only the image pixel codec remains "
        "environment-stubbed"
    ),
)
def z05(spark, sf_dir):
    docs = multimodal.attach_wav_binary(load(spark, "documents", sf_dir))
    return multimodal.decode_wav_meta(docs)


@query(
    "z12_image_meta",
    oracle="""
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 13 AS width,
         3 + n_chars % 11 AS height
  FROM documents)
SELECT doc_id,
       width::INT AS width, height::INT AS height,
       8 AS bit_depth, 0 AS color_type, 'PNG' AS format,
       (width * height)::BIGINT AS n_pixels,
       -- exact integer sum of (x*7 + y*13 + doc_id) % 256 over the
       -- raster, exactly as the generator lays pixels out
       list_sum(flatten(
         [[(x * 7 + y * 13 + doc_id) % 256
           for x in generate_series(0, width - 1)]
          for y in generate_series(0, height - 1)]))::BIGINT AS pixel_sum
FROM p
""",
    description=(
        "image leg, codec-REAL end to end: genuine PNG payloads (stdlib "
        "zlib IDAT + CRCs) -> real IHDR header parse -> FULL pixel decode "
        "(inflate + scanline unfilter) -> per-image pixel_sum. The oracle "
        "recomputes dimensions and the exact pixel sum from the "
        "deterministic generation parameters, so a decoder that misreads "
        "actual PNG bytes (header, CRC, filters, raster order) fails the "
        "gate"
    ),
)
def z12(spark, sf_dir):
    docs = multimodal.attach_png_binary(load(spark, "documents", sf_dir))
    meta = multimodal.decode_png_meta(docs).select(
        "doc_id", "width", "height", "bit_depth", "color_type", "format"
    )
    pix = multimodal.decode_image_pixels(docs).select(
        "doc_id",
        F.size("pixels").cast("long").alias("n_pixels"),
        F.aggregate(
            "pixels", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("pixel_sum"),
    )
    return meta.join(pix, "doc_id")


@query(
    "z83_bmp_pixel_stats",
    oracle="""
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 13 AS w,
         3 + n_chars % 11 AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, w * h AS n,
         flatten([[(x * 7 + y * 13 + doc_id) % 256
                   for x in generate_series(0, w - 1)]
                  for y in generate_series(0, h - 1)]) AS pb,
         flatten([[(x * 3 + y * 5 + 2 * doc_id) % 256
                   for x in generate_series(0, w - 1)]
                  for y in generate_series(0, h - 1)]) AS pg,
         flatten([[(x * 11 + y + 3 * doc_id) % 256
                   for x in generate_series(0, w - 1)]
                  for y in generate_series(0, h - 1)]) AS pr
  FROM p),
s AS (
  SELECT doc_id, w, h, n,
         list_sum(pb)::BIGINT AS sum_b,
         list_sum(pg)::BIGINT AS sum_g,
         list_sum(pr)::BIGINT AS sum_r,
         list_sum([v * v for v in pb])::BIGINT AS sq_b,
         list_sum([v * v for v in pg])::BIGINT AS sq_g,
         list_sum([v * v for v in pr])::BIGINT AS sq_r
  FROM px)
SELECT doc_id, w::INT AS width, h::INT AS height, n::BIGINT AS n_pixels,
       sum_b, sum_g, sum_r,
       ((2 * 1000000 * sum_b + n) // (2 * n))::BIGINT AS mean_b_micros,
       ((2 * 1000000 * sum_g + n) // (2 * n))::BIGINT AS mean_g_micros,
       ((2 * 1000000 * sum_r + n) // (2 * n))::BIGINT AS mean_r_micros,
       ((2 * 1000000 * (n * sq_b - sum_b * sum_b) + n * n)
        // (2 * n * n))::BIGINT AS var_b_micros,
       ((2 * 1000000 * (n * sq_g - sum_g * sum_g) + n * n)
        // (2 * n * n))::BIGINT AS var_g_micros,
       ((2 * 1000000 * (n * sq_r - sum_r * sum_r) + n * n)
        // (2 * n * n))::BIGINT AS var_r_micros
FROM s
""",
    description=(
        "COLOR image leg, codec-REAL end to end: genuine 24-bit BMP "
        "payloads (stdlib struct, bottom-up raster, row padding) -> full "
        "pixel decode with dimensions MEASURED against the raster (a "
        "lying header raises) -> per-channel sum + exact-integer-micros "
        "mean/variance from actual decoded pixels. The oracle recomputes "
        "every statistic arithmetically from the deterministic generation "
        "parameters, so a decoder that misreads real BMP bytes (padding, "
        "bottom-up order, BGR layout) fails the gate. Closes the r4 "
        "pixel-stub gap: NotImplementedError now remains only for "
        "externally-coded formats (JPEG/WebP)"
    ),
)
def z83(spark, sf_dir):
    docs = multimodal.attach_bmp_binary(load(spark, "documents", sf_dir))
    return multimodal.decode_bmp_pixel_stats(docs)


@query(
    "z16_dup_ngram_stats",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
g AS (
  SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
  FROM tok, UNNEST(generate_series(1, len(t)-5+1)) AS s(i)),
hot AS (
  SELECT gram
  FROM (SELECT gram, count(DISTINCT doc_id) AS dfc FROM g GROUP BY 1)
  WHERE dfc >= 10),
agg AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN hot.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup
  FROM g LEFT JOIN hot ON g.gram = hot.gram
  GROUP BY 1)
SELECT d.doc_id,
       coalesce(n_grams, 0)     AS n_grams,
       coalesce(n_dup, 0)       AS n_dup_grams,
       CASE WHEN coalesce(n_grams, 0) > 0
            THEN (coalesce(n_dup, 0) * 10000) // n_grams
            ELSE 0 END          AS dup_bp
FROM documents d LEFT JOIN agg USING (doc_id)
""",
    description=(
        "corpus-level duplicated-n-gram rate per doc (Lee et al. exact-"
        "substring dedup signal at 5-gram granularity): grams occurring "
        "in >=10 docs are boilerplate; dup_bp = exact-integer basis "
        "points of each doc made of them. Two gram-keyed shuffles with "
        "map-side combine; catches 80%-shared-template docs that "
        "document-level dedup can never see"
    ),
)
def z16(spark, sf_dir):
    return dedup.dup_ngram_stats(
        load(spark, "documents", sf_dir), n=5, min_docs=10
    )


@query(
    "z19_semantic_dedup",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT vec_a, vec_b FROM (
{_signlsh_neardup_oracle(threshold=0.45, bands=12, bits_per_band=6, dim=64)}
  ) AS pr),
sym AS (
  SELECT vec_a AS src, vec_b AS dst FROM p
  UNION
  SELECT vec_b, vec_a FROM p),
reach(node, lbl) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.node, s.dst FROM reach r JOIN sym s ON r.lbl = s.src),
cl AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT e.vec_id,
       coalesce(cl.cluster_id, e.vec_id) AS cluster_id,
       coalesce(cl.cluster_id, e.vec_id) = e.vec_id AS kept
FROM embeddings e LEFT JOIN cl ON cl.node = e.vec_id
""",
    description=(
        "SemDeDup-shaped semantic dedup: banded sign-LSH near-dup pairs "
        "resolved to connected components, one keep/drop decision per "
        "vector (cluster representative = min id; singletons keep "
        "themselves). The oracle is the recursive-CTE transitive closure "
        "over the SAME deterministic pair set as q39"
    ),
)
def z19(spark, sf_dir):
    return similarity.semantic_dedup(
        load(spark, "embeddings", sf_dir),
        threshold=0.45,
        bands=12,
        bits_per_band=6,
        dim=64,
    )


@query(
    "z21_embedding_moments",
    oracle="""
WITH m AS (
  SELECT i - 1 AS dim_idx,
         round(embedding[i]::DOUBLE * 1000000)::BIGINT AS mv
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(i))
SELECT dim_idx, count(*) AS n,
       sum(mv)::BIGINT AS sum_micro,
       (sum(mv)::BIGINT // count(*)) AS mean_micro,
       sum(mv * mv)::DECIMAL(38,0) AS sum_sq_micro2
FROM m GROUP BY dim_idx
""",
    description=(
        "per-dimension embedding corpus moments (whitening/normalization "
        "stats): values quantized to exact integer micros BEFORE "
        "summation so the sums are associative -- deterministic under any "
        "partition order; the squares sum runs AND presents in "
        "DECIMAL(38,0) (no silent int64 wrap at petabyte row counts -- "
        "VERDICT r10 #3; DuckDB side HUGEINT-exact, cast to the same "
        "type); posexplode fan-out in the scan projection + one "
        "map-side-combined groupBy over dim keys, shuffle payload "
        "O(dim x partitions) regardless of corpus size"
    ),
)
def z21(spark, sf_dir):
    return similarity.embedding_moments(load(spark, "embeddings", sf_dir))


@query(
    "z24_video_meta",
    oracle="""
WITH p AS (
  SELECT doc_id,
         (2 + doc_id % 5)   AS n_frames,
         (10 + doc_id % 20) AS fps,
         (4 + doc_id % 13)  AS width,
         (3 + n_chars % 11) AS height
  FROM documents)
SELECT doc_id, n_frames::INT AS n_frames, fps::INT AS fps,
       width::INT AS width, height::INT AS height,
       (n_frames * 1000 // fps)::BIGINT AS duration_ms,
       'MPNG' AS format
FROM p
""",
    description=(
        "video leg, codec-REAL end to end: genuine multi-frame payloads "
        "(real stdlib PNGs inside a length-prefixed MPNG container) -> "
        "real container walk + frame-0 IHDR parse with CRC check -> "
        "n_frames/fps/dims/integer-millis duration. The oracle recomputes "
        "every field from the deterministic generation parameters, so a "
        "parser that mis-walks the sample table or misreads frame headers "
        "fails the gate; sampled frames are REAL PNGs that feed the "
        "decode_png pixel path (test-pinned)"
    ),
)
def z24(spark, sf_dir):
    docs = multimodal.attach_mpng_binary(load(spark, "documents", sf_dir))
    return multimodal.decode_mpng_meta(docs)


@query(
    "z25_video_frame_stats",
    oracle="""
WITH p AS (
  SELECT doc_id,
         (2 + doc_id % 5)   AS n_frames,
         (4 + doc_id % 13)  AS width,
         (3 + n_chars % 11) AS height
  FROM documents),
f AS (
  SELECT doc_id, width, height, i AS frame_idx
  FROM p, UNNEST(generate_series(0, n_frames - 1)) AS s(i)
  WHERE i % 2 = 0)
SELECT doc_id, frame_idx::INT AS frame_idx,
       width::INT AS width, height::INT AS height,
       list_sum(flatten(
         [[(x * 7 + y * 13 + doc_id + frame_idx * 31) % 256
           for x in generate_series(0, width - 1)]
          for y in generate_series(0, height - 1)]))::BIGINT AS pixel_sum
FROM f
""",
    description=(
        "frame-granular video pixel decode, codec-REAL: MPNG payloads -> "
        "keyframe sampling (stride 2) -> full stdlib PNG pixel decode per "
        "frame -> exact per-frame pixel sums. The oracle recomputes every "
        "sampled frame's raster arithmetically, so container walking, "
        "frame extraction, AND pixel decoding are all gate-verified"
    ),
)
def z25(spark, sf_dir):
    vids = multimodal.attach_mpng_binary(load(spark, "documents", sf_dir))
    frames = multimodal.sample_mpng_frames(vids, stride=2)
    return multimodal.frame_pixel_stats(frames)


@query(
    "z26_hard_negatives",
    oracle=f"""
WITH e AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
      FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT query_id, query_label, e.vec_id AS neighbor_id,
         e.label AS neighbor_label, {_COS_SQL} AS cos_sim
  FROM q CROSS JOIN e
  WHERE e.vec_id != query_id AND e.label != query_label),
r AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id))::INT AS rnk
      FROM scored)
SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim,
       rnk AS rank
FROM r WHERE rnk <= 5
""",
    description=(
        "hard-negative mining for contrastive training: per query, the "
        "top-5 most-similar vectors with a DIFFERENT label (the nearest "
        "wrong answers DPR/SimCSE-style training samples as negatives). "
        "Broadcast queries + label-mismatch predicate inside the scan "
        "join + per-partition partial top-k -- one corpus scan, no "
        "corpus shuffle"
    ),
)
def z26(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    return similarity.hard_negatives(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=5
    )


@query(
    "z27_label_centroids",
    oracle="""
WITH m AS (
  SELECT label, i - 1 AS dim_idx,
         round(embedding[i]::DOUBLE * 1000000)::BIGINT AS mv
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS s(i))
SELECT label, dim_idx, count(*) AS n,
       sum(mv)::BIGINT AS sum_micro,
       (sum(mv)::BIGINT // count(*)) AS mean_micro
FROM m GROUP BY label, dim_idx
""",
    description=(
        "per-label embedding centroids (class prototypes) in exact "
        "integer micros -- nearest-centroid classification / per-class "
        "drift tables. Deterministic by construction (associative BIGINT "
        "sums); one map-side-combined groupBy over (label x dim) keys, "
        "shuffle payload independent of corpus size"
    ),
)
def z27(spark, sf_dir):
    return similarity.label_centroids(load(spark, "embeddings", sf_dir))


@query(
    "z37_capped_neardup",
    oracle=f"""
{_signlsh_neardup_oracle(threshold=0.45, bands=12, bits_per_band=6, dim=64,
                         max_bucket=5)}
""",
    description=(
        "sign-LSH near-dup with the oversize-bucket cap engaged "
        "(max_bucket=5): every (band, key) bucket is deterministically "
        "rank-subdivided so per-bucket join cost is bounded by "
        "max_bucket^2 regardless of duplicate skew -- the backstop when "
        "bits_per_band is fixed by a shared signature layout. Exact "
        "verify unchanged (no false positives; capped output is a "
        "subset of q39's). Oracle replicates the rank rule bit-for-bit"
    ),
)
def z37(spark, sf_dir):
    return similarity.cosine_neardup_pairs(
        load(spark, "embeddings", sf_dir),
        threshold=0.45,
        bands=12,
        bits_per_band=6,
        dim=64,
        max_bucket=5,
    )


@query(
    "z53_quantized_ann",
    oracle=f"""
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS ev FROM embeddings),
dims AS (SELECT i FROM generate_series(1, 64) t(i)),
stats AS (
  SELECT i, min(ev[i]) AS mn, max(ev[i]) AS mx
  FROM e CROSS JOIN dims GROUP BY i),
params AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM stats),
recon AS (
  SELECT vec_id,
         [CASE WHEN mxs[i] = mns[i] THEN mns[i]
               ELSE mns[i] + round((ev[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]))
                    * (mxs[i] - mns[i]) / 255.0 END
          for i in generate_series(1, 64)] AS v
  FROM e CROSS JOIN params),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT query_id, r.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
  FROM q CROSS JOIN recon r WHERE r.vec_id != query_id),
rk AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id))::INT
                   AS rnk
       FROM scored)
SELECT query_id, neighbor_id, cos_sim, rnk AS rank FROM rk WHERE rnk <= 10
""",
    description=(
        "ANN over an int8-SCALAR-QUANTIZED corpus: per-dim [min, max] "
        "codebook (dim-bounded aggregate -> literals, like IVF "
        "centroids), 255-level linear codes reconstructed row-locally "
        "(1 byte/dim at rest -- 4x smaller than float32, the 100 TB "
        "embedding-store play), raw queries scored against the "
        "reconstruction with the q38 broadcast/two-phase-top-k contract. "
        "Recall loss IS the quantization error, not a search "
        "approximation"
    ),
)
def z53(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    return similarity.quantized_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=10
    )


@query(
    "z54_containment_pairs",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {_ratio_sql("len(list_intersect(a.sh, b.sh))", "len(a.sh)")}
         AS containment
FROM d a JOIN d b ON a.doc_id != b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) * 1000000 >= len(a.sh) * 800000
""",
    description=(
        "EXACT directed shingle containment (|A∩B|/|A| >= 0.8): the "
        "asymmetric near-dup detector catching short docs embedded in "
        "longer ones, which symmetric Jaccard scores low (union dominated "
        "by B). Asymmetric prefix filter: probe side indexes its rarest "
        "prefix, indexed side carries all shingles (containment bounds "
        "only A's share); |B| >= t|A| size filter; exact verify on "
        "candidates -- no all-pairs"
    ),
)
def z54(spark, sf_dir):
    return dedup.containment_pairs(
        load(spark, "documents", sf_dir), threshold=0.8, unpersist_after=False
    )


@query(
    "z58_dedup_method_report",
    oracle=f"""
WITH exact_d AS (
  SELECT count(*) AS n FROM (
    SELECT md5(text) FROM documents GROUP BY md5(text) HAVING count(*) > 1)),
canon_d AS (
  SELECT count(*) AS n FROM (
    SELECT 1 FROM (
      SELECT md5(trim(regexp_replace(regexp_replace(
               translate(lower(text), '{text.ACCENT_SRC}', '{text.ACCENT_DST}'),
               '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS h
      FROM documents) GROUP BY h HAVING count(*) > 1)),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents)),
jac_d AS (
  SELECT count(*) AS n FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {_jacc_pred_sql("a.sh", "b.sh", 0.8)}),
cont_d AS (
  SELECT count(*) AS n FROM sh a JOIN sh b ON a.doc_id != b.doc_id
  WHERE len(list_intersect(a.sh, b.sh)) * 1000000 >= len(a.sh) * 800000)
SELECT 'exact_groups' AS method, n AS n_found FROM exact_d
UNION ALL SELECT 'canonical_groups', n FROM canon_d
UNION ALL SELECT 'jaccard_pairs_t80', n FROM jac_d
UNION ALL SELECT 'containment_pairs_t80', n FROM cont_d
""",
    description=(
        "dedup-method comparison report: how many duplicate groups/pairs "
        "each detector family finds on the same corpus (byte-exact, "
        "canonical-form, symmetric Jaccard t=0.8, directed containment "
        "t=0.8) -- the method-selection diagnostic a pipeline runs before "
        "committing to a dedup budget. Each leg is the verified operator "
        "itself; counts union into one scorecard"
    ),
)
def z58(spark, sf_dir):
    from ..functions.staging import staged

    # staged (VERDICT r14 #1): four detector legs share one corpus --
    # materialize the scan once instead of re-reading parquet per leg
    docs = staged(load(spark, "documents", sf_dir), mode="persist")

    def one(name, df_count):
        return df_count.select(
            F.lit(name).alias("method"), F.col("n").alias("n_found")
        )

    exact_g = one(
        "exact_groups",
        dedup.exact_duplicates(docs)
        .filter(F.col("n_copies") > 1)
        .agg(F.count("*").alias("n")),
    )
    canon_g = one(
        "canonical_groups",
        text.canonical_dedup_groups(docs)
        .filter(F.col("n_copies") > 1)
        .agg(F.count("*").alias("n")),
    )
    jac = one(
        "jaccard_pairs_t80",
        dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, unpersist_after=False
        ).agg(F.count("*").alias("n")),
    )
    cont = one(
        "containment_pairs_t80",
        dedup.containment_pairs(
            docs, threshold=0.8, unpersist_after=False
        ).agg(F.count("*").alias("n")),
    )
    return exact_g.unionByName(canon_g).unionByName(jac).unionByName(cont)


@query(
    "z64_soft_dedup_weights",
    oracle="""
WITH g AS (
  SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id
  FROM documents GROUP BY md5(text))
SELECT keep_id, n AS n_copies,
       round(sqrt(n::DOUBLE), 6) AS sample_weight
FROM g
""",
    description=(
        "soft dedup: instead of hard-dropping duplicates, each exact-dup "
        "cluster's survivor carries weight sqrt(n) -- the sub-linear "
        "duplicate weighting that keeps popular content influential "
        "without letting it dominate training. sqrt is IEEE-correctly-"
        "rounded (NOT a libm transcendental), so the weights are "
        "engine-exact; one hash-groupBy, same plan as exact dedup"
    ),
)
def z64(spark, sf_dir):
    g = dedup.exact_duplicates(load(spark, "documents", sf_dir))
    return g.select(
        "keep_id",
        F.col("n_copies"),
        F.round(F.sqrt(F.col("n_copies").cast("double")), 6).alias(
            "sample_weight"
        ),
    )


@query(
    "z75_quantization_recall",
    oracle=f"""
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS ev FROM embeddings),
dims AS (SELECT i FROM generate_series(1, 64) t(i)),
stats AS (
  SELECT i, min(ev[i]) AS mn, max(ev[i]) AS mx
  FROM e CROSS JOIN dims GROUP BY i),
params AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM stats),
recon AS (
  SELECT vec_id,
         [CASE WHEN mxs[i] = mns[i] THEN mns[i]
               ELSE mns[i] + round((ev[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]))
                    * (mxs[i] - mns[i]) / 255.0 END
          for i in generate_series(1, 64)] AS v
  FROM e CROSS JOIN params),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 100 = 0),
exact_scored AS (
  SELECT query_id, e2.vec_id AS neighbor_id,
         round(list_dot_product(qv, e2.ev)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(e2.ev, e2.ev))), 6) AS cos_sim
  FROM q CROSS JOIN e e2 WHERE e2.vec_id != query_id),
exact_k AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM exact_scored) WHERE rnk <= 10),
quant_scored AS (
  SELECT query_id, r.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
  FROM q CROSS JOIN recon r WHERE r.vec_id != query_id),
quant_k AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM quant_scored) WHERE rnk <= 10),
ov AS (
  SELECT a.query_id, count(*) AS hits
  FROM exact_k a JOIN quant_k b
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY a.query_id)
SELECT e.query_id, round(coalesce(ov.hits, 0) / 10.0, 6) AS recall_at_10
FROM (SELECT DISTINCT query_id FROM exact_k) e
LEFT JOIN ov ON ov.query_id = e.query_id
""",
    description=(
        "self-evaluation under the oracle gate: per-query recall@10 of "
        "the int8-quantized ANN (z53) against exact full-precision "
        "top-k (q38) -- the measure-your-own-index harness as a "
        "first-class verified query, not a side script. Both legs are "
        "the verified operators; overlap join + one division"
    ),
)
def z75(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.cosine_topk(emb, q, k=10).select(
        "query_id", "neighbor_id"
    )
    quant = similarity.quantized_topk(emb, q, k=10).select(
        "query_id", "neighbor_id"
    )
    ov = exact.join(quant, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("_hits"))
    return (
        exact.select("query_id")
        .distinct()
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("_hits"), F.lit(0)) / F.lit(10.0), 6
            ).alias("recall_at_10"),
        )
    )


@query(
    "z76_lsh_pair_recall",
    oracle=f"""
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
exact_pairs AS (
  SELECT a.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45),
banded AS ({_signlsh_neardup_oracle(threshold=0.45, bands=12,
                                    bits_per_band=6, dim=64)}),
ne AS (SELECT count(*) AS n_exact FROM exact_pairs),
nb AS (SELECT count(*) AS n_banded FROM banded)
SELECT n_exact, n_banded,
       {_ratio_sql("n_banded", "greatest(n_exact, 1)")} AS pair_recall
FROM ne CROSS JOIN nb
""",
    description=(
        "in-gate LSH quality evaluation: banded sign-LSH near-dup pairs "
        "(q39, no false positives by construction) counted against the "
        "exact all-pairs ground truth, recall = n_banded/n_exact -- the "
        "S-curve recall claim in cosine_neardup_pairs' docstring, "
        "MEASURED under the oracle hash gate. The all-pairs leg is the "
        "test-scale-only baseline (whitelisted cartesian), the banded "
        "leg is the scale path"
    ),
)
def z76(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    exact = similarity.cosine_neardup_pairs(emb, threshold=0.45, bands=None)
    banded = similarity.cosine_neardup_pairs(
        emb, threshold=0.45, bands=12, bits_per_band=6, dim=64
    )
    ne = exact.agg(F.count("*").alias("n_exact"))
    nb = banded.agg(F.count("*").alias("n_banded"))
    return ne.crossJoin(F.broadcast(nb)).select(
        "n_exact",
        "n_banded",
        (
            exactnum.ratio_micros_halfup(
                F.col("n_banded"), F.greatest(F.col("n_exact"), F.lit(1))
            )
            / F.lit(1000000.0)
        ).alias("pair_recall"),
    )


@query(
    "z77_minhash_pair_recall",
    oracle=f"""
WITH exact_pairs AS (
  SELECT 1 FROM (
    WITH d AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents))
    SELECT a.doc_id FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE {_jacc_pred_sql("a.sh", "b.sh", 0.5)})),
mh AS ({_minhash_oracle()}),
ne AS (SELECT count(*) AS n_exact FROM exact_pairs),
nb AS (SELECT count(*) AS n_minhash FROM mh)
SELECT n_exact, n_minhash,
       {_ratio_sql("n_minhash", "greatest(n_exact, 1)")} AS pair_recall
FROM ne CROSS JOIN nb
""",
    description=(
        "in-gate MinHash-LSH quality evaluation: banded-MinHash near-dup "
        "pairs (q32; exact-Jaccard verified, so no false positives) "
        "counted against the exact inverted-index ground truth at the "
        "same threshold -- recall measured under the oracle hash gate, "
        "the q31/q32 quality contract as a verified query"
    ),
)
def z77(spark, sf_dir):
    docs = load(spark, "documents", sf_dir)
    exact = dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, unpersist_after=False
    )
    mh = dedup.minhash_lsh_pairs(docs, threshold=0.5, unpersist_after=False)
    ne = exact.agg(F.count("*").alias("n_exact"))
    nb = mh.agg(F.count("*").alias("n_minhash"))
    return ne.crossJoin(F.broadcast(nb)).select(
        "n_exact",
        "n_minhash",
        (
            exactnum.ratio_micros_halfup(
                F.col("n_minhash"), F.greatest(F.col("n_exact"), F.lit(1))
            )
            / F.lit(1000000.0)
        ).alias("pair_recall"),
    )


@query(
    "z81_split_leakage",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh,
         CASE WHEN {_POLY_SQL.format(x="md5(text)")} % 100 < 80 THEN 'train'
              WHEN {_POLY_SQL.format(x="md5(text)")} % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, text, {_TOKENS_SQL} AS w FROM documents))
SELECT a.doc_id AS doc_a, a.split AS split_a,
       b.doc_id AS doc_b, b.split AS split_b,
       {_jacc_sql("a.sh", "b.sh")} AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id AND a.split != b.split
WHERE {_jacc_pred_sql("a.sh", "b.sh", 0.8)}
""",
    description=(
        "train/test split leakage audit: near-duplicate pairs (exact "
        "n-gram Jaccard >= 0.8, the q31 inverted-index plan) that landed "
        "in DIFFERENT hash splits. The content-hash split guarantees "
        "identical text cannot leak -- but near-duplicate VARIANTS can "
        "and do (6/14 pairs at sf0.001/0.01), which is exactly what "
        "eval-set contamination looks like in practice; this is the "
        "audit a split pipeline gates on (fix: split by near-dup "
        "CLUSTER id, q45, instead of raw content hash)"
    ),
)
def z81(spark, sf_dir):
    from ..operators.train_prep import hash_split

    docs = load(spark, "documents", sf_dir)
    labels = hash_split(docs).select("doc_id", "split")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.8, unpersist_after=False
    )
    la = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "split_a", "doc_b", "split_b", "jaccard")
    )


@query(
    "z97_diversity_sample",
    oracle="""
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
cent AS (
  SELECT row_number() OVER (
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT,
                    vec_id) - 1 AS cell,
         v AS cv
  FROM e
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT, vec_id
  LIMIT 8),
cell_scores AS (
  SELECT e.vec_id, cent.cell,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(cent.cv, cent.cv))) AS s
  FROM e CROSS JOIN cent),
assigned AS (
  SELECT vec_id, cell, s,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC)
           AS crn
  FROM cell_scores),
own AS (SELECT vec_id, cell, round(s, 6) AS cos_to_centroid
        FROM assigned WHERE crn = 1),
r AS (
  SELECT cell, vec_id, cos_to_centroid,
         (row_number() OVER (PARTITION BY cell
                             ORDER BY cos_to_centroid DESC, vec_id))::INT
           AS rank
  FROM own)
SELECT cell, rank, vec_id, cos_to_centroid FROM r WHERE rank <= 2
""",
    description=(
        "embedding-space diversity subset: the 2 most central vectors of "
        "each hash-centroid cell (SemDeDup-adjacent cluster "
        "representatives -- the cheap coreset for curriculum/eval-set "
        "building). Centroid literals baked into a codegen assignment "
        "expression (no shuffle), one per-cell window; hash sampling "
        "keeps the whole lifecycle SQL-replicable, so the oracle "
        "recomputes centroids, assignment (q97 tiebreak), and ranks"
    ),
)
def z97(spark, sf_dir):
    return similarity.diversity_sample(
        load(spark, "embeddings", sf_dir), per_cell=2, n_centroids=8
    )


def _source_minhash_oracle() -> str:
    doc_sig = ",\n         ".join(
        f"{e} AS s{i}" for i, e in enumerate(xhash.minhash_sql_exprs("sh", k=8))
    )
    src_sig = ", ".join(f"min(s{i}) AS m{i}" for i in range(8))
    agree = " + ".join(
        f"(a.m{i} = b.m{i})::INT" for i in range(8)
    )
    return f"""
WITH d AS (
  SELECT source, {_SHINGLES_SQL} AS sh
  FROM (SELECT source, {_TOKENS_SQL} AS w FROM documents)),
sig AS (
  SELECT source,
         {doc_sig}
  FROM d),
ssig AS (
  SELECT source, {src_sig} FROM sig GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       ({agree})::INT AS n_agree,
       ((2000000 * ({agree}) + 8) // 16) / 1000000.0 AS est_jaccard
FROM ssig a JOIN ssig b ON a.source < b.source
"""


@query(
    "z98_source_minhash_similarity",
    oracle=_source_minhash_oracle(),
    description=(
        "corpus-level MERGEABLE MinHash: a source's 8-element signature "
        "is the elementwise min over its documents' signatures -- the "
        "same fold works per partition, per batch, per day, and unions "
        "combine by another elementwise min (the sketch property exact "
        "counts lack). Pairwise source similarity = component agreement "
        "/ k as an exact HALF_UP-micros ratio; the |sources|^2 join is "
        "dimension-sized. The cross-batch corpus-overlap monitor that "
        "never rescans history"
    ),
)
def z98(spark, sf_dir):
    docs = load(spark, "documents", sf_dir)
    # materialized tokens (word_shingles PERF CONTRACT), then per-doc
    # portable signatures, then the per-source elementwise-min fold
    sh = docs.withColumn("_toks", xhash.ws_tokens(F.col("text"))).select(
        "source", xhash.word_shingles(F.col("_toks"), 3).alias("sh")
    )
    sig = sh.select(
        "source", xhash.minhash_signature(F.col("sh"), k=8).alias("sig")
    )
    ssig = sig.groupBy("source").agg(
        *[F.min(F.col("sig")[i]).alias(f"m{i}") for i in range(8)]
    )
    a, b = ssig.alias("a"), ssig.alias("b")
    agree = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int") for i in range(8)
    )
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            agree.alias("n_agree"),
            (
                exactnum.ratio_micros_halfup(agree.cast("long"), F.lit(8))
                / F.lit(1_000_000.0)
            ).alias("est_jaccard"),
        )
    )


@query(
    "z99_jpeg_pixel_stats",
    oracle="""
SELECT doc_id,
       (6 + doc_id % 19)::INT AS width,
       (5 + n_chars % 18)::INT AS height,
       ((6 + doc_id % 19) * (5 + n_chars % 18))::BIGINT AS n_pixels,
       3::INT AS n_components,
       TRUE AS within_tol
FROM documents
""",
    description=(
        "LOSSY image leg, codec-REAL end to end (VERDICT r5 task #4): "
        "genuine baseline JFIF payloads (operators/jpeg.py -- "
        "quality-scaled quant tables, canonical Huffman entropy coding, "
        "byte stuffing) -> full stdlib Huffman+IDCT decode -> decoded "
        "pixels gated against the regenerated source gradient within "
        "the quantization tolerance. Lossy coding means the oracle "
        "cannot recompute decoded values arithmetically; it verifies "
        "the MEASURED dimensions (SOF + raster assembly) and the "
        "tolerance certificate, which a decoder that misreads real "
        "JPEG bytes (entropy stream, zigzag, component order, raster "
        "assembly) fails by an order of magnitude. Exact-value anchors "
        "(constant blocks round-trip bit-exactly through the DCT) live "
        "in tests/test_operators_misc.py"
    ),
)
def z99(spark, sf_dir):
    docs = multimodal.attach_jpeg_binary(load(spark, "documents", sf_dir))
    return multimodal.decode_jpeg_pixel_stats(docs).select(
        "doc_id", "width", "height", "n_pixels", "n_components", "within_tol"
    )


@query(
    "z100_exact_substring_dedup",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
  FROM documents),
g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+5], ' ') AS gram
  FROM tok, UNNEST(generate_series(1, greatest(len(w) - 5, 0))) AS s(i)),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT g.doc_id, g.pos + d.i AS idx
  FROM g JOIN dup USING (gram), UNNEST(generate_series(0, 5)) AS d(i)),
tp AS (
  SELECT doc_id, i - 1 AS idx, w[i] AS tokn
  FROM tok, UNNEST(generate_series(1, len(w))) AS s(i)),
kept AS (
  SELECT tp.doc_id, tp.idx, tp.tokn
  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.idx = cov.idx
  WHERE cov.doc_id IS NULL),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tokn, ' ' ORDER BY idx) AS cleaned
  FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       len(t.w)::BIGINT AS n_tokens,
       (len(t.w) - coalesce(a.n_kept, 0))::BIGINT AS n_dup_tokens,
       coalesce(a.cleaned, '') AS cleaned_text
FROM tok t LEFT JOIN agg a USING (doc_id)
""",
    description=(
        "exact-substring dedup with SPAN REMOVAL (Lee et al. 2107.06499, "
        "the operator z16's duplicated-n-gram rate only measures): every "
        "token covered by a corpus-duplicated 6-token gram is removed "
        "and survivors re-joined in order. Covered-token rule is pure "
        "set algebra (a duplicated gram STARTS within k-1 positions), "
        "so no interval merging; gram explode linear, one groupBy(gram) "
        "shuffle, anti-join removal -- the shuffle-native equivalent of "
        "the paper's single-machine suffix-array pass at token-gram "
        "granularity"
    ),
)
def z100(spark, sf_dir):
    return dedup.exact_substring_dedup(load(spark, "documents", sf_dir), k=6)


@query(
    "z104_progressive_jpeg_fixture",
    oracle="""
SELECT doc_id,
       16::INT AS width,
       8::INT AS height,
       1::INT AS n_components,
       128::BIGINT AS n_pixels,
       168::INT AS min_px,
       200::INT AS max_px,
       23552::BIGINT AS sum_px
FROM documents
""",
    description=(
        "progressive-JPEG conformance leg (VERDICT r7 task #2): decode "
        "the HAND-ASSEMBLED ITU T.81 Annex G SOF2 stream "
        "(jpeg.ANNEX_G_FIXTURE -- built byte-by-byte from the spec, NOT "
        "by this repo's encoder) through the real Arrow-batched "
        "mapInPandas plumbing, once per document row. The fixture is "
        "DC-only over an all-ones quant table, so every reported pixel "
        "statistic is an exact hand-derived integer (left block 200, "
        "right block 168; spectral selection, successive-approximation "
        "DC refinement and EOB runs all exercised) and the oracle pins "
        "the decode BIT-EXACTLY with zero tolerance -- the "
        "not-self-encoded interop anchor the encoder<->decoder "
        "round-trip property cannot provide"
    ),
)
def z104(spark, sf_dir):
    return multimodal.decode_progressive_fixture_stats(
        load(spark, "documents", sf_dir)
    )


@query(
    "z105_lossless_jpeg_roundtrip",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         (6 + doc_id % 13)::INT AS w,
         (5 + doc_id % 11)::INT AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h,
         ((doc_id * 7 + 3 * (x - 1) + 5 * (y - 1)) % 256)::BIGINT AS v
  FROM dims,
       UNNEST(generate_series(1, w)) AS sx(x),
       UNNEST(generate_series(1, h)) AS sy(y))
SELECT doc_id,
       any_value(w)::INT AS width,
       any_value(h)::INT AS height,
       (any_value(w) * any_value(h))::BIGINT AS n_pixels,
       sum(v)::BIGINT AS sum_px,
       min(v)::INT AS min_px,
       max(v)::INT AS max_px,
       TRUE AS exact_roundtrip
FROM px GROUP BY doc_id
""",
    description=(
        "LOSSLESS image leg (SOF3, ITU T.81 Annex H), codec-real end to "
        "end: per doc a deterministic gradient is DPCM-encoded "
        "(predictor cycling 1..7 by doc_id -- every Annex H predictor "
        "exercised across the corpus), Huffman-coded, decoded back, and "
        "compared bit-for-bit inside Arrow-batched mapInPandas. The "
        "oracle recomputes the gradient's exact pixel statistics "
        "arithmetically in SQL, so ANY encode or decode defect breaks "
        "bit-exactness -- a zero-tolerance gate the lossy legs (z99 "
        "tolerance certificate) structurally cannot provide"
    ),
)
def z105(spark, sf_dir):
    return multimodal.lossless_jpeg_roundtrip_stats(
        load(spark, "documents", sf_dir)
    )


def _line_dedup_aug_sql() -> str:
    """doc-id-keyed boilerplate augmentation: sf documents are
    single-line, so the gated corpus gets one of three shared footer
    lines (corpus-wide duplicates -> dropped) plus one per-doc ref line
    (unique -> kept). Twin of the Spark aug in z118."""
    return """
aug AS (
  SELECT doc_id,
         text || chr(10) ||
         CASE (doc_id % 3) WHEN 0 THEN 'subscribe to our newsletter'
                           WHEN 1 THEN 'all rights reserved'
                           ELSE 'click here to continue' END ||
         chr(10) || 'ref ' || doc_id::VARCHAR AS t
  FROM documents)
"""


@query(
    "z118_line_dedup",
    oracle="WITH "
    + _line_dedup_aug_sql()
    + dedup.line_dedup_oracle_sql(
        table="aug", text_col="t", min_dup_docs=2
    ).replace("WITH t AS", ", t AS", 1),
    description=(
        "CCNet-style line-level boilerplate removal (Wenzek et al. LREC "
        "2020): lines occurring in >= 2 distinct docs are dropped "
        "corpus-wide, survivors rejoined in order. Line frequency "
        "aggregates on md5(line) (fixed-width shuffle key, map-side "
        "combine); only the DROP SET joins back via LEFT ANTI -- the "
        "boilerplate vocabulary is orders of magnitude smaller than "
        "the corpus, so AQE broadcasts it at scale. Gated corpus "
        "plants 3 shared footer lines + 1 unique ref line per doc"
    ),
)
def z118(spark, sf_dir):
    docs = load(spark, "documents", sf_dir)
    footers = F.array(
        F.lit("subscribe to our newsletter"),
        F.lit("all rights reserved"),
        F.lit("click here to continue"),
    )
    aug = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.element_at(footers, (F.col("doc_id") % 3 + 1).cast("int")),
            F.concat(F.lit("ref "), F.col("doc_id").cast("string")),
        ).alias("t"),
    )
    return dedup.line_dedup(aug, text_col="t", min_dup_docs=2)


def _pq_books_oracle_sql(m: int = 4, n_codewords: int = 8,
                         dim: int = 64) -> str:
    """Shared CTE block recomputing the z120-z122 PQ lifecycle in SQL:
    the same hash-sampled init codebooks `pq_codebooks(n_iter=0)` picks
    (n_codewords smallest-md5-hash48 rows, sliced per subspace), the
    same argmin-squared-L2 encode (ties -> lowest code; the distance is
    dot(diff, diff), term-for-term the Spark `_sq_l2` fold), and the
    codeword-gather reconstruction. Emits CTEs `e` (vec_id, double v)
    and `recon` (vec_id, reconstruction r)."""
    dsub = dim // m
    return f"""
e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
init AS (
  SELECT row_number() OVER (
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT,
                    vec_id) - 1 AS code,
         v
  FROM e
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT, vec_id
  LIMIT {n_codewords}),
books AS (
  SELECT j, code, v[j * {dsub} + 1 : (j + 1) * {dsub}] AS cw
  FROM init CROSS JOIN (SELECT unnest(range({m})) AS j)),
dists AS (
  SELECT vec_id, j, code, list_dot_product(dd, dd) AS d
  FROM (SELECT e.vec_id, b.j, b.code,
               list_transform(range(1, {dsub} + 1),
                              i -> e.v[b.j * {dsub} + i] - b.cw[i]) AS dd
        FROM e CROSS JOIN books b)),
enc AS (
  SELECT vec_id, j, code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d, code) AS rn
        FROM dists)
  WHERE rn = 1),
recon AS (
  SELECT enc.vec_id, flatten(list(b.cw ORDER BY enc.j)) AS r
  FROM enc JOIN books b ON b.j = enc.j AND b.code = enc.code
  GROUP BY enc.vec_id)
"""


@query(
    "z120_pq_topk",
    # Upgraded from rows-only in round 11 (VERDICT r10 #1): the gated
    # entry freezes the SERVING path -- init codebooks (n_iter=0, the
    # hash-sampled row set every Lloyd run starts from), row-local
    # encode, ADC scoring -- so the oracle recomputes the ENTIRE
    # lifecycle in SQL the way q97 does for IVF. Lloyd training itself
    # (n_iter>=1) stays pinned by
    # tests/test_operators_misc.py::test_pq_topk_recall_vs_exact and
    # test_pq_codebooks_deterministic_and_error_monotone (iterative,
    # rows-only territory like q60).
    oracle="WITH "
    + _pq_books_oracle_sql(m=4, n_codewords=8, dim=64)
    + """,
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, recon.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, recon.r)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(recon.r, recon.r))), 6) AS cos_sim
  FROM recon CROSS JOIN q
  WHERE recon.vec_id != q.query_id),
rk AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id))::INT
                   AS rank
       FROM scored)
SELECT query_id, neighbor_id, rank FROM rk WHERE rank <= 5
""",
    description=(
        "product-quantization ANN serving (Jegou et al. TPAMI 2011): "
        "hash-sampled init codebooks, row-local argmin-L2 encode, "
        "asymmetric scoring -- raw queries by cosine against PQ "
        "reconstructions (the ADC regime) through the broadcast-guarded "
        "two-phase top-k; FULL SQL oracle recomputes codebooks, codes, "
        "reconstructions, and top-k. The m-byte at-rest code is the "
        "layout that fits a 100 TB float32 embedding store into "
        "serving RAM; Lloyd refinement is tests-pinned (iterative)"
    ),
)
def z120(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    # rank carries the ordering; the rounded cos_sim double stays out of
    # the gated output (EXACT_ROUND_FROZEN is frozen by design)
    return similarity.pq_topk(
        emb, q, k=5, m=4, n_codewords=8, n_iter=0
    ).select("query_id", "neighbor_id", "rank")


def _ivfpq_serve_oracle_sql(n_centroids: int = 8, n_probe: int = 3,
                            k: int = 5, query_mod: int = 50) -> str:
    """Full-lifecycle SQL oracle for the IVF-PQ serving composition
    (z121 in-memory, z122 at-rest -- identical values by design): the
    q97 centroid/cell/probe block (hash-sampled coarse centroids,
    (cosine, cell)-max assignment with the array_sort highest-cell
    tiebreak, crn <= n_probe probe set) composed with the shared PQ
    block's reconstructions (`_pq_books_oracle_sql`); ADC scoring of
    raw queries against reconstructions of probed-cell candidates."""
    return (
        "WITH "
        + _pq_books_oracle_sql(m=4, n_codewords=8, dim=64)
        + f""",
cent AS (
  SELECT row_number() OVER (
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT,
                    vec_id) - 1 AS cell,
         v AS cv
  FROM e
  ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 1, 12))::BIGINT, vec_id
  LIMIT {n_centroids}),
cell_scores AS (
  SELECT e.vec_id, e.v, cent.cell,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(cent.cv, cent.cv))) AS s
  FROM e CROSS JOIN cent),
ranked_cells AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell DESC)
           AS crn
  FROM cell_scores),
corpus_cell AS (
  SELECT rc.vec_id, recon.r, rc.cell
  FROM ranked_cells rc JOIN recon ON recon.vec_id = rc.vec_id
  WHERE rc.crn = 1),
query_cell AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM ranked_cells
  WHERE crn <= {n_probe} AND vec_id % {query_mod} = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, c.r)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.r, c.r))), 6) AS cos_sim
  FROM corpus_cell c JOIN query_cell q USING (cell)
  WHERE c.vec_id != q.query_id),
rk AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id))::INT
                   AS rank
       FROM scored)
SELECT query_id, neighbor_id, rank FROM rk WHERE rank <= {k}
"""
    )


@query(
    "z121_ivfpq_topk",
    # Upgraded from rows-only in round 11 (VERDICT r10 #1): gated on the
    # SERVING composition with init codebooks/centroids (n_iter=0) so
    # the oracle recomputes coarse cells, probe sets, PQ codes,
    # reconstructions, and the final top-k -- the q97 lifecycle plus the
    # z120 PQ block. Iterative training stays tests-pinned
    # (test_ivf_pq_topk_recall_vs_exact).
    oracle=_ivfpq_serve_oracle_sql(n_centroids=8, n_probe=3, k=5),
    description=(
        "IVF-PQ serving composition (FAISS IVFPQ layout): coarse cells "
        "assigned from the raw vector, PQ reconstruction decoded from "
        "codes, both fused as expressions into ONE corpus scan; per "
        "query only the n_probe nearest cells are scanned, scoring raw "
        "queries against reconstructions (ADC). Cuts compute "
        "(n_probe/n_centroids of the corpus) AND memory (m bytes/vector) "
        "-- the shape that serves a 100 TB embedding store from RAM"
    ),
)
def z121(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ivf_pq_topk(
        emb, q, n_centroids=8, n_probe=3, k=5, m=4, n_codewords=8,
        n_iter=0,
    ).select("query_id", "neighbor_id", "rank")


@query(
    "z122_ivfpq_indexed",
    # Upgraded from rows-only in round 11 (VERDICT r10 #1): same
    # full-lifecycle oracle as z121 -- the disk roundtrip (tinyint
    # codes, directory-pruned probe) must be VALUE-transparent, not
    # merely row-shaped (the q97 discipline). Directory pruning and the
    # at-rest compression ratio stay plan/size-asserted in
    # tests/test_operators_misc.py::
    # test_ivfpq_indexed_matches_inmemory_prunes_and_compresses.
    oracle=_ivfpq_serve_oracle_sql(n_centroids=8, n_probe=3, k=5),
    description=(
        "at-rest IVF-PQ index: cell-partitioned parquet holding ONLY "
        "(id, tinyint pq_codes) -- ~m bytes/vector on disk instead of "
        "4*D -- probed with directory-level partition pruning and a "
        "scan-fused codebook-gather reconstruction. Build (fresh each "
        "run, priced as the one-time cost) + probe"
    ),
)
def z122(spark, sf_dir):
    import hashlib

    emb = load(spark, "embeddings", sf_dir)
    h = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    path = f"spark-warehouse/ivfpq_index_{h}"
    similarity.write_ivfpq_index(
        emb, path, n_centroids=8, m=4, n_codewords=8, n_iter=0
    )
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ivfpq_topk_indexed(
        spark, path, q, n_probe=3, k=5
    ).select("query_id", "neighbor_id", "rank")


@query(
    "z130_ivfpq_index_probe",
    # probe-only twin of z122 (VERDICT r10 #4, the z115 split): same
    # full-lifecycle oracle -- a cached index must stay
    # value-transparent, not just fast
    oracle=_ivfpq_serve_oracle_sql(n_centroids=8, n_probe=3, k=5),
    description=(
        "RECURRING cost of IVF-PQ serving: the same directory-pruned "
        "ADC probe as z122 against a fingerprint-cached at-rest index "
        "(built once per corpus version; z122 prices the build). The "
        "steady-state number is what a 100 TB serving tier pays per "
        "query batch: n_probe/n_centroids of an m/4D-compressed store, "
        "never the corpus"
    ),
)
def z130(spark, sf_dir):
    def build(path: str) -> None:
        similarity.write_ivfpq_index(
            load(spark, "embeddings", sf_dir), path,
            n_centroids=8, m=4, n_codewords=8, n_iter=0,
        )

    path = cached_index(sf_dir, "ivfpq_probe_index", "embeddings", build)
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.ivfpq_topk_indexed(
        spark, path, q, n_probe=3, k=5
    ).select("query_id", "neighbor_id", "rank")


from ..operators.dedup import winnow_pairs_oracle_sql as _winnow_sql  # noqa: E402


@query(
    "z142_winnow_pairs",
    oracle=_winnow_sql(k=3, window=4, max_df=20, min_shared=3),
    description=(
        "winnowing-fingerprint near-dup pairs (Schleimer et al. "
        "SIGMOD'03, the MOSS algorithm): k-gram md5-prefix hashes, "
        "window-of-4 minima as fingerprints (guaranteed hit for any "
        "shared run of k+window-1 tokens, expected density 2/(w+1)), "
        "hot fingerprints df-capped before the join (MOSS's ignore-too-"
        "common rule -- the quadratic-bucket bound), pairs sharing >= 3 "
        "distinct fingerprints. The positional complement to MinHash: "
        "locality-preserving, span-recoverable. All hashing and minima "
        "are exact integers; the oracle replays every stage bit-for-bit"
    ),
)
def z142(spark, sf_dir):
    from ..operators.dedup import winnow_pairs

    return winnow_pairs(
        load(spark, "documents", sf_dir), k=3, window=4, max_df=20,
        min_shared=3,
    )


from ..operators.similarity import (  # noqa: E402
    power_iteration_oracle_sql as _pcpow_sql,
)


@query(
    "z148_power_iteration_pc",
    oracle=_pcpow_sql(dim=8, n_iter=3),
    description=(
        "top principal component of the leading 8-dim embedding block "
        "by 3 power-iteration steps, exact end to end: integer-micros "
        "elements, mean-cleared second-moment matrix A = n*C - s s^T "
        "(n^2 x covariance -- no rational mean) in DECIMAL(38,0), "
        "max-abs normalization (L2 needs sqrt; power iteration "
        "converges under any norm) with sign-aware HALF_UP micros. ONE "
        "corpus aggregate (O(dim^2) map-side-combined sums, shuffle "
        "payload corpus-size-free); the iteration is exact unbounded-"
        "int driver math over that single collected row (r15: the "
        "former per-iteration plan+codegen+checkpoint chain was pure "
        "fixed overhead). Unrolled HUGEINT oracle replays every step "
        "bit-for-bit"
    ),
)
def z148(spark, sf_dir):
    from ..operators.similarity import power_iteration_top_pc

    return power_iteration_top_pc(
        load(spark, "embeddings", sf_dir), dim=8, n_iter=3
    )


def _z_winnow_index_cached(spark, sf_dir: str) -> str:
    """src0 built, src1 appended, cached like the minhash index."""
    from ..operators.dedup import append_winnow_index, write_winnow_index

    def build(path):
        docs = load(spark, "documents", sf_dir)
        write_winnow_index(docs.filter(F.col("source") == "src0"), path)
        append_winnow_index(docs.filter(F.col("source") == "src1"), path)

    return cached_index(sf_dir, "winnow_index", "documents", build)


from ..operators.dedup import winnow_novel_oracle_sql as _winnow_novel_sql  # noqa: E402


@query(
    "z151_winnow_index_build",
    oracle="SELECT doc_id, source FROM documents "
           "WHERE source IN ('src0', 'src1')",
    description=(
        "at-rest winnowing-fingerprint index BUILD cost (one-time): "
        "build over src0, O(|batch|) append src1 -- fingerprint "
        "postings bucket-partitioned by hash (every posting of a hash "
        "in ONE bucket, so pruned reads still see exact global document "
        "frequencies), stats sidecar through the committer seam, shared "
        "maintenance-lock append with commuting-delta CAS. Returns the "
        "indexed doc set read BACK from the postings (joined for "
        "lineage): the oracle checks the round trip -- exactly the "
        "src0+src1 docs indexed, none lost, none duplicated"
    ),
)
def z151(spark, sf_dir):
    shutil.rmtree(_cache_path(sf_dir, "winnow_index"), ignore_errors=True)
    path = _z_winnow_index_cached(spark, sf_dir)
    docs = load(spark, "documents", sf_dir)
    indexed = (
        spark.read.parquet(f"{path}/fps").select("doc_id").distinct()
    )
    return docs.join(indexed, "doc_id").select("doc_id", "source")


@query(
    "z152_winnow_index_probe",
    oracle=_winnow_novel_sql(
        corpus_sql="source IN ('src0', 'src1')",
        batch_sql="source = 'src2'",
        min_shared=2,
    ),
    description=(
        "at-rest winnowing index PROBE cost (recurring, the steady-"
        "state per-batch price): screen ONE incoming batch (src2) "
        "against the cached src0+src1 fingerprint index -- the read "
        "partition-pruned to the probed buckets (<= n_buckets driver "
        "ints -> static partition filter), index-side boilerplate cap "
        "(df <= 20, MOSS's rule) computed exactly off the pruned read "
        "because bucket is a function of the hash, dup = shares >= 2 "
        "distinct fingerprints with some indexed doc. Value-identical "
        "to the full recompute (shared oracle) -- the at-rest layout, "
        "the append and the cache are value-transparent. The locality-"
        "preserving complement to z115's MinHash probe"
    ),
)
def z152(spark, sf_dir):
    from ..operators.dedup import winnow_novel_indexed

    path = _z_winnow_index_cached(spark, sf_dir)
    docs = load(spark, "documents", sf_dir)
    return winnow_novel_indexed(
        spark,
        docs.filter(F.col("source") == "src2"),
        path,
        min_shared=2,
        max_df=20,
    ).select("doc_id", "source")


def _signlsh_cross_oracle(
    threshold: float, bands: int, bits_per_band: int, dim: int,
    eval_pred: str, train_pred: str, seed: int = 0,
) -> str:
    """Cross-set twin of ``_signlsh_neardup_oracle``: candidates join
    TRAIN bands against EVAL bands only (never within a side), verify is
    the same exact rounded cosine, output = surviving train rows."""
    planes = similarity.rademacher_planes(bands * bits_per_band, dim, seed)

    def dot(p):
        return (
            "list_dot_product(vm, ["
            + ",".join(str(int(x)) for x in p)
            + "])"
        )

    keys = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN {dot(planes[b * bits_per_band + j])} >= 0"
            f" THEN {2 ** j} ELSE 0 END)"
            for j in range(bits_per_band)
        )
        keys.append(f"({bits}) AS k{b}")
    band_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, side, {b} AS band, k{b} AS key FROM sig"
        for b in range(bands)
    )
    cos = (
        "round(list_dot_product(ta.v, eb.v)"
        " / (sqrt(list_dot_product(ta.v, ta.v))"
        " * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    return f"""
WITH e AS (SELECT vec_id, label,
                  CASE WHEN {eval_pred} THEN 'e' ELSE 't' END AS side,
                  [x::DOUBLE for x in embedding] AS v,
                  [round(x::DOUBLE * 1000000)::BIGINT for x in embedding] AS vm
           FROM embeddings
           WHERE ({eval_pred}) OR ({train_pred})),
sig AS (SELECT vec_id, side, {", ".join(keys)} FROM e),
bands AS ({band_union}),
cand AS (SELECT DISTINCT t.vec_id AS train_id, ev.vec_id AS eval_id
         FROM bands t JOIN bands ev
           ON t.band = ev.band AND t.key = ev.key
         WHERE t.side = 't' AND ev.side = 'e'),
dirty AS (
  SELECT DISTINCT train_id
  FROM cand JOIN e ta ON ta.vec_id = cand.train_id
            JOIN e eb ON eb.vec_id = cand.eval_id
  WHERE {cos} >= {threshold})
SELECT vec_id, label FROM embeddings
WHERE ({train_pred}) AND vec_id NOT IN (SELECT train_id FROM dirty)
"""


@query(
    "z162_semantic_decontaminate",
    oracle=_signlsh_cross_oracle(
        threshold=0.4, bands=12, bits_per_band=6, dim=64,
        eval_pred="label = 0", train_pred="label != 0",
    ),
    description=(
        "SEMANTIC decontamination: drop training vectors whose "
        "embedding sits within cosine 0.40 of any held-out eval (label "
        "0) vector -- the paraphrase-leakage complement of the lexical "
        "8-gram screen (q48/z15): reworded eval items share no n-grams "
        "but land next to the eval point in embedding space. Cross-set "
        "banded sign-LSH (same deterministic Rademacher planes as z19, "
        "integer-micros sign bits, NO within-side pairs ever formed) + "
        "exact left-to-right-fold cosine verify of candidates only; "
        "eval band table broadcast (eval sets are small by nature). "
        "Oracle replicates banding and verify bit-for-bit"
    ),
)
def z162(spark, sf_dir):
    from ..operators.similarity import semantic_decontaminate

    emb = load(spark, "embeddings", sf_dir)
    return semantic_decontaminate(
        emb.filter(F.col("label") != 0),
        emb.filter(F.col("label") == 0),
        threshold=0.4,
    ).select("vec_id", "label")


# ---------------------------------------------------------------------
# z172: perceptual image dedup (dHash) -- the multimodal near-duplicate
# key. Payloads are genuine textured BMPs generated once per img seed
# (doc_id % 40) and broadcast-joined to docs, so docs sharing a seed
# carry byte-identical images; the oracle recomputes every sampled luma
# arithmetically from the generation formula (z83 precedent), so a
# decoder or sampler that misreads real bytes fails the gate.
# ---------------------------------------------------------------------


def _z172_luma_sql(x: str, y: str, s: str) -> str:
    return (
        f"(((({x})*({x})*31 + ({y})*({y})*17 + ({s})*97) % 256)"
        f" + ((({x})*({x})*13 + ({y})*({y})*29 + ({s})*106) % 256)"
        f" + ((({x})*({x})*7 + ({y})*({y})*41 + ({s})*33) % 256)) // 3"
    )


_Z172_ORACLE = f"""
WITH d AS (SELECT doc_id, doc_id % 40 AS s FROM documents),
p AS (SELECT doc_id, s, 4 + s % 13 AS w, 3 + (60 + s) % 11 AS h FROM d),
hsh AS MATERIALIZED (
  SELECT doc_id,
         list_sum(flatten([[
            ({_z172_luma_sql('(i*w)//8', '(j*h)//8', 's')}
             > {_z172_luma_sql('((i+1)*w)//8', '(j*h)//8', 's')}
            )::INT::BIGINT * (1::BIGINT << (j*7 + i))
            for i in generate_series(0, 6)]
           for j in generate_series(0, 7)]))::BIGINT AS dhash
  FROM p),
g AS (SELECT dhash, min(doc_id) AS dup_group, count(*)::BIGINT AS n_dups
      FROM hsh GROUP BY dhash)
SELECT hsh.doc_id, hsh.dhash, g.dup_group, g.n_dups
FROM hsh JOIN g USING (dhash)
"""


@query(
    "z172_image_dhash_dedup",
    oracle=_Z172_ORACLE,
    description=(
        "perceptual image dedup by dHash from REAL decoded pixels: "
        "genuine textured 24-bit BMPs (one per seed, broadcast to "
        "docs), full raster decode, 8x8 nearest-neighbor luma sample, "
        "56-bit neighbor-gradient hash (brightness-shift invariant; 56 "
        "not 64 bits so the key stays signed-BIGINT-safe in both "
        "engines), then a plain hash groupBy into duplicate groups -- "
        "the multimodal dedup key a training pipeline runs beside text "
        "MinHash. Oracle recomputes every sampled luma arithmetically "
        "from the generation formula, so a decoder that misreads real "
        "BMP bytes (padding, bottom-up rows, BGR) fails the gate. One "
        "mapInPandas pass + one hash aggregate"
    ),
)
def z172(spark, sf_dir):
    from ..operators import multimodal

    docs = load(spark, "documents", sf_dir)
    seeds = (
        docs.select((F.col("doc_id") % 40).alias("img_id"))
        .distinct()
        .withColumn("img_len", (F.lit(60) + F.col("img_id")).cast("int"))
    )
    imgs = multimodal.attach_bmp_binary(
        seeds, id_col="img_id", len_col="img_len", pattern="texture"
    )
    d = docs.select(
        "doc_id", (F.col("doc_id") % 40).alias("img_id")
    ).join(F.broadcast(imgs.select("img_id", "payload")), "img_id")
    h = multimodal.image_dhash(d, id_col="doc_id")
    g = h.groupBy("dhash").agg(
        F.min("doc_id").alias("dup_group"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )
    return h.join(g, "dhash").select("doc_id", "dhash", "dup_group", "n_dups")


@query(
    "z177_cluster_keep_longest",
    oracle=f"""
WITH RECURSIVE d AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE {_jacc_pred_sql("a.sh", "b.sh", 0.8)}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(node, lbl) AS (
  SELECT src, src FROM sym
  UNION
  SELECT r.node, s.dst FROM reach r JOIN sym s ON r.lbl = s.src),
cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       FROM reach GROUP BY node),
m AS (
  SELECT doc_id, n_chars, coalesce(cl.cluster_id, doc_id) AS cluster_id
  FROM documents LEFT JOIN cl USING (doc_id)),
r AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM m)
SELECT cluster_id,
       doc_id AS keep_doc,
       n_chars::BIGINT AS kept_chars,
       (SELECT count(*) FROM m m2
        WHERE m2.cluster_id = r.cluster_id)::BIGINT AS n_members
FROM r WHERE rn = 1
""",
    description=(
        "canonical selection per near-dup cluster by KEEP-LONGEST (the "
        "standard curation rule when duplicates differ by truncation: "
        "min-id keeps whichever copy crawled first, keep-longest keeps "
        "the most complete one): q45's connected-component clusters + "
        "singleton fallback, then one row_number per cluster ordered "
        "(n_chars DESC, doc_id) -- clusters are near-dup-sized, so the "
        "window partitions stay tiny by construction. Output one "
        "survivor row per cluster with its member count; exact "
        "integers, deterministic tie-break"
    ),
)
def z177(spark, sf_dir):
    docs = load(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.8, unpersist_after=False
    )
    cl = dedup.duplicate_clusters(pairs)
    m = (
        docs.select("doc_id", "n_chars")
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    # r15: n_members rides the SAME cluster_id partitioning as the
    # keep-ranking window -- one shuffle total, no group-and-join-back
    # (and m is not consumed twice anymore)
    return (
        m.select(
            "*",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1))
            .over(W.partitionBy("cluster_id"))
            .cast("long")
            .alias("n_members"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc"),
            F.col("n_chars").cast("long").alias("kept_chars"),
            "n_members",
        )
    )


from ..operators.dedup import (  # noqa: E402
    temporal_novelty_oracle_sql as _tnov_sql,
)

# deterministic ingestion-day + leading-shingle fingerprint injection
# (the corpus has no date column and almost no EXACT dups -- q88/z141
# precedent; the 5-token leading shingle collides at ~5% at every SF,
# probed non-degenerate per the NOTES rule)
_Z181_ROWS_SQL = """
SELECT doc_id, doc_id % 30 AS day,
       md5(array_to_string(
         string_split_regex(trim(lower(text)), '\\s+')[1:5], ' ')) AS fp
FROM documents
"""


@query(
    "z181_temporal_novelty",
    oracle=_tnov_sql(_Z181_ROWS_SQL),
    description=(
        "per-day corpus novelty rate: docs whose content fingerprint "
        "(leading 5-token shingle, md5) first occurs that day vs "
        "re-crawls of seen content -- the time axis of dedup "
        "observability (scrape loops jump the dup rate, fresh sources "
        "show near-pure novelty); batch twin of the streaming novelty "
        "sinks. First occurrence = minimal (day, id) per fingerprint "
        "encoded into ONE BIGINT min (no window); one fp-keyed min agg "
        "+ one day-keyed count + a day-sized join; dup rate exact "
        "HALF_UP micros"
    ),
)
def z181(spark, sf_dir):
    from ..functions.xhash import ws_tokens
    from ..operators.dedup import temporal_novelty

    docs = load(spark, "documents", sf_dir)
    fp = F.md5(
        F.array_join(F.slice(ws_tokens(F.col("text")), 1, 5), " ")
    )
    return temporal_novelty(docs, F.col("doc_id") % 30, fp)


from ..operators.similarity import (  # noqa: E402
    retrieval_ndcg_mrr_oracle_sql as _ndcg_sql,
)

# the q38 exact-top-10 run joined to graded label relevance: same label
# = 2, same label mod 5 (the coarse class family) = 1, else 0 -- three
# relevance grades so DCG ordering genuinely matters
_Z185_RUN_SQL = f"""
WITH e AS (SELECT vec_id, label, [x::DOUBLE for x in embedding] AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e
      WHERE vec_id % 100 = 0),
scored AS (
  SELECT query_id, ql, e.vec_id AS nid, e.label AS nl, {_COS_SQL} AS cos_sim
  FROM q CROSS JOIN e WHERE e.vec_id != query_id),
r AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, nid))::INT AS rank
      FROM scored)
SELECT query_id, rank,
       CASE WHEN ql = nl THEN 2 WHEN ql % 5 = nl % 5 THEN 1 ELSE 0 END AS rel
FROM r WHERE rank <= 10
"""


@query(
    "z185_retrieval_ndcg_mrr",
    oracle=_ndcg_sql(_Z185_RUN_SQL, k=10),
    description=(
        "per-query nDCG@10 + MRR of the exact cosine run (q38) under "
        "graded label relevance (same label = 2, same label family = "
        "1) -- the ranking-eval table every retrieval/reranker "
        "experiment reads, beside z75's recall@k. Gains are exact "
        "integers packed rank-ordered into ONE BIGINT sort key; DCG/"
        "IDCG are fixed-order dot folds against a driver-computed "
        "literal discount vector (the q38 fold, bit-stable); nDCG is "
        "ONE IEEE division; MRR is an exact HALF_UP micros ratio; "
        "no-relevant queries yield NULL, never fake zeros. One "
        "query-keyed aggregate then pure in-row array math"
    ),
)
def z185(spark, sf_dir):
    from ..operators.similarity import retrieval_ndcg_mrr

    emb = load(spark, "embeddings", sf_dir)
    labs = emb.select("vec_id", "label")
    run = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0), k=10
    )
    j = (
        run.join(
            labs.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("_ql")
            ),
            "query_id",
        )
        .join(
            labs.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("_nl"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            F.when(F.col("_ql") == F.col("_nl"), F.lit(2))
            .when(F.col("_ql") % 5 == F.col("_nl") % 5, F.lit(1))
            .otherwise(F.lit(0))
            .alias("rel"),
        )
    )
    return retrieval_ndcg_mrr(j, k=10)


from ..operators.constraints import (  # noqa: E402
    clustering_pair_eval_oracle_sql as _paireval_sql,
)


@query(
    "z187_dedup_cluster_pair_eval",
    oracle=_paireval_sql(
        "SELECT md5(array_to_string("
        "string_split_regex(trim(lower(text)), '\\s+')[1:5], ' ')) "
        "AS cluster, source AS truth FROM documents"
    ),
    description=(
        "pair-counting clustering eval (precision/recall/F1 over item "
        "pairs, Rand, ADJUSTED Rand) of the z181 leading-shingle dedup "
        "clusters against source labels -- do near-dup clusters stay "
        "intra-source (template reuse) or cross sources (syndication)? "
        "Completes the exact-micros metric family (z184 classification, "
        "z185 ranking). All pair counts from the CONTINGENCY table "
        "(C(n,2) algebra, DECIMAL(38,0)) -- pairs are never enumerated; "
        "ARI is sign-aware (worse-than-chance must show negative). ONE "
        "(cluster, truth) aggregate + three bounded re-aggregations"
    ),
)
def z187(spark, sf_dir):
    from ..functions.xhash import ws_tokens
    from ..operators.constraints import clustering_pair_eval

    docs = load(spark, "documents", sf_dir)
    d = docs.select(
        F.md5(
            F.array_join(F.slice(ws_tokens(F.col("text")), 1, 5), " ")
        ).alias("cluster"),
        F.col("source").alias("truth"),
    )
    return clustering_pair_eval(d, "cluster", "truth")


from ..operators.dedup import (  # noqa: E402
    dedup_savings_oracle_sql as _dsav_sql,
)


@query(
    "z190_dedup_savings_report",
    oracle=_dsav_sql(
        "SELECT md5(array_to_string("
        "string_split_regex(trim(lower(text)), '\\s+')[1:5], ' ')) "
        "AS fp, n_chars FROM documents"
    ),
    description=(
        "dedup capacity planning: cluster-size histogram of the z181 "
        "leading-shingle fingerprint with the EXACT savings of a "
        "keep-longest pass (redundant docs + redundant chars per "
        "cluster size; singletons reconcile the doc total) -- the "
        "table a curation team reads BEFORE running the dedup. One "
        "fingerprint aggregate over rows + one histogram aggregate "
        "over the cluster table (bounded by max cluster size); exact "
        "integers only"
    ),
)
def z190(spark, sf_dir):
    from ..functions.xhash import ws_tokens
    from ..operators.dedup import dedup_savings_report

    docs = load(spark, "documents", sf_dir)
    fp = F.md5(
        F.array_join(F.slice(ws_tokens(F.col("text")), 1, 5), " ")
    )
    return dedup_savings_report(docs, fp)


from ..operators.similarity import (  # noqa: E402
    rank_agreement_rbo_oracle_sql as _rbo_sql,
)

# the two runs RBO compares: q38's exact cosine top-10 and z53's
# int8-quantized top-10 -- the production question "how much does
# quantization actually move the RANKING, weighted toward the top?"
_Z191_RUN_A_SQL = """
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM q CROSS JOIN e WHERE e.vec_id != query_id),
r AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id))::INT AS rank
      FROM scored)
SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
""".replace("{cos}", _COS_SQL)

_Z191_RUN_B_SQL = """
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS ev FROM embeddings),
dims AS (SELECT i FROM generate_series(1, 64) t(i)),
stats AS (
  SELECT i, min(ev[i]) AS mn, max(ev[i]) AS mx
  FROM e CROSS JOIN dims GROUP BY i),
params AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM stats),
recon AS (
  SELECT vec_id,
         [CASE WHEN mxs[i] = mns[i] THEN mns[i]
               ELSE mns[i] + round((ev[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]))
                    * (mxs[i] - mns[i]) / 255.0 END
          for i in generate_series(1, 64)] AS v
  FROM e CROSS JOIN params),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id % 100 = 0),
scored AS (
  SELECT query_id, r.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM q CROSS JOIN recon r WHERE r.vec_id != query_id),
rk AS (SELECT *, (row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id))::INT AS rank
       FROM scored)
SELECT query_id, neighbor_id, rank FROM rk WHERE rank <= 10
""".replace("{cos}", _COS_SQL)


@query(
    "z191_ranker_agreement_rbo",
    oracle=_rbo_sql(_Z191_RUN_A_SQL, _Z191_RUN_B_SQL, k=10, p=0.9),
    description=(
        "per-query truncated rank-biased overlap (Webber TOIS'10) "
        "between the exact cosine run (q38) and the int8-quantized run "
        "(z53): the top-weighted 'how much did quantization move the "
        "RANKING' score -- rewards agreeing early, defined for "
        "non-conjoint top-k lists, conservative RBO_min (identical "
        "runs = 1-p^k). The geometric depth weights fold into per-item "
        "SUFFIX-sum literals quantized once to integer micros (the "
        "z185 rule), so each common item contributes "
        "SW[max(ra, rb)] and the score is an exact BIGINT sum: ONE "
        "(query, item) equi-join + one sum, no per-depth pass"
    ),
)
def z191(spark, sf_dir):
    from ..functions.staging import staged
    from ..operators.similarity import rank_agreement_rbo

    emb = load(spark, "embeddings", sf_dir)
    queries_side = emb.filter(F.col("vec_id") % 100 == 0)
    # staged (VERDICT r14 #1): each |Q|*k run leg is tiny but its
    # derivation is a full ANN pass; the agreement join would re-run
    # both legs per reference without the cut
    run_a = staged(similarity.cosine_topk(emb, queries_side, k=10), mode="persist")
    run_b = staged(similarity.quantized_topk(emb, queries_side, k=10), mode="persist")
    return rank_agreement_rbo(run_a, run_b, k=10, p=0.9)


from ..operators.similarity import (  # noqa: E402
    rank_agreement_kendall_oracle_sql as _kendall_sql,
)


@query(
    "z192_ranker_kendall_tau",
    oracle=_kendall_sql(_Z191_RUN_A_SQL, _Z191_RUN_B_SQL, k=10),
    description=(
        "per-query Kendall tau-a between the exact cosine run (q38) "
        "and the int8-quantized run (z53), computed on the CONJOINT "
        "top-k items -- the pairwise-ORDER complement of z191's RBO "
        "(same candidates scrambled = high RBO, low tau; reading both "
        "localizes a ranking regression). Concordant/discordant pair "
        "counts are exact integers over a bounded equi-self-join "
        "(<= C(k,2)=45 pairs per query, linear in |Q|, never corpus-"
        "sized); tau ONE sign-aware HALF_UP micros division, NULL "
        "when fewer than 2 conjoint items (no evidence != tau 0)"
    ),
)
def z192(spark, sf_dir):
    from ..functions.staging import staged
    from ..operators.similarity import rank_agreement_kendall

    emb = load(spark, "embeddings", sf_dir)
    queries_side = emb.filter(F.col("vec_id") % 100 == 0)
    # staged: kendall's conjoint self-join references each leg twice
    # (see z191; 14 base scans measured before the cut)
    run_a = staged(similarity.cosine_topk(emb, queries_side, k=10), mode="persist")
    run_b = staged(similarity.quantized_topk(emb, queries_side, k=10), mode="persist")
    return rank_agreement_kendall(run_a, run_b, k=10)


from ..operators.similarity import (  # noqa: E402
    anchor_margin_profile_oracle_sql as _margin_sql,
)

_Z197_CORPUS_SQL = (
    "SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings"
)
_Z197_ANCHORS_SQL = _Z197_CORPUS_SQL + " WHERE vec_id % 200 = 0"


@query(
    "z197_anchor_margin_profile",
    oracle=_margin_sql(_Z197_CORPUS_SQL, _Z197_ANCHORS_SQL, _COS_SQL),
    description=(
        "per-cell IVF routing-margin profile: for every vector, the "
        "gap between best and second-best anchor cosine (anchors = "
        "the deterministic vec_id % 200 subset, the z97 hash-centroid "
        "family) -- the confidence with which cell routing sends it "
        "there. The observability table behind q60's recall number: "
        "a cell of near-zero margins is where single-probe recall "
        "dies and n_probe must rise. Exact WITHOUT float output or "
        "aggregation: q38-proven round(cos,6) fold, margin = ONE "
        "floor((c1-c2)*1e6) of bit-identical doubles -> exact BIGINT "
        "micros (floor of identical doubles is identical; 1e-6 "
        "granularity IS the metric's definition), per-cell stats are "
        "SELECTED order statistics (min / nearest-rank median / max). "
        "Bounded broadcast anchor side, one corpus scan"
    ),
)
def z197(spark, sf_dir):
    from ..operators.similarity import anchor_margin_profile

    emb = load(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") % 200 == 0)
    return anchor_margin_profile(emb, anchors)
