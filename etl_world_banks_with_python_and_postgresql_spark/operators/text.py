"""Text-analysis operators for large-scale training-data pipelines.

All pure JVM-side column expressions (split/transform/aggregate/regexp --
whole-stage codegen; no Python UDFs in the hot path), each with an exact
DuckDB-SQL twin so the driver's oracle gate verifies them hash-for-hash.

Operators: token stats, quality scoring, n-gram-heuristic language ID,
polynomial document fingerprinting. The reference repo has no text surface;
these extend the engine per the north-star brief (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.exactnum import (
    floordiv_nonneg as _floordiv,
    ratio_micros_halfup as _ratio_micros_halfup,
    ratio_scaled_halfup as _ratio_scaled,
)
from ..functions.xhash import POLY_BASE, POLY_MOD, md5_hash32, ws_tokens
from ..sources.bucketed_index import BucketedIndex

# Tiny stopword lexicons for the language-ID heuristic. Deliberately small so
# the oracle SQL stays readable; real pipelines would swap in fastText or CLD3
# via a pandas_udf (same plumbing, different scorer).
LANG_LEXICONS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
}

PUNCT_CLASS = "[.,!?;:]"


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for blank text (both engines emit a single
    empty token for '', so the blank case is special-cased)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(ws_tokens(text))
    )


# BPE-style pre-tokenization (GPT-2 family shape): a leading space glues to
# the following letter/digit/punct run, so "hello world" is 2 tokens, not 4.
# Deliberately lookahead-free: Java regex (Spark) and RE2 (DuckDB oracle)
# must count identical matches, and RE2 has no lookahead.
BPE_PATTERN = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r]+"


def bpe_token_count(text: Column) -> Column:
    """Number of BPE-ish pre-tokens (the standard LLM-corpus sizing unit;
    whitespace runs between tokens are not counted)."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


def with_token_stats(
    df: DataFrame, text_col: str = "text", keep_cols: list[str] | None = None
) -> DataFrame:
    """n_tokens, n_chars_measured, avg token length (4 dp)."""
    t = F.col(text_col)
    toks = ws_tokens(t)
    return df.select(
        "doc_id",
        *(keep_cols or []),
        token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars_measured"),
        # exact-BIGINT HALF_UP at 4 dp, presented via one IEEE division
        # (cross-engine bit-stable; see functions.exactnum)
        (
            _ratio_scaled(
                F.aggregate(toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)),
                F.greatest(F.size(toks), F.lit(1)),
                4,
            )
            / F.lit(10000.0)
        ).alias("avg_token_len"),
    )


def with_bpe_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace vs BPE-ish token counts + chars-per-token (the corpus
    sizing ratio that decides packing/sharding budgets)."""
    t = F.col(text_col)
    bpe = bpe_token_count(t)
    return df.select(
        "doc_id",
        token_count(t).alias("ws_tokens"),
        bpe.cast("int").alias("bpe_tokens"),
        (
            _ratio_scaled(F.length(t), F.greatest(bpe, F.lit(1)), 4)
            / F.lit(10000.0)
        ).alias("chars_per_token"),
    )


def with_quality(
    df: DataFrame, text_col: str = "text", keep_cols: list[str] | None = None
) -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + composite score.

    ``keep_cols`` passes extra columns through, so pipelines that need the
    features NEXT TO other columns (source, text for a later split) get
    them in the same row-local pass instead of re-joining on doc_id --
    that join is a full shuffle of the corpus at scale, for nothing.
    """
    t = F.col(text_col)
    toks = ws_tokens(t)
    en = F.array(*[F.lit(w) for w in LANG_LEXICONS["en"]])
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("long")
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("long")
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(en, w))).cast("long")
    n_punct = F.regexp_count(t, F.lit(PUNCT_CLASS)).cast("long")
    # every ratio is HALF_UP-rounded in exact BIGINT micros, then presented
    # as a double via ONE IEEE division of exact integers -- bit-identical
    # across engines/partitions by construction. round(<double ratio>, 6)
    # diverges cross-engine when the rational sits on a half-boundary
    # non-representable in binary (1/640 = 0.0015625): the q49 red-cell
    # class, structurally dead here.
    punct_micros = _ratio_micros_halfup(n_punct, n_chars)
    stop_micros = _ratio_micros_halfup(n_stop, n_tok)
    return df.select(
        "doc_id",
        *(keep_cols or []),
        F.length(t).alias("n_chars_measured"),
        token_count(t).alias("n_tokens"),
        (punct_micros / F.lit(1_000_000.0)).alias("punct_ratio"),
        (stop_micros / F.lit(1_000_000.0)).alias("stopword_ratio"),
        # heuristic quality: long enough, some stopwords, not punctuation soup
        (quality_score_micros(t) / F.lit(1_000_000.0)).alias("quality_score"),
    )


def quality_score_micros(text_col: Column) -> Column:
    """Composite quality score in exact integer micros (BIGINT, 0..1e6).

    Same heuristic as :func:`with_quality` (length + stopword-ratio +
    punctuation-soup terms) but every term is computed in integer
    arithmetic -- the three ratios are small-denominator rationals, so the
    score is exactly representable as micros with one floor division per
    term. No double appears anywhere: the value is bit-identical across
    engines, partitions, and platforms *by construction* (the q49
    determinism fix; see VERDICT r4 task #1 and the z20 classifier, which
    pioneered the exact-BIGINT pattern).

    Term decomposition (score = len_term + stop_term + punct_term):
      len_term    = min(length/500, 1) * 0.5      -> min(length*1000, 500000)
      stop_term   = min(5*stop_ratio, 1) * 0.3    -> 300000*min(5*n_stop, n_tok) // n_tok
      punct_term  = (1 - min(10*punct_ratio,1))*0.2
                  -> 200000*(n_chars - min(10*n_punct, n_chars)) // n_chars
    """
    t = text_col
    toks = ws_tokens(t)
    en = F.array(*[F.lit(w) for w in LANG_LEXICONS["en"]])
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("long")
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("long")
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(en, w))).cast("long")
    n_punct = F.regexp_count(t, F.lit(PUNCT_CLASS)).cast("long")
    len_term = F.least(F.length(t).cast("long") * 1000, F.lit(500000).cast("long"))
    stop_term = _floordiv(F.lit(300000) * F.least(n_stop * 5, n_tok), n_tok)
    punct_term = _floordiv(
        F.lit(200000) * (n_chars - F.least(n_punct * 10, n_chars)), n_chars
    )
    return (len_term + stop_term + punct_term).cast("long")


# DuckDB twin of quality_score_micros ('{t}' = text column/expression).
# `//` on nonnegative BIGINTs == the Spark _floordiv; every term integer.
QUALITY_MICROS_SQL = (
    "(least(length({t})::BIGINT * 1000, 500000)"
    " + 300000::BIGINT * least(5 * len(list_filter(string_split_regex("
    "trim(lower({t})), '\\s+'), w -> list_contains("
    "['the','a','of','and','to','in','is','that'], w)))::BIGINT,"
    " greatest(len(string_split_regex(trim(lower({t})), '\\s+')), 1)::BIGINT)"
    " // greatest(len(string_split_regex(trim(lower({t})), '\\s+')), 1)::BIGINT"
    " + 200000::BIGINT * (greatest(length({t}), 1)::BIGINT"
    " - least(10 * len(regexp_extract_all({t}, '[.,!?;:]'))::BIGINT,"
    " greatest(length({t}), 1)::BIGINT))"
    " // greatest(length({t}), 1)::BIGINT)"
)


def with_quality_micros(
    df: DataFrame, text_col: str = "text", keep_cols: list[str] | None = None
) -> DataFrame:
    """Row-local quality pass emitting the exact-integer ``score_micros``
    (BIGINT) next to ``n_tokens`` -- the determinism-safe feed for gated
    pipelines (q49): filters compare integers, aggregates sum integers."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        *(keep_cols or []),
        token_count(t).alias("n_tokens"),
        quality_score_micros(t).alias("score_micros"),
    )


def with_lang_id(
    df: DataFrame, text_col: str = "text", keep_cols: list[str] | None = None
) -> DataFrame:
    """n-gram/stopword-heuristic language ID.

    Scores each language by its lexicon hit-ratio over whitespace tokens;
    CJK-dominant texts short-circuit to 'zh' via a codepoint-class count.
    Deterministic argmax (ties broken by language code order).
    """
    t = F.col(text_col)
    toks = ws_tokens(t)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    # single-param lambda via factory: a 2-arg lambda would be misread by
    # PySpark's HOF binding as (element, index)
    def lex_filter(lex: list[str]):
        arr = F.array(*[F.lit(x) for x in lex])
        return lambda w: F.array_contains(arr, w)

    scores = {
        lang: F.size(F.filter(toks, lex_filter(lex))) / n_tok
        for lang, lex in LANG_LEXICONS.items()
    }
    cjk_ratio = F.regexp_count(t, F.lit("[\\u4e00-\\u9fff]")) / F.greatest(
        F.length(t), F.lit(1)
    )
    mx = F.greatest(*scores.values())
    # first-match-wins over a fixed preference order = deterministic tie-break
    pred = F.when(cjk_ratio > 0.05, F.lit("zh"))
    for lang in ("en", "de", "es", "fr"):
        pred = pred.when(scores[lang] == mx, F.lit(lang))
    return df.select(
        "doc_id",
        *(keep_cols or []),
        pred.otherwise(F.lit("unknown")).alias("pred_lang"),
    )


def with_fingerprint(df: DataFrame, text_col: str = "text", prefix_len: int = 64) -> DataFrame:
    """Polynomial rolling-hash fingerprint of the normalized text prefix.

    Portable (DuckDB twin via list_reduce) and cheap; used for fast
    exact-prefix duplicate bucketing at scale.
    """
    t = F.substring(F.trim(F.lower(F.col(text_col))), 1, prefix_len)
    fp = F.aggregate(
        F.split(t, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * POLY_BASE + F.ascii(c)) % POLY_MOD,
    )
    return df.select("doc_id", fp.alias("fingerprint"))


# PII masking patterns. Deliberately lookahead/backreference-free so Java
# regex (Spark) and RE2 (DuckDB oracle) match identical spans; greedy
# quantifier semantics agree between the engines for these classes.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
DIGIT_RUN_PATTERN = "[0-9]{6,}"


CONTROL_CLASS = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def scrub_text(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """Ingest hygiene: strip control characters (keep \t \n \r),
    collapse whitespace runs to single spaces, trim -- with exact audit
    counters (n_control, n_ws_collapsed) so a quality gate can threshold
    on "how dirty was this doc". Pure regexp codegen; DuckDB twin uses
    the identical character classes, so the gate verifies byte-for-byte.
    """
    t = F.col(text_col)
    no_ctl = F.regexp_replace(t, CONTROL_CLASS, "")
    collapsed = F.trim(F.regexp_replace(no_ctl, r"\s+", " "))
    return df.withColumns(
        {
            "n_control": F.regexp_count(t, F.lit(CONTROL_CLASS)).cast("int"),
            "n_ws_collapsed": F.regexp_count(no_ctl, F.lit(r"\s{2,}")).cast(
                "int"
            ),
            out_col: collapsed,
        }
    )


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Mask emails and long digit runs (ids, phones, account numbers).

    Emails are replaced first -- their local/domain parts contain digit
    runs that must not double-count -- then any remaining run of 6+ digits.
    Adds per-row redaction counters (the corpus-level audit aggregate).
    Pure regexp_replace/regexp_count column expressions: whole-stage
    codegen, no Python in the hot path, trivially parallel at any scale.
    """
    t = F.col(text_col)
    no_email = F.regexp_replace(t, EMAIL_PATTERN, "<EMAIL>")
    return (
        df.withColumn("n_emails", F.regexp_count(t, F.lit(EMAIL_PATTERN)))
        .withColumn("n_long_numbers", F.regexp_count(no_email, F.lit(DIGIT_RUN_PATTERN)))
        .withColumn(out_col, F.regexp_replace(no_email, DIGIT_RUN_PATTERN, "<NUM>"))
    )


def _word_ngrams_all(toks: Column, n: int) -> Column:
    """ALL (non-distinct) n-word shingles -- repetition measurement needs
    multiplicity, unlike the dedup path's distinct `word_shingles`.
    Guarded: Spark's sequence(0, -k) counts DOWN, so short inputs must
    yield an empty array explicitly."""
    n_tok = F.size(toks)
    return F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(0), n_tok - F.lit(n)),
            lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def with_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    the standard LLM-corpus quality gates):

      dup_token_frac    1 - distinct/total whitespace tokens
      dup_trigram_frac  1 - distinct/total word 3-grams
      top_bigram_frac   occurrences of the most frequent word 2-gram
                        over total 2-gram occurrences

    The distinct fractions are pure per-row expressions (no shuffle). The
    top-bigram mode needs a per-(doc, gram) count: explode -> two
    map-side-combined aggregations keyed on (doc, gram) then doc -- the
    shape that spreads by document at 100 TB (a per-row O(len^2) HOF
    variant would avoid the shuffle but quadratic per-document CPU loses
    on book-length docs). All fractions rounded to 4 dp; degenerate
    inputs (too few tokens) report 0.0.
    """
    # materialized token column (the word_shingles PERF CONTRACT: indexed
    # access over a raw ws_tokens() expression re-splits per position)
    toks = F.col("_toks")
    n_tok = token_count(F.col(text_col))
    tri = _word_ngrams_all(toks, 3)
    bi = _word_ngrams_all(toks, 2)

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(arr)) / n.cast("double"), 4
            )
        )

    base = df.withColumn("_toks", ws_tokens(F.col(text_col))).select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.when(n_tok <= 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(toks)) / n_tok.cast("double"),
                4,
            )
        )
        .alias("dup_token_frac"),
        dup_frac(tri).alias("dup_trigram_frac"),
        bi.alias("_bi"),
    )
    counts = (
        base.select(F.col(id_col), F.explode("_bi").alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("_m"), F.sum("c").alias("_s"))
    )
    return (
        base.drop("_bi")
        .join(counts, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "dup_token_frac",
            "dup_trigram_frac",
            F.coalesce(
                F.round(F.col("_m") / F.col("_s").cast("double"), 4), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


# accent fold map shared verbatim by the Spark plan and the DuckDB oracle
# (both engines have Postgres-style translate(str, from, to))
ACCENT_SRC = "àáâãäåèéêëìíîïòóôõöùúûüýÿçñšžœæð"
ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuyycnszoad"


def canonical_text(text: Column) -> Column:
    """Canonical form for normalize-before-dedup: lowercase, fold common
    accents (shared literal map -- engine-reproducible, unlike locale
    dependent ICU normalization), strip everything but [a-z0-9
    whitespace], collapse whitespace runs, trim.

    Pure codegen expression chain; the canonical string is what fuzzy /
    exact dedup should key on so 'Crème  Brûlée!' and 'creme brulee'
    land in the same group.
    """
    c = F.lower(text)
    c = F.translate(c, ACCENT_SRC, ACCENT_DST)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def canonical_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the CANONICAL form: one hash-groupBy (map-side
    combined) keyed on md5(canonical_text) -- same plan shape as
    dedup.exact_duplicates, catching the case-/accent-/punctuation-variant
    copies byte-exact dedup misses."""
    h = F.md5(canonical_text(F.col(text_col)))
    return (
        df.select(h.alias("canon_hash"), F.col(id_col))
        .groupBy("canon_hash")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


def bigram_coherence(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram LM fluency signal, in exact integer
    arithmetic (the CCNet/KenLM perplexity-filter shape, with the LM
    trained on the corpus itself instead of an external model).

    Per bigram type (w1, w2), the corpus-wide conditional probability
    estimate c(w1,w2)/c(w1·) is materialized as parts-per-million via
    INTEGER division -- ``(c12 * 1000000) div c1`` -- so every value is
    exact and identical across engines and partition orders (no float
    summation anywhere; this is the q49 lesson applied from the start).
    A document's score is the integer mean of its bigram terms:

      n_bigrams       token-adjacent pairs in the doc (multiplicity)
      coherence_ppm   div(sum(term), n_bigrams): high = the doc walks
                      well-trodden bigram paths (fluent/templated text),
                      low = unusual word-to-word transitions (gibberish,
                      mixed-language, OCR noise)

    Scale shape: one explode, then the bigram-type table (|distinct
    bigrams|, not |occurrences|) is built with map-side combine; the
    head-count table derives from IT (groupBy w1 over c12 -- never a
    second pass over occurrences). Occurrences join the term table on
    the (w1, w2) key and reduce to one row per doc. All shuffles are on
    gram keys; AQE handles the zipfian skew of frequent-word buckets.
    Docs with < 2 tokens report (0, 0).
    """
    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    ).withColumn("_toks", ws_tokens(F.col(text_col)))
    # materialized column (word_shingles PERF CONTRACT); arrays_zip of two
    # slices builds all adjacent pairs in one codegen'd pass
    toks = F.col("_toks")
    sz = F.size(toks)
    pair_t = "array<struct<w1:string,w2:string>>"
    bg_arr = F.when(
        sz >= 2,
        F.arrays_zip(
            F.slice(toks, 1, sz - 1).alias("w1"),
            F.slice(toks, 2, sz - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast(pair_t))
    bg = spread.select(F.col(id_col), F.explode(bg_arr).alias("b")).select(
        id_col, "b.w1", "b.w2"
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    term = c12.join(c1, "w1").select(
        "w1", "w2", F.expr("(c12 * 1000000L) div c1").alias("term")
    )
    doc = (
        bg.join(term, ["w1", "w2"])
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bigrams"), F.sum("term").alias("s"))
    )
    return df.select(id_col).join(doc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.expr("s div n_bigrams"), F.lit(0))
        .cast("long")
        .alias("coherence_ppm"),
    )


def hashed_linear_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hashed-bag-of-words linear classifier score (the fastText /
    DSIR-style quality-filter shape, with the weight table replaced by a
    deterministic hash so the op is self-contained and engine-portable).

    Each token hashes to an INTEGER weight in [-1000, 1000] via the
    portable md5-prefix hash (``w(t) = md5_hash32(t) % 2001 - 1000``); a
    document's raw score is the exact BIGINT sum of its token weights --
    no float summation, so the result is independent of partition order
    AND bit-identical in the DuckDB oracle (the q49 lesson). ``accept``
    is the sign of the mean weight; ``score_bp`` is the mean weight in
    exact basis points of the weight scale (integer division).

    A real deployment swaps the hash for a broadcast-joined learned
    weight table (token -> weight) -- the plan shape is identical: pure
    per-row projection, zero shuffles, zero UDFs; at 100 TB the filter
    runs at scan speed inside whole-stage codegen.
    """
    t = F.col(text_col)
    toks = ws_tokens(t)
    weights = F.transform(toks, lambda tok: md5_hash32(tok) % 2001 - 1000)
    n = token_count(t)
    wsum = F.when(n == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(weights, F.lit(0).cast("long"), lambda acc, x: acc + x)
    )
    base = df.select(
        F.col(id_col), n.alias("n_tokens"), wsum.alias("weight_sum")
    )
    return base.select(
        id_col,
        "n_tokens",
        "weight_sum",
        F.when(F.col("n_tokens") > 0, F.expr("weight_sum * 10 div n_tokens"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("score_bp"),
        (F.col("weight_sum") > 0).alias("accept"),
    )


def keyword_search(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive keyword retrieval with deterministic integer ranking:
    documents containing ALL ``terms`` (whitespace-token match), ranked by
    total term frequency (exact BIGINT -- no idf log, whose libm last-ulp
    differences would break cross-engine ranking parity), ties by id.

    Plan: the token explode is filtered to the query terms INSIDE the
    scan projection (array_intersect before explode -- non-matching
    tokens never leave the row), then one doc-keyed aggregate with a
    distinct-term conjunction gate and a TakeOrdered top-k. This is the
    index-less scan form; at rest, the same (term -> doc) rows dropped
    into a hash-bucketed layout (write_zordered / IncrementalTable
    bucket_by) serve the probe without the scan.
    """
    terms_arr = F.array(*[F.lit(t) for t in terms])
    toks = ws_tokens(F.col(text_col))
    hits = F.filter(toks, lambda w: F.array_contains(terms_arr, w))
    exploded = df.select(
        F.col(id_col), F.explode(hits).alias("term")
    )
    return (
        exploded.groupBy(id_col)
        .agg(
            F.countDistinct("term").alias("_nterms"),
            F.count("*").alias("total_tf"),
        )
        .filter(F.col("_nterms") == len(terms))
        .drop("_nterms")
        .orderBy(F.desc("total_tf"), F.asc(id_col))
        .limit(k)
    )


def bm25_rank(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Disjunctive BM25-style ranked retrieval, deterministic cross-engine.

    Classic BM25 with ONE deliberate substitution: the idf factor is the
    Robertson-Sparck-Jones odds ratio ``(N - df + 0.5) / (df + 0.5)``
    WITHOUT the log. ln() is a libm transcendental whose last ulp differs
    between engines/platforms, which breaks oracle hash parity and makes
    ranking ties platform-dependent; the log-free odds keep the same
    relative ordering for a single-term score and every remaining
    operation (+ - * /) is IEEE-correctly-rounded, so an identical
    expression tree gives bit-identical scores on any engine.

    Plan shape (scan form): per-term tf columns are computed ROW-LOCALLY
    inside the scan projection (``size(filter(tokens, = term))`` -- no
    explode, no shuffle), corpus stats (N, sum_dl, per-term df) are one
    tiny aggregate broadcast back with a cross join, and the score is a
    fixed-order row-local expression followed by a TakeOrdered top-k.
    Total cost: one pass + one scalar broadcast -- no shuffle of the
    corpus itself. The at-rest form is :func:`bm25_indexed` over a
    :func:`write_posting_index` layout.
    """
    toks = ws_tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        token_count(F.col(text_col)).cast("long").alias("_dl"),
    )
    # single-param lambda via factory: a 2-arg lambda (even with a bound
    # default) is misread by PySpark's HOF binding as (element, index)
    def _eq(t: str):
        return lambda w: w == F.lit(t)

    tf_cols = [
        F.size(F.filter(F.col("_toks"), _eq(t)))
        .cast("long")
        .alias(f"_tf{i}")
        for i, t in enumerate(terms)
    ]
    wtf = base.select(F.col(id_col), F.col("_dl"), *tf_cols)
    stats = wtf.agg(
        F.count("*").alias("_n_docs"),
        F.sum("_dl").alias("_sum_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    joined = wtf.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sum_dl") / F.col("_n_docs")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        idf = (F.col("_n_docs") - F.col(f"_df{i}") + F.lit(0.5)) / (
            F.col(f"_df{i}") + F.lit(0.5)
        )
        sat = (tf * F.lit(k1 + 1.0)) / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl") / avgdl))
        )
        term_score = F.when(F.col(f"_tf{i}") > 0, idf * sat).otherwise(
            F.lit(0.0)
        )
        score = term_score if score is None else score + term_score
    return (
        joined.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bm25_oracle_sql(
    terms: list[str],
    tokens_sql: str,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`bm25_rank`, generated with repr()'d double
    constants so the folded literals are bit-identical to the Python
    floats Spark receives (shortest-roundtrip decimals)."""
    tf_defs = ",\n         ".join(
        f"len(list_filter(w, x -> x = '{t}'))::BIGINT AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_defs = ", ".join(
        f"sum((tf_{i} > 0)::BIGINT) AS df_{i}" for i in range(len(terms))
    )
    score_terms = "\n       + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN "
        f"((n_docs - df_{i} + 0.5) / (df_{i} + 0.5)) * "
        f"((tf_{i}::DOUBLE * {k1 + 1.0!r}) / (tf_{i}::DOUBLE + {k1!r} * "
        f"({1.0 - b!r} + {b!r} * (dl / (sum_dl / n_docs))))) "
        f"ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""
WITH d AS (
  SELECT doc_id, {tokens_sql} AS w,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len({tokens_sql}) END)::BIGINT AS dl
  FROM {table}),
tf AS (
  SELECT doc_id, dl,
         {tf_defs}
  FROM d),
s AS (
  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl, {df_defs}
  FROM tf)
SELECT doc_id,
       round({score_terms}, 6) AS bm25
FROM tf CROSS JOIN s
WHERE round({score_terms}, 6) > 0
ORDER BY bm25 DESC, doc_id LIMIT {k}
"""


def write_posting_index(
    df: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    positional: bool = False,
    compression: str = "zstd",
) -> None:
    """Persist an at-rest inverted index: term-bucketed posting lists.

    Layout (Hive-partitioned parquet):
      ``bucket=<pmod(xxhash64(term), n_buckets)>/`` ->
      rows ``(term, doc_id, tf, dl)`` -- tf exact per-doc term frequency,
      dl the doc's whitespace token length DENORMALIZED into every
      posting so ranked probes never re-join the corpus for lengths.
    Corpus-level stats (n_docs, sum_dl) go to a ``_postings_stats.json``
    sidecar (underscore-prefixed; parquet readers skip it).

    A query for terms T then PARTITION-PRUNES the read to the |T| term
    buckets (see :func:`keyword_search_indexed` / :func:`bm25_indexed`):
    at rest, retrieval over a 100 TB corpus reads ~|T|/n_buckets of the
    index and never scans the documents themselves. Build cost is one
    explode + one (term, doc) aggregate -- the same shuffle a single
    scan-form query pays, amortized over every future probe.

    Size controls (VERDICT r9 #6), both LOSSLESS so every probe --
    phrase search included -- is bit-identical to an uncontrolled
    index (pinned by test):
      * positional lists are GAP-ENCODED (first position + deltas;
        ``positions_encoding: delta`` in the stats sidecar). Absolute
        positions grow with document length while gaps follow term
        recurrence distance, so parquet's int packing collapses them:
        measured 4.2x smaller position payloads on long documents
        (short-doc corpora break even). Probes decode with an O(list)
        prefix-sum fold over candidate postings only.
      * parquet codec defaults to ``zstd`` (~30%% smaller than snappy
        on the sf0.1 index, readers auto-detect per file); pass
        ``compression='snappy'`` to trade bytes for codec speed.
    """
    toks = ws_tokens(F.col(text_col))
    index = _posting_index(path)
    index.write(
        {"": _build_postings(df, toks, text_col, id_col, n_buckets, positional)},
        "overwrite", compression=compression,
    )
    index.commit({
        **_posting_counts(df, text_col),
        "n_buckets": n_buckets,
        "positional": positional,
        **({"positions_encoding": "delta"} if positional else {}),
        "compression": compression,
    })


def _posting_index(path: str) -> BucketedIndex:
    return BucketedIndex(
        path, "_postings_stats.json", "posting index", "write_posting_index",
        layout=("n_buckets", "positional"), clustered=False,
    )


def _posting_counts(df: DataFrame, text_col: str) -> dict:
    """The sidecar's counting stats (n_docs, sum_dl) of ``df``."""
    row = df.agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col)).cast("long")).alias("sum_dl"),
    ).collect()[0]
    return {"n_docs": int(row["n_docs"]), "sum_dl": int(row["sum_dl"] or 0)}


def _gap_encode(positions):
    """Sorted absolute positions -> (first, gaps...) -- lossless, and
    the deltas' small magnitudes are what parquet's integer packing
    rewards. ``positions`` must be a MATERIALIZED column (not an
    array-building expression): element_at per element over a builder
    re-evaluates it per access (the word_shingles PERF CONTRACT)."""
    return F.transform(
        positions,
        lambda x, i: x
        - F.when(i > 0, F.element_at(positions, i)).otherwise(F.lit(0)),
    )


def _gap_decode(gaps):
    """Prefix-sum fold back to absolute positions. O(list) with an
    array-append accumulator -- runs only on the bucket-pruned candidate
    postings at probe time, never at index scale."""
    return F.aggregate(
        gaps,
        F.array().cast("array<int>"),
        lambda acc, x: F.concat(
            acc,
            F.array(F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0)) + x),
        ),
    )


def _build_postings(df, toks, text_col, id_col, n_buckets, positional,
                    encoding: str = "delta"):
    """(term, doc_id, dl, tf[, positions]) rows, term-bucketed.

    ``positional=True`` additionally stores each term's 1-based token
    positions (gap-encoded under ``encoding='delta'``, sorted absolute
    under ``'absolute'`` -- appends must match the index's stats) --
    the phrase-search payload; index size grows from O(distinct
    terms/doc) to O(tokens/doc), the standard positional-index trade."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("long").alias("dl"),
        F.posexplode(toks).alias("pos", "term"),
    )
    grouped = base.groupBy("term", "doc_id", "dl")
    if positional:
        postings = grouped.agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos") + 1)).alias("positions"),
        )
        if encoding == "delta":
            postings = postings.withColumn(
                "positions", _gap_encode(F.col("positions"))
            )
        elif encoding != "absolute":
            raise ValueError(f"unknown positions encoding {encoding!r}")
    else:
        postings = grouped.agg(F.count("*").alias("tf"))
    return postings.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )


def _read_postings(spark, path: str, terms: list[str]) -> tuple[DataFrame, dict]:
    """Bucket-pruned posting read for a query term set + index stats."""
    index = _posting_index(path)
    stats, _ = index.load()
    # python-side xxhash is not available: the term literals' buckets
    # are computed in-plan (Catalyst folds pmod(xxhash64(lit)) to a
    # constant), so one plain collect lists them
    buckets = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in terms])).alias("t")
    ).select(F.pmod(F.xxhash64("t"), F.lit(stats["n_buckets"])).alias("b"))
    pr = index.read(spark, sorted({r["b"] for r in buckets.collect()})).where(
        F.col("term").isin(terms)
    )
    return pr, stats


def keyword_search_indexed(
    spark,
    path: str,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Conjunctive retrieval served from a :func:`write_posting_index`
    layout: partition-prune to the query-term buckets, filter to the
    terms, then the same conjunction gate + integer-tf ranking as the
    scan form (:func:`keyword_search`) -- equivalence is pinned by test.
    The aggregate runs over |postings for T| rows, not the corpus.
    """
    pr, _ = _read_postings(spark, path, terms)
    return (
        pr.groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("_nterms"),
            F.sum("tf").alias("total_tf"),
        )
        .filter(F.col("_nterms") == len(terms))
        .drop("_nterms")
        .orderBy(F.desc("total_tf"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_indexed(
    spark,
    path: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 (log-free odds idf, see :func:`bm25_rank`) served from the
    posting index: bucket-pruned posting read, per-term df recomputed
    exactly from the pruned postings, scores rebuilt with the SAME
    fixed-order expression as the scan form so results are bit-identical
    (equivalence pinned by test). Reads |T| buckets, never the corpus.
    """
    pr, stats = _read_postings(spark, path, terms)
    n_docs, sum_dl = stats["n_docs"], stats["sum_dl"]
    # pivot postings to fixed per-term tf columns (row-local fixed-order
    # score needs stable term positions, not groupBy-sum float order)
    tf_cols = [
        F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias(f"_tf{i}")
        for i, t in enumerate(terms)
    ]
    wtf = pr.groupBy("doc_id", "dl").agg(*tf_cols)
    dfs = wtf.agg(
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ]
    )
    joined = wtf.crossJoin(F.broadcast(dfs))
    avgdl = F.lit(sum_dl).cast("long") / F.lit(n_docs).cast("long")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        idf = (F.lit(n_docs).cast("long") - F.col(f"_df{i}") + F.lit(0.5)) / (
            F.col(f"_df{i}") + F.lit(0.5)
        )
        sat = (tf * F.lit(k1 + 1.0)) / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl))
        )
        term_score = F.when(F.col(f"_tf{i}") > 0, idf * sat).otherwise(
            F.lit(0.0)
        )
        score = term_score if score is None else score + term_score
    return (
        joined.select(F.col("doc_id"), F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def append_posting_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    cas_retries: int = 8,
) -> None:
    """O(|batch|) incremental growth of a :func:`write_posting_index`
    layout: the batch's postings append into the same term buckets
    (dynamic-partition parquet append touches only the buckets the batch
    actually hits) and the stats sidecar advances by the batch's
    (n_docs, sum_dl). Probe-side df is recomputed from the postings at
    query time, so ranked retrieval stays EXACT after any append --
    equivalence with a full rebuild is pinned by test. Contract:
    append-only corpus growth; re-ingesting a doc_id double-counts it
    (dedup upstream, the same contract as append_ivf_index).

    A lost stats CAS re-adds this batch's (n_docs, sum_dl) delta to the
    rival's committed stats; if retries exhaust, the batch's postings are
    already on disk, so RE-RUNNING this function would double-append --
    rebuild with :func:`write_posting_index` instead.
    """
    index = _posting_index(path)
    with index.appending(cas_retries) as (stats, delta):
        # appends must match the index's at-rest layout: a pre-r10 index
        # (no positions_encoding key) stores sorted ABSOLUTE positions
        toks = ws_tokens(F.col(text_col))
        index.write(
            {"": _build_postings(
                df, toks, text_col, id_col, stats["n_buckets"],
                stats.get("positional", False),
                stats.get("positions_encoding", "absolute"),
            )},
            "append", compression=stats.get("compression", "snappy"),
        )
        delta.update(_posting_counts(df, text_col))


def top_terms_per_doc(
    df: DataFrame,
    k: int = 3,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document keyword extraction: each doc's top-k most DISTINCTIVE
    terms by tf x odds-idf (the same log-free Robertson odds as
    :func:`bm25_rank` -- libm-free, so ranking is bit-stable across
    engines). Stopwords need no list: their df ~ N drives odds-idf
    toward 0. ``min_df`` prunes hapax noise (typos, ids).

    Plan: one explode -> (doc, term, tf) aggregate, a vocabulary-sized
    (term, df) aggregate joined back ON TERM (vocabulary-bounded side),
    score row-locally, rank per doc. Every shuffle is linear in the
    token stream or vocabulary; deterministic tie-break (score desc,
    term asc).
    """
    toks = ws_tokens(F.col(text_col))
    tf = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = df.count()  # driver scalar: one O(1)-row action at plan build
    dfreq = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf")
            * (
                (F.lit(n_docs).cast("long") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
            6,
        ).alias("score"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "score")
    )


def vocabulary_drift(
    df: DataFrame,
    source_a: str,
    source_b: str,
    k: int = 20,
    min_count: int = 5,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Term-distribution drift between two corpus slices: per-term
    chi-square contributions (observed vs expected under homogeneity),
    top-k drivers. The distribution-shift monitor a corpus pipeline
    runs between crawls/sources/snapshots; chi-square instead of
    KL-divergence because it is division-only (KL's log is libm, whose
    last ulp breaks cross-engine bit parity -- the z36 rationale).

    For term t with counts a (in A), b (in B) and totals NA, NB:
    expected_a = (a+b) * NA/(NA+NB), contribution =
    (a-e_a)^2/e_a + (b-e_b)^2/e_b. Terms below ``min_count`` combined
    occurrences are pruned (chi-square is unstable on rare cells).

    Plan: one token explode -> (source, term) count, pivot the two
    sources into columns via conditional sums, totals as a 1-row
    broadcast, row-local contribution arithmetic, TakeOrdered top-k.
    """
    toks = ws_tokens(F.col(text_col))
    counts = (
        df.filter(F.col(source_col).isin([source_a, source_b]))
        .select(F.col(source_col).alias("_s"), F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.sum((F.col("_s") == source_a).cast("long")).alias("n_a"),
            F.sum((F.col("_s") == source_b).cast("long")).alias("n_b"),
        )
        .filter((F.col("n_a") + F.col("n_b")) >= min_count)
    )
    totals = counts.agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    joined = counts.crossJoin(F.broadcast(totals))
    e_a = (
        (F.col("n_a") + F.col("n_b"))
        * F.col("_ta")
        / (F.col("_ta") + F.col("_tb"))
    )
    e_b = (
        (F.col("n_a") + F.col("n_b"))
        * F.col("_tb")
        / (F.col("_ta") + F.col("_tb"))
    )
    chi = (F.col("n_a") - e_a) * (F.col("n_a") - e_a) / e_a + (
        F.col("n_b") - e_b
    ) * (F.col("n_b") - e_b) / e_b
    return (
        joined.select(
            "term",
            "n_a",
            "n_b",
            F.round(chi, 6).alias("chi2"),
        )
        .orderBy(F.desc("chi2"), "term")
        .limit(k)
    )


def score_distribution_drift(
    df: DataFrame,
    source_a: str,
    source_b: str,
    score_fn=None,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the quality-score
    distributions of two corpus slices: ``D = max |CDF_a(v) - CDF_b(v)|``
    over observed score values. The numeric-distribution drift monitor
    complementing :func:`vocabulary_drift` (chi-square catches WHAT terms
    shifted; KS catches whether the scalar quality profile shifted).
    All arithmetic is counts and single divisions -- engine-exact.

    Plan: per-(value, side) counts first -- the ordered cumulative
    window then runs over |distinct score values| rows (6-dp scores:
    bounded, tiny), NEVER corpus rows, which is what makes a global
    ordered window acceptable here. Returns one row: (n_a, n_b, ks_d).
    ``score_fn(df, text_col, keep_cols) -> DataFrame with a
    'quality_score' column`` overrides the scorer; ``None`` uses the
    :func:`with_quality` composite score.

    ks_d is computed entirely in BIGINT -- ``max |cum_a*nb - cum_b*na|``
    over the ordered distinct values, then one HALF_UP-micros ratio over
    ``na*nb`` -- and presented as a double via one IEEE division of exact
    integers (cross-engine bit-identical; the q49 determinism rule).
    """
    from pyspark.sql import Window as W

    pair = df.filter(F.col(source_col).isin([source_a, source_b]))
    scorer = score_fn if score_fn is not None else with_quality
    scored = pair.transform(scorer, text_col, [source_col])
    counts = (
        scored.groupBy("quality_score")
        .agg(
            F.sum((F.col(source_col) == source_a).cast("long")).alias("ca"),
            F.sum((F.col(source_col) == source_b).cast("long")).alias("cb"),
        )
    )
    totals = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    w = W.orderBy("quality_score").rowsBetween(W.unboundedPreceding, 0)
    cdf = counts.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    return (
        cdf.crossJoin(F.broadcast(totals))
        .agg(
            F.max(
                F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
            ).alias("_dnum"),
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
        )
        .select(
            "n_a",
            "n_b",
            (
                _ratio_micros_halfup(F.col("_dnum"), F.col("n_a") * F.col("n_b"))
                / F.lit(1_000_000.0)
            ).alias("ks_d"),
        )
    )


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase retrieval: documents containing the token sequence
    ``phrase`` contiguously, ranked by occurrence count (exact integer,
    id tie-break). The positional upgrade of conjunctive
    :func:`keyword_search` -- AND-of-terms cannot distinguish
    "window join" from "join ... window".

    Plan: per-term position lists are row-local index-filter
    transforms inside the scan projection, and phrase matching is a
    fold of ``intersect(positions(t_i) + 1, positions(t_{i+1}))`` --
    after the fold, the surviving positions ARE the phrase-end
    positions, so the match count falls out as size(). No explode, no
    shuffle until the TakeOrdered top-k; the positional posting index
    serves the same verify at rest.
    """
    toks = ws_tokens(F.col(text_col))

    def positions(term: str):
        # 1-based token positions of `term`; the (w, i) 2-arg HOF lambda
        # is the (element, index) binding, deliberately
        return F.filter(
            F.transform(
                toks, lambda w, i: F.when(w == F.lit(term), i + 1)
            ),
            lambda p: p.isNotNull(),
        )

    cur = positions(phrase[0])
    for t in phrase[1:]:
        nxt = F.transform(cur, lambda p: p + 1)
        cur = F.array_intersect(nxt, positions(t))
    return (
        df.select(F.col(id_col), F.size(cur).alias("n_matches"))
        .filter(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), F.asc(id_col))
        .limit(k)
    )


def phrase_search_indexed(
    spark,
    path: str,
    phrase: list[str],
    k: int = 20,
) -> DataFrame:
    """Exact phrase retrieval served from a POSITIONAL posting index
    (``write_posting_index(positional=True)``): bucket-prune to the
    phrase terms, pivot each candidate doc's per-term position lists
    into columns, run the same positions+1 ∩ positions fold as the scan
    form (:func:`phrase_search`) -- results are bit-identical
    (equivalence pinned by test) while reading |phrase|/n_buckets of
    the index and never the corpus.
    """
    pr, stats = _read_postings(spark, path, phrase)
    if not stats.get("positional", False):
        raise ValueError(
            f"posting index at {path} was built without positions; "
            "rebuild with write_posting_index(positional=True) to serve "
            "phrase queries"
        )
    if stats.get("positions_encoding", "absolute") == "delta":
        # decode gap lists to absolute positions on the candidate
        # postings only (bucket-pruned read, never index scale)
        pr = pr.withColumn("positions", _gap_decode(F.col("positions")))
    pivoted = pr.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("positions"))).alias(
                f"_p{i}"
            )
            for i, t in enumerate(phrase)
        ]
    )
    # conjunction gate: every term present
    cond = None
    for i in range(len(phrase)):
        c = F.col(f"_p{i}").isNotNull()
        cond = c if cond is None else (cond & c)
    cur = F.col("_p0")
    for i in range(1, len(phrase)):
        cur = F.array_intersect(
            F.transform(cur, lambda p: p + 1), F.col(f"_p{i}")
        )
    return (
        pivoted.filter(cond)
        .select("doc_id", F.size(cur).alias("n_matches"))
        .filter(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), F.asc("doc_id"))
        .limit(k)
    )


# html_to_text pattern table: (java_inline_flags_pattern, duck_pattern,
# duck_flags, replacement). RE2 (DuckDB) has no backreferences or
# lookahead, so script/style are separate passes and every pattern is a
# plain non-greedy regex both engines interpret identically.
HTML_TEXT_PASSES = [
    (r"(?is)<script[^>]*>.*?</script>", r"<script[^>]*>.*?</script>", "is", " "),
    (r"(?is)<style[^>]*>.*?</style>", r"<style[^>]*>.*?</style>", "is", " "),
    (r"(?s)<!--.*?-->", r"<!--.*?-->", "s", " "),
    (
        r"(?i)</?(br|p|div|li|tr|h1|h2|h3|h4|h5|h6)\b[^>]*>",
        r"</?(br|p|div|li|tr|h1|h2|h3|h4|h5|h6)\b[^>]*>",
        "i",
        "\n",
    ),
    (r"<[^>]+>", r"<[^>]+>", "", " "),
]
# &amp; decodes LAST so "&amp;lt;" yields "&lt;" (one decode pass, the
# HTML-correct behavior), never "<"
HTML_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
]


def html_to_text(
    df: DataFrame, text_col: str = "text", out_col: str = "extracted"
) -> DataFrame:
    """Markup-stripping text extraction (the trafilatura-shaped step a
    web-corpus pipeline runs before any text analysis): drop script/
    style/comment blocks, turn block-level tags into newlines, strip
    remaining tags, decode the six common entities, and normalize
    whitespace (runs of spaces/tabs -> one space, blank-line runs ->
    one newline, trim). Pure regexp codegen over a shared pattern
    table; the DuckDB twin (:func:`html_to_text_oracle_exprs`) applies
    the IDENTICAL pass sequence, so extraction is gated byte-for-byte.
    RE2-compatible patterns only (no backreferences, no lookahead).
    """
    t = F.col(text_col)
    for java_pat, _duck, _flags, repl in HTML_TEXT_PASSES:
        t = F.regexp_replace(t, java_pat, repl)
    for ent, ch in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n[ \n]*", "\n")
    t = F.regexp_replace(t, r"^\n+|\n+$", "")
    return df.withColumn(out_col, F.trim(t))


def html_to_text_oracle_sql_expr(col: str) -> str:
    """DuckDB expression twin of :func:`html_to_text` (same pass order,
    same patterns, RE2 flags passed separately)."""
    e = col
    for _java, duck, flags, repl in HTML_TEXT_PASSES:
        repl_sql = repl.replace("\n", "' || chr(10) || '")
        e = (
            f"regexp_replace({e}, '{duck}', '{repl_sql}', "
            f"'g{flags}')"
        )
    for ent, ch in HTML_ENTITIES:
        ch_sql = ch.replace("'", "''")
        e = f"replace({e}, '{ent}', '{ch_sql}')"
    e = f"regexp_replace({e}, '[ \\t]+', ' ', 'g')"
    e = f"regexp_replace({e}, ' ?\\n[ \\n]*', chr(10), 'g')"
    e = f"regexp_replace({e}, '^\\n+|\\n+$', '', 'g')"
    return f"trim({e})"


# unicode compatibility fold: the NFKC-lite subset a corpus pipeline
# actually needs before hashing/dedup (smart punctuation, fullwidth
# ASCII, NBSP) -- 1:1 maps go through translate(), multi-char
# expansions through replace(); BOTH tables drive Spark and the DuckDB
# twin, so folding is gated byte-for-byte.
_FOLD_1TO1 = (
    [
        ("\u2018", "'"), ("\u2019", "'"), ("\u201a", "'"), ("\u2032", "'"),
        ("\u201c", '"'), ("\u201d", '"'), ("\u201e", '"'), ("\u2033", '"'),
        ("\u2013", "-"), ("\u2014", "-"), ("\u2212", "-"),
    ]
    # space variants: NBSP, narrow NBSP, math space, ideographic
    # space, and the U+2000-200A en/em/thin/hair family
    + [(c, " ") for c in ("\u00a0", "\u202f", "\u205f", "\u3000")]
    + [(chr(cp), " ") for cp in range(0x2000, 0x200B)]
    + [(chr(0xFF01 + i), chr(0x21 + i)) for i in range(0x5E)]  # fullwidth
)
_FOLD_MULTI = [
    ("…", "..."), ("ﬁ", "fi"), ("ﬂ", "fl"),
    ("‹", "<"), ("›", ">"), ("«", '"'), ("»", '"'),
]
FOLD_FROM = "".join(f for f, _ in _FOLD_1TO1)
FOLD_TO = "".join(t for _, t in _FOLD_1TO1)


def unicode_fold(
    df: DataFrame, text_col: str = "text", out_col: str = "folded"
) -> DataFrame:
    """Unicode compatibility fold (NFKC-lite): smart quotes/dashes to
    ASCII, fullwidth forms to their ASCII range, exotic spaces to
    space, ellipsis/ligatures/guillemets expanded. Run BEFORE any
    content hashing -- dedup/splitting keyed on unfolded text treats
    typographic variants of the same sentence as distinct documents.
    Pure translate/replace codegen, zero shuffle; one shared mapping
    table drives both engines byte-for-byte.
    """
    t = F.translate(F.col(text_col), FOLD_FROM, FOLD_TO)
    for src, dst in _FOLD_MULTI:
        t = F.replace(t, F.lit(src), F.lit(dst))
    return df.withColumn(out_col, t)


def unicode_fold_oracle_sql_expr(col: str) -> str:
    """DuckDB twin of :func:`unicode_fold` (same tables, same order)."""
    f = FOLD_FROM.replace("'", "''")
    to = FOLD_TO.replace("'", "''")
    e = f"translate({col}, '{f}', '{to}')"
    for src, dst in _FOLD_MULTI:
        e = f"replace({e}, '{src}', '{dst.replace(chr(39), chr(39)*2)}')"
    return e


def rrf_fuse(
    ranked: "list[tuple[DataFrame, tuple]]",
    rrf_k: int = 60,
    top: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR 2009) --
    the standard hybrid-retrieval combiner (lexical BM25 + semantic ANN
    in production RAG stacks): each system contributes
    ``1 / (rrf_k + rank)`` per document; missing from a system = 0.

    ``ranked`` is a list of ``(df, order_keys)`` pairs where ``df`` is a
    system's (already top-k-LIMITED) result and ``order_keys`` the
    column ordering that defines its ranking. Ranks are materialized
    with a window over each BOUNDED result (<= its k rows -- never
    corpus-scale), scores in EXACT integer micros
    (``10^6 div (rrf_k + rank)``, floor), fused by one union +
    map-side-combined sum keyed on the doc -- so the whole fusion costs
    O(sum of k) however large the corpus, and the output
    (doc, rrf_micros, n_systems, rank) is bit-stable cross-engine.
    Ties break on (score desc, id asc).
    """
    from pyspark.sql import Window as W

    from ..functions.exactnum import floordiv_nonneg

    parts = []
    for df, order_keys in ranked:
        w = W.orderBy(*order_keys)
        parts.append(
            df.select(
                F.col(id_col),
                floordiv_nonneg(
                    F.lit(1_000_000).cast("long"),
                    F.lit(rrf_k).cast("long")
                    + F.row_number().over(w).cast("long"),
                ).alias("_s"),
            )
        )
    u = parts[0]
    for pdf in parts[1:]:
        u = u.unionByName(pdf)
    fused = u.groupBy(id_col).agg(
        F.sum("_s").alias("rrf_micros"),
        F.count(F.lit(1)).cast("int").alias("n_systems"),
    )
    w_out = W.orderBy(F.desc("rrf_micros"), F.asc(id_col))
    return (
        fused.withColumn(
            "rank", F.row_number().over(w_out).cast("int")
        )
        .filter(F.col("rank") <= top)
        .select(id_col, "rrf_micros", "n_systems", "rank")
    )


# ---------------------------------------------------------------------
# Gopher-style document quality rule battery
# ---------------------------------------------------------------------

# The six-word stoplist is the rule's own parameter (Rae et al. 2021
# use a similar small set for the "contains >= 2 stop words" rule);
# deliberately NOT LANG_LEXICONS['en'] so tuning one surface never
# silently reshapes the other.
GOPHER_STOPWORDS = ["the", "a", "and", "of", "to", "in"]


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 15,
    max_words: int = 1000,
    min_mwl_x10: int = 40,
    max_mwl_x10: int = 100,
    min_stopwords: int = 2,
    min_distinct_pct: int = 30,
    max_symbol_pct: int = 1,
    max_bullet_pct: int = 30,
    max_ellipsis_pct: int = 20,
    min_alpha_pct: int = 99,
) -> DataFrame:
    """Gopher-style quality rule battery (Rae et al. 2021, table A1
    shape): the standard pre-training corpus filter -- word-count
    bounds, mean-word-length bounds, minimum stop-word evidence,
    repetition (distinct-word fraction), symbol-to-word ratio
    ('#'/ellipsis soup), bullet-line and ellipsis-line ratios, and
    alphabetic-word fraction. Emits one row per document with each
    rule's pass/fail flag plus the conjunctive ``keep`` -- per-rule
    flags (not just the verdict) because corpus triage needs the WHY:
    'which rule kills 40% of crawl X' is the actionable number.

    Determinism: every rule is an integer comparison on integer counts
    -- ratios are cleared by their denominators (e.g. mean word length
    in [4.0, 10.0] gates as ``40*n <= 10*sum_len <= 100*n``), so no
    division, no float, no rounding appears anywhere and the DuckDB
    twin (:func:`gopher_oracle_sql`) is bit-identical by construction.

    Thresholds are parameters because published values assume web text;
    the defaults here are tuned so every rule discriminates on the
    synthetic corpus (see the z141 registry entry, which injects the
    web artifacts -- bullets/ellipses/symbol runs -- the clean corpus
    lacks, the q88 PII-fixture precedent).

    Scale: one row-local projection pass -- no shuffle, no join, no
    window; the token array is computed once per row and every rule
    reads the same arrays. At 100 TB this is a pure scan-stage map
    with whatever parallelism the source has.
    """
    t = F.col(text_col)
    stop = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    staged = df.select(
        F.col(id_col),
        ws_tokens(t).alias("_w"),
        F.split(t, "\n").alias("_lines"),
        (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).alias(
            "_n_hash"
        ),
        (
            (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit(""))))
            / F.lit(3)
        ).cast("long").alias("_n_ell"),
    )
    w = F.col("_w")
    lines = F.col("_lines")
    n = F.size(w).cast("long")
    sum_len = F.length(F.array_join(w, "")).cast("long")
    n_stop = F.size(F.filter(w, lambda x: F.array_contains(stop, x))).cast("long")
    n_distinct = F.size(F.array_distinct(w)).cast("long")
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda line: F.startswith(line, F.lit("- ")))
    ).cast("long")
    n_ell_lines = F.size(
        F.filter(lines, lambda line: F.endswith(line, F.lit("...")))
    ).cast("long")
    flags = {
        "wc_ok": (n >= min_words) & (n <= max_words),
        "mwl_ok": (F.lit(10) * sum_len >= F.lit(min_mwl_x10) * n)
        & (F.lit(10) * sum_len <= F.lit(max_mwl_x10) * n),
        "stop_ok": n_stop >= min_stopwords,
        "distinct_ok": F.lit(100) * n_distinct >= F.lit(min_distinct_pct) * n,
        "symbol_ok": F.lit(100) * (F.col("_n_hash") + F.col("_n_ell"))
        <= F.lit(max_symbol_pct) * n,
        "bullet_ok": F.lit(100) * n_bullet <= F.lit(max_bullet_pct) * n_lines,
        "ellipsis_ok": F.lit(100) * n_ell_lines
        <= F.lit(max_ellipsis_pct) * n_lines,
        "alpha_ok": F.lit(100) * n_alpha >= F.lit(min_alpha_pct) * n,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else keep & c
    return staged.select(
        F.col(id_col),
        n.alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def gopher_oracle_sql(
    docs_sql: str,
    id_col: str = "doc_id",
    min_words: int = 15,
    max_words: int = 1000,
    min_mwl_x10: int = 40,
    max_mwl_x10: int = 100,
    min_stopwords: int = 2,
    min_distinct_pct: int = 30,
    max_symbol_pct: int = 1,
    max_bullet_pct: int = 30,
    max_ellipsis_pct: int = 20,
    min_alpha_pct: int = 99,
) -> str:
    """DuckDB twin of :func:`gopher_quality`. ``docs_sql`` must yield
    ``(id_col, text)``; every rule is the same cleared-integer
    comparison, so the result is bit-identical by construction."""
    stoplist = "[" + ",".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"
    flags = {
        "wc_ok": f"(n >= {min_words} AND n <= {max_words})",
        "mwl_ok": (
            f"(10 * sum_len >= {min_mwl_x10} * n"
            f" AND 10 * sum_len <= {max_mwl_x10} * n)"
        ),
        "stop_ok": f"(n_stop >= {min_stopwords})",
        "distinct_ok": f"(100 * n_distinct >= {min_distinct_pct} * n)",
        "symbol_ok": f"(100 * (n_hash + n_ell) <= {max_symbol_pct} * n)",
        "bullet_ok": f"(100 * n_bullet <= {max_bullet_pct} * n_lines)",
        "ellipsis_ok": f"(100 * n_ell_lines <= {max_ellipsis_pct} * n_lines)",
        "alpha_ok": f"(100 * n_alpha >= {min_alpha_pct} * n)",
    }
    flag_cols = ",\n       ".join(f"{e} AS {name}" for name, e in flags.items())
    keep = " AND ".join(flags.values())
    return f"""
WITH docs AS ({docs_sql}),
staged AS (
  SELECT {id_col},
         string_split_regex(trim(lower(text)), '\\s+') AS w,
         string_split(text, chr(10)) AS lines,
         (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
         ((length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_ell
  FROM docs),
counted AS (
  SELECT {id_col}, n_hash, n_ell,
         len(w)::BIGINT AS n,
         length(array_to_string(w, ''))::BIGINT AS sum_len,
         len(list_filter(w, x -> list_contains({stoplist}, x)))::BIGINT AS n_stop,
         len(list_distinct(w))::BIGINT AS n_distinct,
         len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::BIGINT AS n_alpha,
         len(lines)::BIGINT AS n_lines,
         len(list_filter(lines, l -> starts_with(l, '- ')))::BIGINT AS n_bullet,
         len(list_filter(lines, l -> ends_with(l, '...')))::BIGINT AS n_ell_lines
  FROM staged)
SELECT {id_col}, n AS n_words,
       {flag_cols},
       ({keep}) AS keep
FROM counted
"""


# RE2-safe, lookahead-free sentence boundary: terminator + single space.
# Shared verbatim by both engines (the z126 shared-pattern discipline).
SENTENCE_SPLIT_RE = "[.!?] "


def sentence_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rule-based sentence segmentation + per-document length stats --
    the readability/structure features (mean sentence length, extremes)
    a quality classifier consumes next to the Gopher rules, and the
    unit boundary a chunker can respect.

    Splits on ``SENTENCE_SPLIT_RE`` (terminator + space; lookahead-free
    so Java regex and RE2 segment identically -- the q79/z126 rule).
    Per-sentence word counts come from one in-row transform over the
    MATERIALIZED sentence array; the mean is an exact HALF_UP
    integer-micros ratio. One row-local scan-stage pass: no shuffle,
    no join, no window.
    """
    staged = df.select(
        F.col(id_col),
        F.split(F.col(text_col), SENTENCE_SPLIT_RE).alias("_sents"),
    ).select(
        F.col(id_col),
        F.transform(
            F.col("_sents"),
            lambda s: F.size(F.split(F.trim(F.lower(s)), r"\s+")).cast("long"),
        ).alias("_wc"),
    )
    n_sent = F.size(F.col("_wc")).cast("long")
    total = F.aggregate(
        F.col("_wc"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    return staged.select(
        F.col(id_col),
        n_sent.alias("n_sentences"),
        total.alias("n_words"),
        _ratio_micros_halfup(total, n_sent).alias("mean_sent_words_micros"),
        F.array_max(F.col("_wc")).alias("max_sent_words"),
        F.array_min(F.col("_wc")).alias("min_sent_words"),
    )


def sentence_stats_oracle_sql(
    docs_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`sentence_stats` (same split pattern, same
    cleared-integer stats)."""
    return f"""
WITH docs AS ({docs_sql}),
s AS (SELECT {id_col},
             [len(string_split_regex(trim(lower(x)), '\\s+'))::BIGINT
              for x in string_split_regex(text, '{SENTENCE_SPLIT_RE}')] AS wc
      FROM docs)
SELECT {id_col},
       len(wc)::BIGINT AS n_sentences,
       list_sum(wc)::BIGINT AS n_words,
       ((2 * 1000000 * list_sum(wc)::BIGINT + len(wc)) // (2 * len(wc)))::BIGINT
         AS mean_sent_words_micros,
       list_max(wc)::BIGINT AS max_sent_words,
       list_min(wc)::BIGINT AS min_sent_words
FROM s
"""


def pmi_collocations(
    df: DataFrame,
    min_count: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level bigram collocation mining by pointwise mutual
    information, reported as the exact LIFT ratio in HALF_UP micros --
    the phrase-discovery primitive (word2vec's phrase pass, quality-
    signal "does this corpus use real multiword expressions", tokenizer
    vocab candidates):

        lift(a,b) = p(ab) / (p(a) * p(b))
                  = n_ab * N_tok^2 / (N_big * n_a * n_b)

    with n_ab counting ADJACENT occurrences over all docs, n_w token
    occurrences, N_tok total tokens and N_big total bigram positions.
    PMI = log2(lift) is monotone in lift, so ranking/thresholding on
    the exact integer-micros lift carries zero float anywhere (the
    exactnum discipline; log would reintroduce engine-dependent
    rounding for no analytical gain).

    Scale shape: one in-row bigram explode + TWO map-side-combined
    count aggregates (bigram-keyed, token-keyed), two 1-row total
    broadcasts, and two equi-joins of the bigram table against the
    token-count table -- no window, no all-pairs; ``min_count`` prunes
    the bigram tail BEFORE the joins (hapax bigrams dominate the key
    space and carry no collocation signal). Magnitude honesty:
    products run in DECIMAL(38,0); the HALF_UP step needs
    2e6 * n_ab * N_tok^2 < 1e38, i.e. N_tok up to ~10^13 tokens per
    computation with n_ab <= 10^6 -- beyond that, shard the PMI pass
    per language/domain (standard practice) before lifting the scale.

    Output: (w1, w2, n_pair, n_w1, n_w2, lift_micros), n_pair >=
    ``min_count``.
    """
    toks = df.select(ws_tokens(F.col(text_col)).alias("_t")).filter(
        F.size("_t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(_t) - 2), "
                "i -> struct(_t[i] AS w1, _t[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        df.select(F.explode(ws_tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    n_tok = uni.agg(F.sum("n_w").alias("n_tok_total"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    n_big = big.agg(F.sum("n_pair").alias("n_big_total"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        big.filter(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_w1").cast("long").alias("n_w1"),
            F.col("n_w2").cast("long").alias("n_w2"),
            _ratio_micros_halfup(
                dec("n_pair") * dec("n_tok_total") * dec("n_tok_total"),
                dec("n_big_total") * dec("n_w1") * dec("n_w2"),
            ).alias("lift_micros"),
        )
    )


def pmi_collocations_oracle_sql(
    docs_sql: str = "SELECT text FROM documents",
    min_count: int = 3,
) -> str:
    """DuckDB twin of :func:`pmi_collocations` (same tokenization, same
    cleared-integer lift)."""
    return f"""
WITH t AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS tk
           FROM ({docs_sql}) d),
pairs AS (
  SELECT u.p.w1 AS w1, u.p.w2 AS w2
  FROM t, unnest([{{'w1': tk[i], 'w2': tk[i+1]}}
                  for i in generate_series(1, len(tk) - 1)]) u(p)
  WHERE len(tk) >= 2),
uni AS (SELECT w, count(*)::BIGINT AS n_w
        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
big AS (SELECT w1, w2, count(*)::BIGINT AS n_pair FROM pairs GROUP BY w1, w2),
tot AS (SELECT (SELECT sum(n_w) FROM uni)::HUGEINT AS n_tok,
               (SELECT sum(n_pair) FROM big)::HUGEINT AS n_big)
SELECT w1, w2, n_pair,
       a.n_w AS n_w1, b.n_w AS n_w2,
       ((2000000 * (n_pair::HUGEINT * n_tok * n_tok)
         + (n_big * a.n_w::HUGEINT * b.n_w::HUGEINT))
        // (2 * (n_big * a.n_w::HUGEINT * b.n_w::HUGEINT)))::BIGINT
         AS lift_micros
FROM big
JOIN uni a ON a.w = big.w1
JOIN uni b ON b.w = big.w2
CROSS JOIN tot
WHERE n_pair >= {min_count}
"""


def quantile_normalize_scores(
    df: DataFrame,
    score,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile normalization of an integer quality score:
    each row gets its MID-RANK percentile within its group, in exact
    HALF_UP micros -- the standard move for mixing heterogeneously-
    scored sources (a length-percentile / classifier-percentile is
    comparable across sources where the raw score is not; curation
    thresholds like "keep each source's top 60%" read this column).

        qnorm = (n_below + (n_eq + 1)/2 - 1) / (n_group - 1)
              = (2*n_below + n_eq - 1) / (2*(n_group - 1))

    Mid-rank makes the percentile a function of the score VALUE, so it
    computes on the (group, score) HISTOGRAM: one count aggregate, one
    prefix-sum window over the histogram's score axis (bounded by
    distinct score values per group -- the z175 banded-median
    discipline; NEVER a corpus-sized partitionBy(group) row_number,
    which funnels each source through one partition), then one
    equi-join back to rows. Single-row groups get the conventional
    500000 (no rank spread to normalize).

    Output: (id, group, score, qnorm_micros).
    """
    from pyspark.sql import Window as W

    from ..functions.exactnum import ratio_micros_halfup

    d = df.select(
        F.col(id_col),
        F.col(group_col).alias("_g"),
        score.cast("long").alias("_s"),
    )
    hist = d.groupBy("_g", "_s").agg(F.count(F.lit(1)).alias("_n_eq"))
    w = W.partitionBy("_g").orderBy("_s").rowsBetween(
        W.unboundedPreceding, -1
    )
    stats = hist.select(
        "_g",
        "_s",
        "_n_eq",
        F.coalesce(F.sum("_n_eq").over(w), F.lit(0)).alias("_n_below"),
    )
    totals = hist.groupBy("_g").agg(F.sum("_n_eq").alias("_n_grp"))
    qnorm = F.when(
        F.col("_n_grp") == 1, F.lit(500_000).cast("long")
    ).otherwise(
        ratio_micros_halfup(
            F.lit(2) * F.col("_n_below") + F.col("_n_eq") - F.lit(1),
            F.lit(2) * (F.col("_n_grp") - F.lit(1)),
        )
    )
    return (
        d.join(stats, ["_g", "_s"])
        .join(totals, "_g")
        .select(
            F.col(id_col),
            F.col("_g").alias(group_col),
            F.col("_s").alias("score"),
            qnorm.alias("qnorm_micros"),
        )
    )


def quantile_normalize_oracle_sql(
    rows_sql: str,
    score_sql: str = "score",
    group_sql: str = "source",
    id_sql: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`quantile_normalize_scores` (same histogram
    mid-rank, same cleared-integer percentile)."""
    return f"""
WITH d AS (SELECT {id_sql} AS id, {group_sql} AS g,
                  ({score_sql})::BIGINT AS s
           FROM ({rows_sql}) raw0),
hist AS (SELECT g, s, count(*)::BIGINT AS n_eq FROM d GROUP BY g, s),
st AS (SELECT g, s, n_eq,
              coalesce(sum(n_eq) OVER (PARTITION BY g ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS n_below,
              sum(n_eq) OVER (PARTITION BY g) AS n_grp
       FROM hist)
SELECT d.id AS {id_sql}, d.g AS {group_sql}, d.s AS score,
       (CASE WHEN st.n_grp = 1 THEN 500000
             ELSE (2000000 * (2 * st.n_below + st.n_eq - 1)
                   + 2 * (st.n_grp - 1)) // (4 * (st.n_grp - 1))
        END)::BIGINT AS qnorm_micros
FROM d JOIN st ON st.g = d.g AND st.s = d.s
"""


def tokenizer_fertility(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Tokenizer FERTILITY by group (language/source/domain): BPE-ish
    pre-tokens per whitespace word, plus chars per BPE token -- THE
    multilinguality cost metric of an LLM corpus (a language whose
    fertility is 2x pays 2x the context budget and 2x the serving cost
    for the same text; corpus mixing that ignores it silently
    under-represents high-fertility languages in TOKEN space even when
    balanced in document space). q79 reports the per-doc counts; this
    is the per-group rollup a mixing policy actually reads.

    Exactness: the counts are exact integers (the q79 lookahead-free
    regex, identical in Java regex and RE2), each ratio ONE clearable
    HALF_UP micros division over the group SUMS (never an average of
    per-doc ratios -- that would weight short docs equally with long
    ones AND float-sum); empty-group denominators NULL, never fake 0.

    Scale shape: one row-local projection (two regexp counts + length)
    into ONE map-side-combined group aggregate. Output per group:
    (group, n_docs, ws_tokens, bpe_tokens, n_chars,
    fertility_micros, chars_per_bpe_micros).
    """
    from ..functions.exactnum import ratio_micros_halfup

    t = F.col(text_col)
    rows = df.select(
        F.col(group_col).alias("grp"),
        token_count(t).cast("long").alias("_ws"),
        bpe_token_count(t).cast("long").alias("_bpe"),
        F.length(t).cast("long").alias("_ch"),
    )
    agg = rows.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ws").cast("long").alias("ws_tokens"),
        F.sum("_bpe").cast("long").alias("bpe_tokens"),
        F.sum("_ch").cast("long").alias("n_chars"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "n_chars",
        F.when(F.col("ws_tokens") == 0, F.lit(None).cast("long"))
        .otherwise(
            ratio_micros_halfup(F.col("bpe_tokens"), F.col("ws_tokens"))
        )
        .alias("fertility_micros"),
        F.when(F.col("bpe_tokens") == 0, F.lit(None).cast("long"))
        .otherwise(
            ratio_micros_halfup(F.col("n_chars"), F.col("bpe_tokens"))
        )
        .alias("chars_per_bpe_micros"),
    )


def tokenizer_fertility_oracle_sql(
    tokens_sql: str,
    bpe_regex_sql: str,
    group_sql: str = "lang",
    rows_sql: str = "SELECT * FROM documents",
) -> str:
    """DuckDB twin of :func:`tokenizer_fertility` (same blank-text
    special case, same regex counts, same cleared-integer ratios)."""
    r = "((2000000 * ({n}) + ({d})) // (2 * ({d})))"
    return f"""
WITH rows0 AS (
  SELECT ({group_sql}) AS grp,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len({tokens_sql}) END)::BIGINT AS ws,
         len(regexp_extract_all(text, {bpe_regex_sql}))::BIGINT AS bpe,
         length(text)::BIGINT AS ch
  FROM ({rows_sql}) zfert0),
agg AS (SELECT grp, count(*)::BIGINT AS n_docs,
               sum(ws)::BIGINT AS ws_tokens,
               sum(bpe)::BIGINT AS bpe_tokens,
               sum(ch)::BIGINT AS n_chars
        FROM rows0 GROUP BY grp)
SELECT grp AS {group_sql}, n_docs, ws_tokens, bpe_tokens, n_chars,
       (CASE WHEN ws_tokens = 0 THEN NULL ELSE
         {r.format(n="bpe_tokens", d="ws_tokens")} END)::BIGINT
         AS fertility_micros,
       (CASE WHEN bpe_tokens = 0 THEN NULL ELSE
         {r.format(n="n_chars", d="bpe_tokens")} END)::BIGINT
         AS chars_per_bpe_micros
FROM agg
"""
