"""Shared plan-registry infrastructure: the Query dataclass, REGISTRY,
the @query decorator, cross-engine exact-arithmetic helpers and their
DuckDB SQL twins, and the oracle-SQL builders used across the family
modules (relational / analytic / scd / timeseries / dedup_sim /
textprep). See plans.queries for the aggregation point."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import exactnum, xhash
from ..operators import dedup, multimodal, sessionize, similarity, text
from ..operators.merge import classify
from ..sources.catalog import load

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str


REGISTRY: dict[str, Query] = {}

# ---------------------------------------------------------------------
# Order-independent rounded aggregates.
#
# round(sum(<double>)) / round(avg(<double>)) over FIXED-POINT-valued
# columns (TPC-H money/qty/discount) is partition-order-sensitive in its
# last ulp, and fixed-point data lands *exactly* on rounding
# half-boundaries with high probability (q86 caught by the r4
# determinism sweep; q49 was the r3 driver red cell). Lifting each row
# to exact decimal makes the sum associative -- partition order cannot
# change the result -- then ONE round / ONE division happens on
# identical exact inputs in both engines. Arbitrary-double data (events
# `value`) is left alone: its boundary-landing probability is ~ulp-sized
# and decimal would pretend precision the data doesn't have.
# ---------------------------------------------------------------------

_DEC = "decimal(25,6)"


def _dsum(expr, scale=2):
    """Order-independent rounded sum of a fixed-point double expression:
    exact decimal sum (associative), round once, return double."""
    return F.round(F.sum(expr.cast(_DEC)), scale).cast("double")


def _davg(expr, scale=4):
    """Cross-engine-exact rounded mean of a fixed-point double column.

    The r4 _davg rounded the IEEE quotient ``sum/count`` -- a double whose
    4-dp rounding can snap differently across engines when it lands within
    an ulp of a half-boundary (Spark rounds the shortest decimal repr,
    DuckDB the binary value: the q49 red-cell class). This version never
    rounds a double: the exact decimal sum is lifted to integer micros,
    HALF_UP-rounded to the target scale in pure BIGINT arithmetic
    (sign-aware ``(2a + b) div (2b)``), and presented as a double via ONE
    IEEE division of exact integers -- correctly rounded to the same bits
    in every engine. Partition order cannot change it; no engine rounding
    rule is involved.
    """
    e = F.col(expr) if isinstance(expr, str) else expr
    a = (F.sum(e.cast(_DEC)) * F.lit(1000000)).cast("long")
    b = F.count(e) * F.lit(10 ** (6 - scale))
    mag = F.abs(a)
    half_up = exactnum.floordiv_nonneg(F.lit(2) * mag + b, F.lit(2) * b)
    return F.signum(a).cast("long") * half_up / F.lit(10**scale)


# SQL twins for the DuckDB oracles (format with e=<expr>, s=<scale>).
# _DAVG_SQL mirrors _davg exactly: integer-micros sum, BIGINT HALF_UP at
# the target scale, one final IEEE division (see _davg docstring).
_DSUM_SQL = "round(sum(CAST({e} AS DECIMAL(25,6))), {s})::DOUBLE"
_DAVG_SQL = (
    "(CASE WHEN CAST(sum(CAST({e} AS DECIMAL(25,6))) * 1000000 AS BIGINT) >= 0"
    " THEN 1 ELSE -1 END"
    " * ((2 * abs(CAST(sum(CAST({e} AS DECIMAL(25,6))) * 1000000 AS BIGINT))"
    "     + count({e}) * POW_REST)"
    "    // (2 * count({e}) * POW_REST)))"
    " / POW_SCALE"
)


def _davg_sql(e: str, s: int) -> str:
    """Render _DAVG_SQL for expression ``e`` at scale ``s``."""
    return (
        _DAVG_SQL.replace("{e}", e)
        .replace("POW_REST", str(10 ** (6 - s)))
        .replace("POW_SCALE", f"{10**s}.0")
    )


# ---------------------------------------------------------------------
# Exact-integer ratio SQL builders (DuckDB twins of functions.exactnum).
# Jaccard / containment / ratio columns and their threshold gates are
# computed entirely in BIGINT -- no round(<double>) anywhere -- then
# presented as doubles via one IEEE division of exact integers, which is
# bit-identical across engines (the q49 determinism rule).
# ---------------------------------------------------------------------


def _ratio_sql(num: str, den: str, scale: int = 6) -> str:
    """HALF_UP num/den at 10^-scale, presented as a double."""
    p = 10**scale
    return f"((2 * {p} * ({num}) + ({den})) // (2 * ({den}))) / {p}.0"


def _jacc_parts(a: str, b: str) -> tuple[str, str]:
    inter = f"len(list_intersect({a}, {b}))"
    union = f"(len({a}) + len({b}) - {inter})"
    return inter, union


def _jacc_sql(a: str, b: str) -> str:
    """Exact HALF_UP-micros Jaccard of two list columns, as a double."""
    inter, union = _jacc_parts(a, b)
    return _ratio_sql(inter, union)


def _jacc_pred_sql(a: str, b: str, t: float) -> str:
    """Exact BIGINT gate: true Jaccard >= t (no double involved)."""
    inter, union = _jacc_parts(a, b)
    return f"{inter} * 1000000 >= {union} * {round(t * 1_000_000)}"


_BPE_SQL = (
    "len(regexp_extract_all(text,"
    " ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+'))"
)
_BPE_RATIO_SQL = _ratio_sql("length(text)", f"greatest({_BPE_SQL}, 1)", 4)


def query(name: str, oracle: str | None = None, description: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(name, fn, oracle, description)
        return fn

    return deco


def _cache_path(sf_dir: str, kind: str) -> str:
    import hashlib

    return f"spark-warehouse/{kind}_{hashlib.sha1(sf_dir.encode()).hexdigest()[:10]}"


def cached_index(sf_dir: str, kind: str, source_table: str, build) -> str:
    """Generic build-once / probe-many cache for probe-only registry
    entries (the z114/z115 split, generalized for VERDICT r10 #4): the
    at-rest index lives under ``spark-warehouse/<kind>_<sha1(sf_dir)>``
    with a completion marker carrying a content fingerprint of the
    source parquet (mtime+size), so a half-built index (crash mid-build)
    or regenerated testdata can never be mistaken for a valid cache.
    ``build(path)`` runs only on miss; bench repeat>=2 min-of-N then
    reports the probe-only steady state -- the recurring 100 TB cost.
    """
    import os

    from ..committer import commit_json, load_json

    path = _cache_path(sf_dir, kind)
    st = os.stat(os.path.join(sf_dir, f"{source_table}.parquet"))
    fingerprint = [int(st.st_mtime_ns), st.st_size]
    marker, _ = load_json(os.path.join(path, "_z_cache.json"))
    if (
        marker is None
        or marker.get("sf_dir") != sf_dir
        or marker.get("fingerprint") != fingerprint
    ):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        build(path)
        commit_json(
            os.path.join(path, "_z_cache.json"),
            {"sf_dir": sf_dir, "fingerprint": fingerprint},
        )
    return path



# =====================================================================
# SCD merge surface (the reference's centerpiece, SURVEY §2.5)
# =====================================================================

# Synthetic SCD state carved deterministically out of `supplier` so the
# merge decision tree is exercised on TESTDATA without extra fixtures:
#   target: active row per key unless key%7==0 (single inactive), plus a
#           second inactive row for key%14==0 (-> scalar-subquery error),
#           plus inactive history for key%5==0 keys that also have actives;
#   batch:  keys %3==0 (value doubled when %6==0 or %21==0) + new keys +1000.
_SCD_TARGET_SQL = """
  SELECT s_suppkey AS k, round(s_acctbal, 2) AS v,
         (s_suppkey % 7 != 0) AS active FROM supplier
  UNION ALL
  SELECT s_suppkey, round(round(s_acctbal, 2) + 100, 2), FALSE
  FROM supplier WHERE s_suppkey % 14 = 0
  UNION ALL
  SELECT s_suppkey, round(round(s_acctbal, 2) - 50, 2), FALSE
  FROM supplier WHERE s_suppkey % 5 = 0 AND s_suppkey % 7 != 0
"""

_SCD_BATCH_SQL = """
  SELECT s_suppkey AS k,
         CASE WHEN s_suppkey % 6 = 0 OR s_suppkey % 21 = 0
              THEN round(round(s_acctbal, 2) * 2, 2) ELSE round(s_acctbal, 2) END AS v
  FROM supplier WHERE s_suppkey % 3 = 0
  UNION ALL
  SELECT s_suppkey + 1000, round(s_acctbal, 2)
  FROM supplier WHERE s_suppkey % 11 = 0
"""

_SCD_CLASSIFY_SQL = f"""
WITH target AS ({_SCD_TARGET_SQL}),
batch AS ({_SCD_BATCH_SQL}),
prof AS (
  SELECT k,
         count(CASE WHEN active THEN 1 END)      AS n_active,
         count(CASE WHEN NOT active THEN 1 END)  AS n_inactive,
         max(CASE WHEN active THEN v END)        AS active_v,
         max(CASE WHEN NOT active THEN v END)    AS inactive_v
  FROM target GROUP BY k)
SELECT b.k, b.v,
       CASE WHEN p.k IS NULL THEN 'insert'
            WHEN p.n_active > 1 THEN 'error'
            WHEN p.n_active = 1 AND b.v = p.active_v THEN 'noop'
            WHEN p.n_active = 1 THEN 'update'
            WHEN p.n_inactive > 1 THEN 'error'
            WHEN b.v = p.inactive_v THEN 'reactivate'
            ELSE 'new_version' END AS action
FROM batch b LEFT JOIN prof p ON b.k = p.k
"""


def _scd_frames(spark, sf_dir):
    load(spark, "supplier", sf_dir).createOrReplaceTempView("supplier")
    target = spark.sql(_SCD_TARGET_SQL)
    batch = spark.sql(_SCD_BATCH_SQL)
    return target, batch


# =====================================================================
# North-star: dedup / text / similarity / multimodal (BASELINE.json)
# =====================================================================

_TOKENS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"
_SHINGLES_SQL = (
    "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
    "for i in generate_series(1, greatest(len(w) - 2, 0))])"
)
_POLY_SQL = (
    "list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split({x}, '')]),"
    " (a, b) -> (a * 31 + b) % 1000000007)"
)


def _minhash_oracle() -> str:
    sig_exprs = ",\n         ".join(
        f"{e} AS s{i}" for i, e in enumerate(xhash.minhash_sql_exprs("sh", k=8))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, s{2*i}::VARCHAR || ',' || s{2*i+1}::VARCHAR AS key FROM sig"
        for i in range(4)
    )
    return f"""
WITH d AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS w FROM documents)),
sig AS (
  SELECT doc_id, sh,
         {sig_exprs}
  FROM d),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id),
verified AS (
  SELECT doc_a, doc_b,
         {_jacc_sql("sa.sh", "sb.sh")} AS jaccard
  FROM cand JOIN d sa ON cand.doc_a = sa.doc_id
            JOIN d sb ON cand.doc_b = sb.doc_id
  WHERE {_jacc_pred_sql("sa.sh", "sb.sh", 0.5)})
SELECT doc_a, doc_b, jaccard FROM verified
"""


def _simhash_oracle(bits: int = 16) -> str:
    poly = xhash.MD5_HASH32_SQL.format(x="x")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hl, h -> (h >> {b}) & 1 = 1)) > n "
        f"THEN {2**b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, list_distinct({_TOKENS_SQL}) AS t FROM documents),
h AS (
  SELECT doc_id, [{poly} for x in t] AS hl, len(t) AS n FROM tok)
SELECT doc_id, ({terms})::BIGINT AS simhash FROM h
"""


def _langid_oracle(
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    score = (
        "len(list_filter(toks, w -> list_contains({lex}, w)))::DOUBLE"
        " / greatest(len(toks), 1)"
    )
    lex_sql = {
        lang: "[" + ",".join(f"'{w}'" for w in lx) + "]"
        for lang, lx in text.LANG_LEXICONS.items()
    }
    s = {lang: score.format(lex=lex_sql[lang]) for lang in lex_sql}
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKENS_SQL} AS toks
           FROM ({docs_sql}) _lid_docs),
sc AS (SELECT doc_id, text,
              {s['en']} AS s_en, {s['de']} AS s_de, {s['es']} AS s_es, {s['fr']} AS s_fr
       FROM t)
SELECT doc_id,
       CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]'))::DOUBLE
                 / greatest(length(text), 1) > 0.05 THEN 'zh'
            WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
            WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
            WHEN s_fr = greatest(s_en, s_de, s_es, s_fr) THEN 'fr'
            ELSE 'unknown' END AS pred_lang
FROM sc
"""


_COS_SQL = (
    "round(list_dot_product(qv, v)"
    " / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)"
)


def _signlsh_neardup_oracle(
    threshold: float, bands: int, bits_per_band: int, dim: int, seed: int = 0,
    max_bucket: int | None = None,
) -> str:
    """DuckDB twin of ``similarity.cosine_neardup_pairs`` banded mode: the
    SAME Rademacher hyperplane literals (``rademacher_planes`` is
    deterministic), the same per-band sign-bit keys, the same
    bucket-equi-join candidates, the same exact cosine verify. Both engines
    compute each plane dot over exact integer MICROS (round(v * 1e6) as
    BIGINT; |dot| << 2^53, so DuckDB's double list_dot_product is exact and
    numpy's int64 matmul trivially so) -- the sign bits, and therefore the
    candidate set, are bit-identical with NO float-summation order
    dependence in either engine."""
    planes = similarity.rademacher_planes(bands * bits_per_band, dim, seed)

    def dot(p: list[float]) -> str:
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
        f"SELECT vec_id, {b} AS band, k{b} AS key FROM sig" for b in range(bands)
    )
    cos = (
        "round(list_dot_product(ea.v, eb.v)"
        " / (sqrt(list_dot_product(ea.v, ea.v))"
        " * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    if max_bucket is None:
        sub_cte, cand_src, sub_eq = "", "bands", ""
    else:
        # the operator's deterministic oversize-bucket cap: rank members
        # by id within each (band, key) bucket, sub-bucket = floor(rank /
        # max_bucket), candidates only within a sub-bucket
        sub_cte = (
            "\nsubbed AS (SELECT vec_id, band, key,"
            " ((row_number() OVER (PARTITION BY band, key ORDER BY vec_id)"
            f" - 1) // {max_bucket})::INT AS sub FROM bands),"
        )
        cand_src, sub_eq = "subbed", " AND a.sub = b.sub"
    return f"""
WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v,
                  [round(x::DOUBLE * 1000000)::BIGINT for x in embedding] AS vm
           FROM embeddings),
sig AS (SELECT vec_id, {", ".join(keys)} FROM e),
bands AS ({band_union}),{sub_cte}
cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         FROM {cand_src} a JOIN {cand_src} b
           ON a.band = b.band AND a.key = b.key{sub_eq} AND a.vec_id < b.vec_id)
SELECT ia AS vec_a, ib AS vec_b, {cos} AS cos_sim
FROM cand JOIN e ea ON ea.vec_id = ia JOIN e eb ON eb.vec_id = ib
WHERE {cos} >= {threshold}
"""


def queries() -> dict[str, QueryFn]:
    # name-sorted so any first-N cap on the driver side sees a stable,
    # deliberately-ordered prefix (scale-critical operators carry q01-q50
    # names; see PARITY.md)
    return {name: REGISTRY[name].fn for name in sorted(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in sorted(REGISTRY)
        if REGISTRY[name].oracle is not None
    }


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_DIGIT_RUN_RE = "[0-9]{6,}"


def _minhash_novel_oracle(
    threshold: float = 0.5,
    corpus_sql: str = "source = 'src0'",
    batch_sql: str | None = None,
) -> str:
    """``batch_sql=None`` keeps the historical shape (batch = every doc
    NOT in the corpus); an explicit ``batch_sql`` screens only that
    slice -- the steady-state per-batch probe shape (z115)."""
    if batch_sql is None:
        batch_sql = f"NOT ({corpus_sql})"
    sig_exprs = ",\n         ".join(
        f"{e} AS s{i}" for i, e in enumerate(xhash.minhash_sql_exprs("sh", k=8))
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, side, {i} AS band, "
        f"s{2 * i}::VARCHAR || ',' || s{2 * i + 1}::VARCHAR AS key FROM sig"
        for i in range(4)
    )
    return f"""
WITH d AS (
  SELECT doc_id, CASE WHEN {corpus_sql} THEN 'c' ELSE 'n' END AS side,
         {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, source, {_TOKENS_SQL} AS w FROM documents)
  WHERE ({corpus_sql}) OR ({batch_sql})),
sig AS (SELECT doc_id, side, sh, {sig_exprs} FROM d),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.side = 'n' AND b.side = 'c'),
dup AS (
  SELECT DISTINCT new_id
  FROM cand JOIN d sa ON cand.new_id = sa.doc_id
            JOIN d sb ON cand.corpus_id = sb.doc_id
  WHERE {_jacc_pred_sql("sa.sh", "sb.sh", threshold)})
SELECT doc_id, source FROM documents
WHERE ({batch_sql}) AND doc_id NOT IN (SELECT new_id FROM dup)
"""


from ..operators.text import bm25_oracle_sql as _bm25_sql  # noqa: E402


from ..operators import sketch as _sketch  # noqa: E402


_Z67_SQL = """
SELECT n.n_name AS nation,
       count(DISTINCT c.c_custkey) AS n_customers,
       round(sum(CAST(o.o_totalprice AS DECIMAL(25,6))), 2) AS total_revenue
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus <> 'F'
GROUP BY n.n_name
HAVING count(*) >= 5
ORDER BY total_revenue DESC, nation
"""

# star-importable surface for the family modules (underscore
# helpers included deliberately)
__all__ = [n for n in dir() if not n.startswith('__')]
