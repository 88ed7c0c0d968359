"""Spark job budget of the at-rest index families (sources/bucketed_index.py).

Every family -- minhash, winnow, postings, IVF, IVF-PQ -- builds, appends
and probes through the one index protocol. The counts below were measured
before the families moved onto it and are pinned so that the shared
sidecar load, crash-ordered write, locked append and pruned read submit
exactly the jobs the per-family copies did.
"""

import pytest
from pyspark.sql import functions as F

from etl_world_banks_with_python_and_postgresql_spark.operators import (
    dedup,
    similarity,
)
from etl_world_banks_with_python_and_postgresql_spark.operators import text as T
from etl_world_banks_with_python_and_postgresql_spark.sources.catalog import load

#: (build, append, probe) jobs per family; IVF-PQ has no append.
JOBS = {
    "minhash": (8, 8, 17),
    "winnow": (6, 6, 15),
    "postings": (4, 4, 6),
    "ivf": (2, 1, 7),
    "ivfpq": (1, None, 7),
}


def _docs(spark, sf_dir):
    docs = load(spark, "documents", sf_dir)
    return (
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
        docs.filter(F.col("source") == "src2"),
    )


def _vectors(spark, sf_dir):
    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    return (
        emb.filter(F.col("vec_id") % 3 == 0),
        emb.filter(F.col("vec_id") % 3 == 1),
        emb.filter(F.col("vec_id") % 3 == 2).limit(5),
    )


def _family_ops(spark, sf_dir, family, path):
    """(build, append or None, probe) thunks for one family."""
    if family in ("minhash", "winnow", "postings"):
        seed, batch, probe = _docs(spark, sf_dir)
    else:
        seed, batch, probe = _vectors(spark, sf_dir)
    if family == "minhash":
        return (
            lambda: dedup.write_minhash_index(seed, path),
            lambda: dedup.append_minhash_index(batch, path),
            lambda: dedup.minhash_novel_indexed(spark, probe, path).collect(),
        )
    if family == "winnow":
        return (
            lambda: dedup.write_winnow_index(seed, path),
            lambda: dedup.append_winnow_index(batch, path),
            lambda: dedup.winnow_novel_indexed(spark, probe, path).collect(),
        )
    if family == "postings":
        return (
            lambda: T.write_posting_index(seed, path, n_buckets=16),
            lambda: T.append_posting_index(batch, path),
            lambda: T.bm25_indexed(spark, path, ["bank", "the"]).collect(),
        )
    if family == "ivf":
        return (
            lambda: similarity.write_ivf_index(seed, path, n_centroids=4),
            lambda: similarity.append_ivf_index(batch, path),
            lambda: similarity.ivf_topk_indexed(
                spark, path, probe, n_probe=2, k=3
            ).collect(),
        )
    cents = [
        [float(x) for x in r["embedding"]] for r in seed.limit(4).collect()
    ]
    books = similarity.pq_codebooks(seed, m=4, n_codewords=4, n_iter=1)
    return (
        lambda: similarity.write_ivfpq_index(
            seed, path, centroids=cents, books=books
        ),
        None,
        lambda: similarity.ivfpq_topk_indexed(
            spark, path, probe, n_probe=2, k=3
        ).collect(),
    )


@pytest.mark.parametrize("family", sorted(JOBS))
def test_index_family_job_budget(spark, spark_jobs, sf_dir, tmp_path, family):
    build, append, probe = _family_ops(
        spark, sf_dir, family, str(tmp_path / "idx")
    )
    got = []
    for op in (build, append, probe):
        if op is None:
            got.append(None)
            continue
        with spark_jobs() as jobs:
            op()
        got.append(len(jobs))
    assert tuple(got) == JOBS[family]
