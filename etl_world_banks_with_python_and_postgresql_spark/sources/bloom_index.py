"""Per-file Bloom-filter data-skipping index for point lookups on a
NON-LAYOUT key.

Partition/bucket layouts prune reads only for the columns they were
built on; the footer min/max manifests (sources/incremental.py, z09)
prune range predicates on roughly-sorted columns. The remaining gap is
the point lookup on a key the layout ignores (data laid out by time or
Z-order, looked up by user id): every file's [min, max] spans the whole
key domain, so stats prune nothing. A small per-file Bloom filter
closes it -- the Parquet BloomFilter / Delta dataSkippingStatsColumns
idea, kept engine-side so the policy (bits, hash count, which key) is
ours and the sidecar travels with the table.

Layout: ``<path>/data/*.parquet`` (whatever layout the writer chose --
this index NEVER reshuffles data) + ``_bloom_<key>.json`` sidecar
mapping each data file to a base64 bitmap, committed through the
committer seam (CAS like every other sidecar).

Guarantees: membership tests have NO false negatives (a file containing
the key is always read -- bits are a pure function of key content via
the same JVM xxhash64 used at probe time), only false-positive extra
reads at the documented ~(1 - e^{-kn/m})^k rate. At 100 TB the lookup
reads O(files_with_key + fp_rate * n_files) files instead of the table.
"""

from __future__ import annotations

import base64
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..committer import commit_json, load_json

_SIDECAR = "_bloom_{key}.json"


def _positions(key_col, m_bits: int, n_hashes: int):
    """The k bit positions of a key: pmod(xxhash64(key, seed_i), m).
    Pure JVM expressions -- probe-time positions are computed by the
    SAME engine function, so build and probe can never disagree."""
    return F.array(
        *[
            F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(m_bits)).cast("int")
            for i in range(n_hashes)
        ]
    )


def write_bloom_indexed(
    df: DataFrame,
    path: str,
    key_col: str,
    m_bits: int = 1 << 16,
    n_hashes: int = 7,
    target_files: int = 16,
) -> dict:
    """Write ``df`` as plain parquet plus a per-file Bloom sidecar on
    ``key_col``. The data layout is the writer's business (here: the
    incoming partitioning, coalesced to ``target_files``); the index
    adapts to whatever files land. Returns the sidecar dict.

    Build plan: one pass over the written files computing each file's
    DISTINCT key bit positions (explode k positions per distinct key,
    collect_set per file -- the shuffle payload is file-keyed bit
    positions, bounded by m_bits per file); the driver ORs them into
    ``ceil(m/8)``-byte bitmaps (n_files * 8 KiB at the default m).
    """
    data_dir = os.path.join(path, "data")
    df.repartition(target_files).write.mode("overwrite").parquet(data_dir)
    spark = df.sparkSession
    written = spark.read.parquet(data_dir)
    pos = (
        written.select(
            F.input_file_name().alias("_file"), F.col(key_col).alias("_k")
        )
        .distinct()
        .select("_file", F.explode(_positions(F.col("_k"), m_bits, n_hashes)).alias("_p"))
        .groupBy("_file")
        .agg(F.collect_set("_p").alias("_ps"))
        .collect()
    )
    sidecar = {"m_bits": m_bits, "n_hashes": n_hashes, "key": key_col,
               "files": {}}
    for r in pos:
        bits = bytearray((m_bits + 7) // 8)
        for p in r["_ps"]:
            bits[p >> 3] |= 1 << (p & 7)
        name = os.path.basename(r["_file"])
        sidecar["files"][name] = base64.b64encode(bytes(bits)).decode()
    commit_json(
        os.path.join(path, _SIDECAR.format(key=key_col)), sidecar
    )
    return sidecar


def bloom_lookup(
    spark: SparkSession, path: str, key_col: str, values: list
) -> DataFrame:
    """Point lookup through the Bloom sidecar: read ONLY the files whose
    filter admits at least one probe value, then apply the exact
    predicate. Value-identical to a full-scan filter (no false
    negatives by construction); the pruning is the point.

    Probe positions are computed by the same JVM xxhash64 as the build
    (one bounded |values|-row job), so a Python-side hash reimplementation
    can never drift from the build.
    """
    sidecar, _ = load_json(os.path.join(path, _SIDECAR.format(key=key_col)))
    if sidecar is None:
        raise FileNotFoundError(f"no bloom index for {key_col} at {path}")
    m_bits, n_hashes = sidecar["m_bits"], sidecar["n_hashes"]
    if not values:
        # empty probe set: nothing can match; keep the table schema
        return spark.read.parquet(os.path.join(path, "data")).filter(
            F.lit(False)
        )
    probe = spark.createDataFrame(
        [(v,) for v in values], f"{key_col} {'string' if isinstance(values[0], str) else 'long'}"
    )
    pos_rows = probe.select(
        _positions(F.col(key_col), m_bits, n_hashes).alias("_ps")
    ).collect()
    keep = []
    for name, b64 in sidecar["files"].items():
        bits = base64.b64decode(b64)
        for r in pos_rows:
            if all(bits[p >> 3] & (1 << (p & 7)) for p in r["_ps"]):
                keep.append(name)
                break
    if not keep:
        empty = spark.read.parquet(os.path.join(path, "data"))
        return empty.filter(F.lit(False))
    files = [os.path.join(path, "data", n) for n in sorted(keep)]
    return spark.read.parquet(*files).filter(F.col(key_col).isin(values))
