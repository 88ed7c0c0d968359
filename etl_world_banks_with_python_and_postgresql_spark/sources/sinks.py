"""Sinks: parquet snapshot (swap-on-write), append log sink, truncate,
and the JDBC protocol (gated -- no Postgres in this environment).

The reference's sink is one psycopg2 connection doing a per-row procedure
CALL (ipynb:213-261) inside a single transaction (ipynb:263). The engine
replaces that with set-based writes; reference-equivalent atomicity comes
from writing a full new snapshot and publishing it with
:func:`..committer.replace_dir` (§4 of SURVEY: JDBC per-partition writes
are not atomic on their own).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..committer import commit_json, live_dir, load_json, replace_dir


def write_snapshot(df: DataFrame, path: str, target_files: int | None = None) -> None:
    """Atomically replace the parquet snapshot at ``path``.

    Published by :func:`..committer.replace_dir` -- readers never observe
    a half-written snapshot and no crash point loses the committed one,
    which is the moral equivalent of the reference's single
    `conn.commit()` per table load (ipynb:263). On a real deployment the
    same role is played by a transactional table format (Delta/Iceberg)
    or the staging-table+MERGE protocol in `jdbc_merge`.
    """
    if target_files is not None:
        # dimension-sized tables: don't emit one near-empty file per input
        # partition (task + file-listing overhead dwarfs the data)
        df = df.coalesce(target_files)
    replace_dir(path, lambda staging: df.write.mode("overwrite").parquet(staging))


def read_snapshot(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read the snapshot with ``schema`` pinned (no schema-inference job;
    a directory without data files reads as an empty typed frame), or an
    empty typed frame if it doesn't exist yet. Resolved through
    :func:`..committer.live_dir`, as are the footer reads below."""
    path = live_dir(path)
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def snapshot_row_count(path: str) -> int:
    """EXACT row count of a committed parquet snapshot from the file
    FOOTERS (pyarrow, driver-side) -- zero Spark jobs. ``num_rows`` is
    mandatory parquet metadata, so this is always exact and always
    available; it reads the same committed files a
    ``spark.read.parquet(path).count()`` would (the audit
    reads-committed-state contract is unchanged -- only the executor
    pass over the data is gone; guide §5: the driver reads metadata,
    not data). Hive-style ``<col>=<value>/`` subdirectories are walked;
    names starting with ``_`` or ``.`` are skipped, as Spark's file
    listing skips them. Missing dir counts 0 (pre-first-run)."""
    import pyarrow.parquet as pq

    total = 0
    for root, dirs, files in os.walk(live_dir(path)):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                total += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return total


def snapshot_column_max(path: str, col: str) -> int | None:
    """MAX of an integer column of a committed parquet snapshot from
    footer column statistics (driver-side, zero Spark jobs) -- the
    surrogate-id high-water-mark read. Parquet int64 min/max stats are
    exact (truncation only applies to binary types). Returns 0 for a
    missing/empty snapshot (the merge's empty-target convention) and
    None when any file lacks usable stats -- callers fall back to the
    aggregate scan (pruning-style degrade: metadata is an optimization,
    never a semantics change)."""
    import pyarrow.parquet as pq

    path = live_dir(path)
    if not os.path.exists(path):
        return 0
    mx = None
    saw_rows = False
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(path, name))
        try:
            ci = pf.schema_arrow.names.index(col)
        except ValueError:
            return None
        if not str(pf.schema_arrow.types[ci]).startswith("int"):
            return None  # exactness argument only holds for integers
        for rg in range(pf.metadata.num_row_groups):
            rgm = pf.metadata.row_group(rg)
            if rgm.num_rows == 0:
                continue
            saw_rows = True
            st = rgm.column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            v = st.max
            mx = v if mx is None or v > mx else mx
    if not saw_rows:
        return 0  # empty snapshot == empty target: max id convention 0
    return mx if mx is not None else None


def append_log(df: DataFrame, path: str) -> None:
    """S9 append-only log sink (process_logs / log_counts).

    Parquet append -- each batch adds files, never rewrites. The reference's
    `etl.insert_log` per-row CALLs (ipynb:327-338, sql:297-315) collapse to
    one partition-parallel write per run.
    """
    df.write.mode("append").parquet(path)


def truncate(path: str) -> None:
    """S10 truncate sink: `TRUNCATE TABLE ... RESTART IDENTITY`
    (SQL/etl_world_banks_workings.sql:6-7) for parquet-backed tables.
    A crash-left ``.old`` goes first: :func:`..committer.live_dir` would
    otherwise serve it once ``path`` is gone."""
    for p in (path + ".old", path):
        if os.path.exists(p):
            shutil.rmtree(p)


# --- JDBC protocol (gated: requires a JDBC driver jar + reachable DB) --------


def jdbc_available(spark: SparkSession, driver_class: str = "org.postgresql.Driver") -> bool:
    """True when the JDBC driver is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(driver_class)  # noqa: SLF001
        return True
    except Exception:
        return False


def write_jdbc_append(df: DataFrame, url: str, table: str, properties: dict[str, str],
                      batchsize: int = 10_000) -> None:
    """Set-based append: one transaction per partition, `batchsize` rows per
    round trip (vs the reference's one round trip PER ROW, ipynb:224-228)."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**properties)
        .mode("append")
        .save()
    )


def jdbc_merge_sql(staging_table: str, target_table: str, keys: list[str],
                   set_cols: list[str]) -> str:
    """Server-side transactional merge statement for the staging protocol.

    Flow: write the batch to ``staging_table`` (append, partition-parallel),
    then execute this single statement server-side -- one transaction, no
    per-row round trips, reference-equivalent atomicity.
    """
    key_eq = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    sets = ", ".join(f"{c} = s.{c}" for c in set_cols)
    cols = ", ".join(keys + set_cols)
    svals = ", ".join(f"s.{c}" for c in keys + set_cols)
    return (
        f"MERGE INTO {target_table} t USING {staging_table} s ON {key_eq} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({svals})"
    )


def jdbc_upsert_sql(staging_table: str, target_table: str, keys: list[str],
                    set_cols: list[str]) -> str:
    """`INSERT ... ON CONFLICT DO UPDATE` variant of :func:`jdbc_merge_sql`
    (Postgres 9.5+; MERGE needs 15+). Same staging protocol, same
    set-based semantics as the reference's per-row upsert procedures
    (`SQL/etl_world_banks.sql:20-122`) collapsed into ONE statement.

    Requires key-distinct staging rows (ON CONFLICT refuses to update the
    same row twice in one statement) -- the engine's merge output is
    key-distinct by construction.
    """
    cols = keys + set_cols
    collist = ", ".join(cols)
    conflict = ", ".join(keys)
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in set_cols)
    return (
        f"INSERT INTO {target_table} ({collist}) "
        f"SELECT {collist} FROM {staging_table} "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {sets}"
    )


def jdbc_insert_only_sql(staging_table: str, target_table: str, keys: list[str],
                         set_cols: list[str]) -> str:
    """`INSERT ... ON CONFLICT DO NOTHING`: the set-based equivalent of the
    reference rates procedure's BUGGY update branch (`SQL/etl_world_banks.sql:210`
    references a nonexistent ``update_at`` column, so every matched-row
    update aborts into the EXCEPTION handler at sql:244-247 and is skipped
    with a notice) -- matched keys keep their existing row, only new keys
    insert. Pairs with ``PipelineConfig.compat_rates_update_bug``, which
    reproduces the same semantics on the engine-side target.
    """
    cols = keys + set_cols
    collist = ", ".join(cols)
    conflict = ", ".join(keys)
    return (
        f"INSERT INTO {target_table} ({collist}) "
        f"SELECT {collist} FROM {staging_table} "
        f"ON CONFLICT ({conflict}) DO NOTHING"
    )


def write_jsonl_shards(
    df, path: str, docs_per_shard: int = 10000, compression: str | None = None
) -> None:
    """Training-data export: newline-delimited JSON in bounded shards.

    ``maxRecordsPerFile`` caps rows per output file WITHOUT a repartition
    -- each task rolls to a new file at the cap, so shard size is bounded
    while write parallelism stays at the partition count (the property
    that matters when exporting a 100 TB corpus for a trainer that maps
    one shard per data-loader worker). Compression ('gzip'/'zstd') trades
    CPU for network at load time.
    """
    w = df.write.mode("overwrite").option("maxRecordsPerFile", docs_per_shard)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_range_partitioned(
    df, path: str, col: str, n_files: int = 8
) -> list[dict]:
    """Totally-ordered parquet export WITHOUT a global single-task sort.

    ``repartitionByRange`` samples the sort column to build range
    boundaries (one pass), each task sorts only its own range
    (``sortWithinPartitions``), and file N's max < file N+1's min -- so
    the file set as a whole is in total order while the sort ran at full
    parallelism. A reader manifest of per-file [min, max] is written to
    ``_ranges.json`` and returned: binary-search it to open exactly one
    file for a point lookup, or a contiguous span for a range read --
    the access pattern that matters when the export is 100 TB and the
    consumer is not Spark.
    """
    import glob

    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .parquet(path)
    )
    from .catalog import parquet_footer_stats

    spark = df.sparkSession
    manifest = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        # footer-stats pass: per-file [min, max, rows] without reading rows
        st = parquet_footer_stats(spark, f, [col])[col]
        if st["count"] == 0:
            continue
        lo = st["min"] if isinstance(st["min"], (int, float)) else str(st["min"])
        hi = st["max"] if isinstance(st["max"], (int, float)) else str(st["max"])
        manifest.append(
            {"file": os.path.basename(f), "min": lo, "max": hi, "rows": st["count"]}
        )
    commit_json(os.path.join(path, "_ranges.json"), manifest)
    return manifest


def write_zordered(
    df,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
    curve: str = "morton",
) -> list[dict]:
    """Space-filling-curve parquet export: range-partition + sort by the
    interleave key of two integer columns, so each output file covers a
    tight 2-D neighborhood and a per-file manifest of BOTH columns'
    [min, max] turns any 2-D box query into a small candidate file set
    -- the multi-column pruning layout a single-column range export
    (:func:`write_range_partitioned`) cannot provide.

    ``curve`` picks the layout key: ``'morton'`` (Z-order bit
    interleave; Delta ZORDER shape) or ``'hilbert'`` (Hilbert curve;
    consecutive keys are ALWAYS adjacent cells, so the same file count
    covers tighter 2-D boxes and box queries prune to fewer candidates
    -- the reason Iceberg/Hudi offer Hilbert above Z-order). The
    manifest and candidate selection are identical either way: pruning
    reads per-file natural-column [min, max] boxes, never the key.

    Returns (and writes to ``_zorder.json``) the manifest:
    ``[{file, a_min, a_max, b_min, b_max, rows}, ...]``. Candidate
    selection for a box query is a pure manifest scan
    (:func:`zorder_candidate_files`) -- no listing, no footer reads
    outside the candidates. The sort runs at full parallelism
    (repartitionByRange samples the key; each task sorts its own range).
    """
    import glob

    from ..functions.xhash import hilbert_key, zorder_key

    if curve not in ("morton", "hilbert"):
        raise ValueError(f"unknown curve {curve!r}: morton | hilbert")
    key_fn = hilbert_key if curve == "hilbert" else zorder_key
    zk = key_fn(F.col(col_a), F.col(col_b), bits)
    (
        df.withColumn("_zk", zk)
        .repartitionByRange(n_files, F.col("_zk"))
        .sortWithinPartitions("_zk")
        .drop("_zk")
        .write.mode("overwrite")
        .parquet(path)
    )
    from .catalog import parquet_footer_stats

    spark = df.sparkSession
    manifest = []
    for f in sorted(glob.glob(os.path.join(path, "part-*.parquet"))):
        st = parquet_footer_stats(spark, f, [col_a, col_b])
        if st[col_a]["count"] == 0:
            continue
        manifest.append(
            {
                "file": os.path.basename(f),
                "a_min": st[col_a]["min"],
                "a_max": st[col_a]["max"],
                "b_min": st[col_b]["min"],
                "b_max": st[col_b]["max"],
                "rows": st[col_a]["count"],
            }
        )
    commit_json(os.path.join(path, "_zorder.json"), manifest)
    return manifest


def zorder_candidate_files(
    path: str, a_range: tuple | None = None, b_range: tuple | None = None
) -> list[str]:
    """Manifest-only candidate selection for a 2-D box query over a
    :func:`write_zordered` export: files whose [min, max] box cannot
    intersect the query box are skipped without listing or reading them.
    Either range may be None (unbounded on that dimension)."""
    manifest, _ = load_json(os.path.join(path, "_zorder.json"))
    if manifest is None:
        raise FileNotFoundError(f"no z-order manifest at {path}")

    def hits(e) -> bool:
        if a_range is not None and (
            e["a_max"] < a_range[0] or e["a_min"] > a_range[1]
        ):
            return False
        if b_range is not None and (
            e["b_max"] < b_range[0] or e["b_min"] > b_range[1]
        ):
            return False
        return True

    return [os.path.join(path, e["file"]) for e in manifest if hits(e)]


def compact_small_files(
    spark: SparkSession,
    path: str,
    schema=None,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """OPTIMIZE-style small-file compaction for a plain parquet
    directory: rewrite the data into ceil(total_bytes /
    ``target_file_bytes``) files (the bin-packing file-count heuristic)
    published by :func:`write_snapshot`'s :func:`..committer.replace_dir`,
    so readers never see a half-compacted directory and no crash point
    loses the data.

    Many small files are the slow death of a big-data directory: task
    scheduling, file listing, and footer reads all scale with file
    COUNT, not bytes. Streaming sinks and frequent small appends
    (posting-index/IVF appends, foreachBatch epochs) accrete them; this
    is the maintenance pass that pays the rewrite once to make every
    later scan cheap. No-ops (returns the stats, rewrites nothing) when
    the directory already has fewer than ``min_files`` files or fewer
    files than the target count. Returns
    ``{files_before, files_after, bytes}``.
    """
    import glob as _glob

    src = live_dir(path)
    files = sorted(
        f
        for f in _glob.glob(os.path.join(src, "*.parquet"))
        if os.path.isfile(f)
    )
    total = sum(os.path.getsize(f) for f in files)
    target_n = max(1, -(-total // target_file_bytes))
    if len(files) < min_files or len(files) <= target_n:
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total,
        }
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(src)
    write_snapshot(df, path, target_files=int(target_n))
    after = len(
        [f for f in _glob.glob(os.path.join(path, "*.parquet")) if os.path.isfile(f)]
    )
    return {"files_before": len(files), "files_after": after, "bytes": total}
