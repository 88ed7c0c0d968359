"""The reference ETL, end-to-end and Spark-first.

Replaces `main()` (Python/etl_project_world_banks.ipynb:318-344):

    extract  two HTML pages -> string rows -> typed DataFrames (P1-P11)
    load     set-based SCD merge into parquet snapshots (vs per-row CALLs)
    audit    counters as aggregates, summary lines, process_logs append

Differences from the reference, all deliberate and documented:
  * per-row `CALL etl.insert_or_update_*` round trips (ipynb:224-228,
    249-253) become ONE merge plan per table (operators/merge.py);
  * mutable `log_counts` cells become immutable per-batch aggregate rows;
  * the exchange-rates update-branch bug (`update_at` typo at sql:210 makes
    every changed-rate row abort with a notice) is FIXED here: changed
    rates update properly. Set ``compat_rates_update_bug=True`` to
    reproduce the reference behavior (changed rows quarantine as errors);
  * log timestamps/batch ids are injectable for deterministic tests.
"""

from __future__ import annotations

import logging
import os
import uuid

import pandas as pd
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .operators.merge import MergeResult, deactivate_stale, merge_scd, summarize
from .sources import html_table, sinks
from .sources.incremental import IncrementalTable

logger = logging.getLogger("etl_world_banks_spark")

LOG_PHASES = ("Extract", "Transform", "Load", "Audit")


def load_config(path: str) -> dict:
    """S6 JSON config source (`Config DB/config.json`, ipynb:180-182).

    Driver-side config, not data -- feeds PipelineConfig / JDBC options.
    """
    import json

    with open(path, encoding="utf-8") as f:
        return json.load(f)


@dataclass
class PipelineConfig:
    banks_source: str  # URL or local path of the banks HTML page
    rates_source: str  # URL or local path of the rates HTML page
    target_dir: str  # directory holding the parquet-backed tables
    batch_id: str = field(default_factory=lambda: str(uuid.uuid4()))
    now: datetime | None = None  # injectable clock (tests); None = wall clock
    compat_rates_update_bug: bool = False
    # incremental=True stores both tables as base+delta (sources/incremental)
    # so each run writes O(|batch|) instead of rewriting the full snapshot --
    # the sink mode that holds at 100 TB. Identical final state either way
    # (tests/test_incremental.py); incompatible with compat_rates_update_bug
    # (the compat revert rewrites rows outside the merge's delta).
    incremental: bool = False
    compact_after: int = 8


@dataclass
class PipelineResult:
    banks: MergeResult
    rates: MergeResult
    summary_lines: list[str]
    log_rows: list[tuple]


def extract_world_bank_data(spark: SparkSession, html: str, batch_id: str) -> DataFrame:
    """Banks page -> (bank_name, market_cap_usd, last_modified_date, batch_id).

    Mirrors ipynb:67-112: table index 2, keep cells 1-2 (drop the rank
    column), trim, attach the page-footer last-modified date parsed from
    'This page was last edited on 1 July 2024, at ...'.
    """
    tables, elements = html_table.parse_html(html)
    raw = html_table.table_frame(
        spark,
        tables,
        table_index=2,
        columns=["bank_name", "market_cap_usd"],
        positions=[1, 2],
    )
    lastmod = elements.get("footer-info-lastmod") or ""
    # P7 substring-split parse (ipynb:88-89) done driver-side on the scalar
    date_str = lastmod.split("on")[1].split(",")[0].strip() if "on" in lastmod else None
    return raw.select(
        F.trim("bank_name").alias("bank_name"),
        F.col("market_cap_usd").cast("double").alias("market_cap_usd"),
        F.to_date(F.lit(date_str), "d MMMM yyyy").alias("last_modified_date"),  # P8
        F.lit(batch_id).alias("batch_id"),  # P5 lineage column
    )


def extract_exchange_rates_data(spark: SparkSession, html: str, batch_id: str) -> DataFrame:
    """Rates page -> (country, currency, exchange_rate, year, batch_id).

    Mirrors ipynb:114-167: first table, cells 0-2, year sniffed from the
    header row (the 4-digit cell) and materialized as 31-Dec-<year> (P9).
    """
    tables, _ = html_table.parse_html(html)
    if not tables or not tables[0].rows:
        raise ValueError("rates page: no table rows found")
    year = html_table.sniff_year(tables[0].headers)
    if year is None:
        raise ValueError("rates page: no 4-digit year column in header")
    raw = html_table.table_frame(
        spark,
        tables,
        table_index=0,
        columns=["country", "currency", "exchange_rate"],
        positions=[0, 1, 2],
    )
    return raw.select(
        F.trim("country").alias("country"),
        F.trim("currency").alias("currency"),
        F.col("exchange_rate").cast("double").alias("exchange_rate"),
        F.make_date(F.lit(year), F.lit(12), F.lit(31)).alias("year"),
        F.lit(batch_id).alias("batch_id"),
    )


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> PipelineResult:
    """One full refresh run: extract both pages, merge both tables, audit."""
    now = cfg.now
    log_rows: list[tuple] = []

    def log(phase: str, message: str) -> None:
        ts = now or datetime.now()
        logger.info("[%s] %s", phase, message)
        log_rows.append((phase, message, ts, cfg.batch_id, ts))

    log("Extract", f"fetching {cfg.banks_source}")
    banks_html = html_table.read_text_source(cfg.banks_source)
    banks_batch = extract_world_bank_data(spark, banks_html, cfg.batch_id)
    log("Extract", f"fetching {cfg.rates_source}")
    rates_html = html_table.read_text_source(cfg.rates_source)
    rates_batch = extract_exchange_rates_data(spark, rates_html, cfg.batch_id)

    banks_path = f"{cfg.target_dir}/world_bank_data"
    rates_path = f"{cfg.target_dir}/exchanges_rates"
    if cfg.incremental and cfg.compat_rates_update_bug:
        raise ValueError(
            "incremental mode is incompatible with compat_rates_update_bug: "
            "the compat revert rewrites rows outside the merge's delta"
        )

    # --- world_bank_data: SCD merge + deactivation pass ----------------------
    def banks_leg():
        banks_kw = dict(
            keys=["bank_name"],
            compare_col="market_cap_usd",
            set_cols=["market_cap_usd", "last_modified_date"],
            batch_id=cfg.batch_id,
            table_name="world_bank_data",
            now=now,
        )
        if cfg.incremental:
            banks_table = IncrementalTable(
                banks_path, id_col="world_bank_id", compact_after=cfg.compact_after
            )
            banks_res = banks_table.merge_batch(
                spark, schemas.WORLD_BANK_DATA, banks_batch, **banks_kw
            )
            return banks_res, banks_table
        banks_target = sinks.read_snapshot(spark, banks_path, schemas.WORLD_BANK_DATA)
        # materialize_actions: audit outputs must survive the snapshot swap
        # below -- their lazy plans would read the old snapshot files, which
        # the swap deletes; post-run evaluation (e.g. the quarantine flow
        # res.banks.actions.filter("action='error'")) would then only work
        # while AQE's stage cache happens to hold the exchanges, and raise
        # FILE_NOT_EXIST on a cache miss. The single checkpoint also keeps
        # the classify join from re-executing across collect + write.
        banks_res = merge_scd(
            banks_target, banks_batch, id_col="world_bank_id",
            materialize_actions=True,
            # surrogate-id high-water mark from the committed snapshot's
            # parquet footers (r16, guide §5): exact for int64 stats,
            # zero Spark jobs; None (stats unusable) falls back to the
            # in-plan max aggregate
            max_id=sinks.snapshot_column_max(banks_path, "world_bank_id"),
            **banks_kw
        )
        # `changed` additionally joins the old target files: pin it too
        banks_res.changed = banks_res.changed.localCheckpoint(eager=True)
        # _batch_rows rides along so the A7 row-count gate (ipynb:265-269)
        # is free
        banks_res.counters_row = banks_res.counters.collect()[0]
        new_banks = banks_res.target
        if banks_res.counters_row["_batch_rows"] > 0:
            new_banks = deactivate_stale(new_banks, cfg.batch_id, now=now)
        sinks.write_snapshot(new_banks, banks_path, target_files=4)
        # re-root the returned target at the committed snapshot, not the
        # pre-swap lineage
        banks_res.target = sinks.read_snapshot(
            spark, banks_path, schemas.WORLD_BANK_DATA
        )
        return banks_res, None

    # --- exchanges_rates: flat 3-way merge -----------------------------------
    def rates_leg():
        rates_kw = dict(
            keys=["country", "currency", "year"],
            compare_col="exchange_rate",
            set_cols=["exchange_rate"],
            batch_id=cfg.batch_id,
            table_name="exchanges_rates",
            now=now,
            scd=False,
        )
        rates_target = None
        if cfg.incremental:
            rates_table = IncrementalTable(
                rates_path, id_col="exchange_rate_id", compact_after=cfg.compact_after
            )
            rates_res = rates_table.merge_batch(
                spark, schemas.EXCHANGES_RATES, rates_batch, **rates_kw
            )
        else:
            rates_table = None
            rates_target = sinks.read_snapshot(
                spark, rates_path, schemas.EXCHANGES_RATES
            )
            # same pre-swap materialization as the banks path above
            rates_res = merge_scd(
                rates_target, rates_batch, id_col="exchange_rate_id",
                materialize_actions=True,
                # footer-stat high-water mark, same as the banks leg
                max_id=sinks.snapshot_column_max(rates_path, "exchange_rate_id"),
                **rates_kw
            )
            rates_res.changed = rates_res.changed.localCheckpoint(eager=True)
        rates_target_new = rates_res.target
        if cfg.compat_rates_update_bug:
            # reference behavior: the update branch aborts per-row (sql:210
            # `update_at` typo + EXCEPTION sql:244-247) -- changed rows keep
            # old values; reproduce by restoring the pre-merge rows for
            # 'update' keys
            upd_keys = rates_res.actions.filter(
                F.col("action") == "update"
            ).select("country", "currency", "year")
            keep = rates_target_new.join(
                upd_keys, ["country", "currency", "year"], "left_anti"
            )
            reverted = rates_target.join(
                F.broadcast(upd_keys), ["country", "currency", "year"], "left_semi"
            )
            rates_target_new = keep.unionByName(reverted)
        if not cfg.incremental:
            rates_res.counters_row = rates_res.counters.collect()[0]
            sinks.write_snapshot(rates_target_new, rates_path, target_files=4)
            rates_res.target = sinks.read_snapshot(
                spark, rates_path, schemas.EXCHANGES_RATES
            )
        return rates_res, rates_table

    # The two table legs share no state until the audit (separate target
    # dirs, separate counters, no session-conf mutation anywhere in the
    # merge path), so they run as two concurrent driver-submitted jobs
    # (guide §2.6): the rates leg's tasks back-fill executor slots the
    # banks leg's stage tails leave idle. Each leg's own job chain is
    # unchanged -- results, counters and committed files are byte-for-byte
    # the serial ones, and an exception in either leg propagates from
    # .result() exactly as it did inline (fail-loud).
    # SPARK_GRAFT_PIPELINE_SERIAL=1 restores the serial order (A/B +
    # debugging; also exercised by the pipeline tests both ways).
    log("Load", "merging world_bank_data")
    log("Load", "merging exchanges_rates")
    if os.environ.get("SPARK_GRAFT_PIPELINE_SERIAL") == "1":
        banks_res, banks_table = banks_leg()
        rates_res, rates_table = rates_leg()
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            banks_fut = pool.submit(banks_leg)
            rates_fut = pool.submit(rates_leg)
            banks_res, banks_table = banks_fut.result()
            rates_res, rates_table = rates_fut.result()

    # --- audit: counters + summary + process_logs ----------------------------
    log("Audit", "writing counters and summary")
    counters = spark.createDataFrame(
        pd.DataFrame(
            [
                tuple(res.counters_row[c] for c in schemas.LOG_COUNTS.fieldNames())
                for res in (banks_res, rates_res)
            ],
            columns=schemas.LOG_COUNTS.fieldNames(),
        ),
        schemas.LOG_COUNTS,
    ).coalesce(1)
    sinks.append_log(counters, f"{cfg.target_dir}/log_counts")

    summary_lines = []
    if cfg.incremental:
        # exact live row counts from the committed manifests: no Spark job
        banks_total = banks_table.row_count(spark, schemas.WORLD_BANK_DATA)
        rates_total = rates_table.row_count(spark, schemas.EXCHANGES_RATES)
    else:
        # audit totals from the COMMITTED snapshot's parquet footers
        # (r16): same committed files the former
        # spark.read.parquet(path).count() read, same exact number
        # (num_rows is mandatory footer metadata), two Spark jobs fewer
        # per run -- the audit-reads-committed-state contract holds
        banks_total = sinks.snapshot_row_count(banks_path)
        rates_total = sinks.snapshot_row_count(rates_path)
    for res, total in ((banks_res, banks_total), (rates_res, rates_total)):
        lines = summarize(res.counters_row.asDict(), total)
        summary_lines.extend(lines)
        for line in lines:
            log("Audit", line)

    logs_df = spark.createDataFrame(
        pd.DataFrame(log_rows, columns=schemas.PROCESS_LOGS.fieldNames()),
        schemas.PROCESS_LOGS,
    ).coalesce(1)
    sinks.append_log(logs_df, f"{cfg.target_dir}/process_logs")

    return PipelineResult(
        banks=banks_res, rates=rates_res, summary_lines=summary_lines, log_rows=log_rows
    )
