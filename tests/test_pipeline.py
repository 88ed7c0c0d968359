"""End-to-end pipeline test: HTML fixtures -> extract -> merge -> audit.

Reproduces the reference's golden run shape (cell-5 output,
ipynb:291-313): 10 banks -> 10 inserts / 0 / 0 and 39 rates -> 39/0/0,
then a second run exercising updates, no-ops, and deactivation.
"""

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from etl_world_banks_with_python_and_postgresql_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from etl_world_banks_with_python_and_postgresql_spark.sources import html_table
from etl_world_banks_with_python_and_postgresql_spark.sources.fixtures import (
    BANKS,
    RATES,
    banks_html,
    rates_html,
)


@pytest.fixture
def sources(tmp_path):
    b = tmp_path / "banks.html"
    r = tmp_path / "rates.html"
    b.write_text(banks_html(BANKS))
    r.write_text(rates_html(RATES))
    return str(b), str(r), str(tmp_path / "warehouse")


def counters(res):
    row = res.counters.collect()[0]
    return (row["new_inserts_count"], row["update_count"], row["no_update_count"])


def test_html_source_parsing(spark, sources):
    banks_src, rates_src, _ = sources
    html = html_table.read_text_source(banks_src)
    tables, elements = html_table.parse_html(html)
    assert len(tables) == 3  # reference takes tbody[2] (ipynb:78-84)
    assert "footer-info-lastmod" in elements
    assert html_table.sniff_year(["Country", "Currency", "2023"]) == 2023
    df = html_table.read_html_table(
        spark, html, table_index=2, columns=["name", "cap"], positions=[1, 2]
    )
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0]["cap"] == "100.0"  # trimmed string; cast downstream


def test_cold_start_matches_reference_golden_run(spark, sources):
    banks_src, rates_src, warehouse = sources
    cfg = PipelineConfig(
        banks_source=banks_src,
        rates_source=rates_src,
        target_dir=warehouse,
        batch_id="run-1",
        now=datetime(2024, 8, 1, 6, 27, 14),
    )
    res = run_pipeline(spark, cfg)
    # the reference's golden counters: 10 inserts / 0 / 0 (ipynb:305-307)
    assert counters(res.banks) == (10, 0, 0)
    # and 39 inserts for rates (ipynb:310-312)
    assert counters(res.rates) == (39, 0, 0)
    assert "Number of new records inserted: 10/10" in res.summary_lines
    assert "Number of new records inserted: 39/39" in res.summary_lines

    banks = spark.read.parquet(f"{warehouse}/world_bank_data")
    assert banks.count() == 10
    row = banks.filter("bank_name = 'Bank A'").collect()[0]
    assert row["market_cap_usd"] == 100.0
    assert row["last_modified_date"] == date(2024, 7, 1)
    assert row["updated_at"] is None and row["active"] is True

    logs = spark.read.parquet(f"{warehouse}/process_logs")
    assert logs.filter("log_phase = 'Audit'").count() >= 6
    cnt = spark.read.parquet(f"{warehouse}/log_counts")
    assert cnt.count() == 2


def test_second_run_update_noop_deactivate(spark, sources, tmp_path):
    banks_src, rates_src, warehouse = sources
    cfg1 = PipelineConfig(
        banks_source=banks_src,
        rates_source=rates_src,
        target_dir=warehouse,
        batch_id="run-1",
        now=datetime(2024, 8, 1, 6, 0, 0),
    )
    run_pipeline(spark, cfg1)

    # mutate the page: Bank A changes value, Bank B vanishes, Bank K appears
    banks2 = [("Bank A", 500.0), ("Bank K", 42.0)] + [
        (n, v) for n, v in BANKS if n not in ("Bank A", "Bank B")
    ]
    b2 = tmp_path / "banks2.html"
    b2.write_text(banks_html(banks2, lastmod="2 August 2024"))
    cfg2 = PipelineConfig(
        banks_source=str(b2),
        rates_source=rates_src,
        target_dir=warehouse,
        batch_id="run-2",
        now=datetime(2024, 8, 2, 6, 0, 0),
    )
    res2 = run_pipeline(spark, cfg2)
    assert counters(res2.banks) == (1, 1, 8)  # K insert, A update, 8 noop
    assert counters(res2.rates) == (0, 0, 39)

    banks = spark.read.parquet(f"{warehouse}/world_bank_data")
    a = banks.filter("bank_name = 'Bank A'").collect()[0]
    assert a["market_cap_usd"] == 500.0 and a["batch_id"] == "run-2"
    # Bank B missing from run-2 feed BUT updated_at is NULL (fresh insert)
    # -> exempt from deactivation (sql:134 quirk)
    b = banks.filter("bank_name = 'Bank B'").collect()[0]
    assert b["active"] is True and b["updated_at"] is None


def test_rates_compat_update_bug_mode(spark, sources, tmp_path):
    """compat mode reproduces sql:210's update_at typo: changed rates are
    never updated (every update aborts with a notice in the reference)."""
    banks_src, rates_src, warehouse = sources
    cfg1 = PipelineConfig(
        banks_source=banks_src,
        rates_source=rates_src,
        target_dir=warehouse,
        batch_id="r1",
        now=datetime(2024, 8, 1),
    )
    run_pipeline(spark, cfg1)

    rates2 = [(c, cur, r + 1.0) for c, cur, r in RATES[:5]] + RATES[5:]
    r2 = tmp_path / "rates2.html"
    r2.write_text(rates_html(rates2))
    cfg2 = PipelineConfig(
        banks_source=banks_src,
        rates_source=str(r2),
        target_dir=warehouse,
        batch_id="r2",
        now=datetime(2024, 8, 2),
        compat_rates_update_bug=True,
    )
    res2 = run_pipeline(spark, cfg2)
    assert counters(res2.rates) == (0, 5, 34)  # classified as updates...
    rates = spark.read.parquet(f"{warehouse}/exchanges_rates")
    r0 = rates.filter("country = 'Country 0'").collect()[0]
    assert r0["exchange_rate"] == 0.5  # ...but values NOT applied (bug compat)
    assert r0["batch_id"] == "r1"


def test_incremental_mode_matches_snapshot_mode(spark, sources, tmp_path):
    """Full e2e in incremental (base+delta) sink mode: counters and final
    table state identical to the snapshot-swap mode across two runs with
    updates, inserts, noops, and a vanished bank."""
    from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
        IncrementalTable,
    )
    from etl_world_banks_with_python_and_postgresql_spark import schemas

    banks_src, rates_src, warehouse = sources
    inc_wh = str(tmp_path / "wh_inc")

    banks2 = [("Bank A", 500.0), ("Bank K", 42.0)] + [
        (n, v) for n, v in BANKS if n not in ("Bank A", "Bank B")
    ]
    b2 = tmp_path / "banks2.html"
    b2.write_text(banks_html(banks2, lastmod="2 August 2024"))
    runs = [
        ("run-1", datetime(2024, 8, 1, 6, 0, 0), banks_src),
        ("run-2", datetime(2024, 8, 2, 6, 0, 0), str(b2)),
    ]

    results = {}
    for mode, wh in (("snap", warehouse), ("inc", inc_wh)):
        per_run = []
        for batch_id, now, bsrc in runs:
            cfg = PipelineConfig(
                banks_source=bsrc, rates_source=rates_src, target_dir=wh,
                batch_id=batch_id, now=now, incremental=(mode == "inc"),
            )
            res = run_pipeline(spark, cfg)
            per_run.append((counters(res.banks), counters(res.rates)))
        results[mode] = per_run

    assert results["inc"] == results["snap"]
    assert results["inc"][1][0] == (1, 1, 8)  # K insert, A update, 8 noop

    snap_banks = spark.read.parquet(f"{warehouse}/world_bank_data")
    inc_banks = IncrementalTable(
        f"{inc_wh}/world_bank_data", id_col="world_bank_id"
    ).read(spark, schemas.WORLD_BANK_DATA)

    def key(df):
        return {
            (r["bank_name"], r["market_cap_usd"], r["active"], r["batch_id"],
             str(r["updated_at"]))
            for r in df.collect()
        }

    assert key(inc_banks) == key(snap_banks)
    assert inc_banks.count() == snap_banks.count()


def test_html_datasource_matches_driver_adapter(spark, tmp_path):
    """The Spark-4 Python DataSource must produce exactly the rows of the
    driver-side adapter, one partition per page, with source lineage."""
    from etl_world_banks_with_python_and_postgresql_spark.sources.html_datasource import (
        register_html_source,
    )

    register_html_source(spark)
    p1, p2 = tmp_path / "p1.html", tmp_path / "p2.html"
    p1.write_text(banks_html(BANKS))
    p2.write_text(banks_html([("Bank Z", "999.9")], lastmod="2 August 2024"))

    df = (
        spark.read.format("htmltable")
        .option("paths", f"{p1},{p2}")
        .option("table_index", "2")
        .option("positions", "1,2")
        .option("columns", "bank_name,market_cap_usd")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one fetch/parse task per page
    assert df.columns == ["bank_name", "market_cap_usd", "src"]

    adapter = html_table.read_html_table(
        spark, banks_html(BANKS), table_index=2,
        columns=["bank_name", "market_cap_usd"], positions=[1, 2],
    )
    got_p1 = {
        (r["bank_name"], r["market_cap_usd"])
        for r in df.filter(F.col("src") == str(p1)).collect()
    }
    expect = {(r["bank_name"], r["market_cap_usd"]) for r in adapter.collect()}
    assert got_p1 == expect
    assert df.filter(F.col("src") == str(p2)).count() == 1


def test_html_datasource_requires_columns(spark):
    from etl_world_banks_with_python_and_postgresql_spark.sources.html_datasource import (
        register_html_source,
    )

    register_html_source(spark)
    import pytest as _pytest

    with _pytest.raises(Exception, match="columns"):
        spark.read.format("htmltable").load("/nonexistent.html").collect()


def test_parallel_legs_match_serial_byte_for_byte(
    spark, sources, tmp_path, monkeypatch
):
    """r16 guide-2.6 overlap: the two table legs run concurrently by
    default. Committed snapshots, counters, summary lines and process
    logs must be IDENTICAL to the serial order (the legs share no state
    until the audit)."""
    banks_src, rates_src, _ = sources

    def run_twice(mode_env, warehouse):
        if mode_env:
            monkeypatch.setenv("SPARK_GRAFT_PIPELINE_SERIAL", "1")
        else:
            monkeypatch.delenv("SPARK_GRAFT_PIPELINE_SERIAL", raising=False)
        outs = []
        for i, ts in ((1, datetime(2024, 8, 1, 6, 27, 14)),
                      (2, datetime(2024, 8, 2, 6, 27, 14))):
            cfg = PipelineConfig(
                banks_source=banks_src,
                rates_source=rates_src,
                target_dir=warehouse,
                batch_id=f"run-{i}",
                now=ts,
            )
            outs.append(run_pipeline(spark, cfg))
        return outs

    w_par = str(tmp_path / "wh_par")
    w_ser = str(tmp_path / "wh_ser")
    res_par = run_twice(False, w_par)
    res_ser = run_twice(True, w_ser)

    for rp, rs in zip(res_par, res_ser):
        assert counters(rp.banks) == counters(rs.banks)
        assert counters(rp.rates) == counters(rs.rates)
        assert rp.summary_lines == rs.summary_lines
        assert [r[:2] for r in rp.log_rows] == [r[:2] for r in rs.log_rows]

    for table in ("world_bank_data", "exchanges_rates",
                  "log_counts", "process_logs"):
        a = spark.read.parquet(f"{w_par}/{table}")
        b = spark.read.parquet(f"{w_ser}/{table}")
        cols = sorted(a.columns)
        assert sorted(b.columns) == cols
        ra = sorted(map(tuple, a.select(*cols).collect()))
        rb = sorted(map(tuple, b.select(*cols).collect()))
        assert ra == rb


def test_read_snapshot_pins_schema(spark, spark_jobs, tmp_path):
    """read_snapshot reads with the declared schema: no schema-inference
    job, and a snapshot directory without data files is an empty typed
    frame instead of an inference error."""
    from etl_world_banks_with_python_and_postgresql_spark import schemas
    from etl_world_banks_with_python_and_postgresql_spark.sources import sinks

    sch = schemas.EXCHANGES_RATES
    path = str(tmp_path / "snap")
    sinks.write_snapshot(
        spark.createDataFrame(
            [(1, "US", "USD", 1.0, date(2023, 12, 31), "b1", datetime(2024, 8, 1), None)],
            sch,
        ),
        path,
    )
    with spark_jobs() as jobs:
        df = sinks.read_snapshot(spark, path, sch)
    assert jobs == []
    assert df.columns == sch.fieldNames() and df.count() == 1
    empty = tmp_path / "empty"
    empty.mkdir()
    df = sinks.read_snapshot(spark, str(empty), sch)
    assert df.columns == sch.fieldNames() and df.count() == 0


# Spark jobs of one incremental refresh of the fixture pages that also
# compacts (compact_after=2), as measured; the same refresh submitted 62
# while its bookkeeping reads ran as Spark jobs.
INCREMENTAL_REFRESH_JOB_BUDGET = 41


def test_incremental_refresh_job_budget(spark, spark_jobs, sources, tmp_path, monkeypatch):
    """A metadata read that turns back into a Spark job (schema inference,
    a row count, a max-id scan) or a second counters collect fails this
    instead of silently costing driver CPU on every refresh."""
    banks_src, rates_src, warehouse = sources
    # job groups are thread-local: run both legs on the calling thread
    monkeypatch.setenv("SPARK_GRAFT_PIPELINE_SERIAL", "1")
    banks2 = [("Bank A", 500.0), ("Bank K", 42.0)] + [
        (n, v) for n, v in BANKS if n not in ("Bank A", "Bank B")
    ]
    b2 = tmp_path / "banks2.html"
    b2.write_text(banks_html(banks2, lastmod="2 August 2024"))

    def cfg(i, bsrc):
        return PipelineConfig(
            banks_source=bsrc, rates_source=rates_src, target_dir=warehouse,
            batch_id=f"run-{i}", now=datetime(2024, 8, i, 6, 0, 0),
            incremental=True, compact_after=2,
        )

    run_pipeline(spark, cfg(1, banks_src))
    with spark_jobs() as jobs:
        res = run_pipeline(spark, cfg(2, str(b2)))
    assert counters(res.banks) == (1, 1, 8)
    assert len(jobs) <= INCREMENTAL_REFRESH_JOB_BUDGET, len(jobs)
