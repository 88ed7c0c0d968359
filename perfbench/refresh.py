"""Refresh workloads: seeded pages, a day-by-day change model, the reference
SCD semantics as plain Python bookkeeping, and the timed refresh loop.

The model (``Tables``) is what the benchmark checks the program against:
per-run summary lines and the current rows of both committed tables after
every refresh. It tracks only the keys the pages touch; seeded history rows
that no page mentions are counted, never changed.
"""

from __future__ import annotations

import copy
import itertools
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import date, datetime, timedelta

BASE_NOW = datetime(2024, 8, 1, 6, 0, 0)  # day 0; refresh k runs at day k
RATES_YEAR = 2023
HIST_LASTMOD = date(2020, 1, 1)
HIST_CREATED = datetime(2020, 1, 1)
HIST_UPDATED = datetime(2020, 6, 1)


@dataclass(frozen=True)
class Shape:
    """Page sizes and the per-day change mix."""

    banks: int
    rates: int
    history: int  # inactive history rows pre-seeded into the banks target
    updates: int  # banks whose market cap changes
    drops: int  # banks missing from the page (deactivated if stale)
    returns: int  # dropped banks that come back
    history_returns: int  # history banks that come back
    inserts: int  # brand-new banks
    rate_updates: int
    rate_inserts: int


# the fixture pages' shape: 10 banks, 39 rates
REFERENCE = Shape(
    banks=10, rates=39, history=0, updates=2, drops=2, returns=1,
    history_returns=0, inserts=1, rate_updates=3, rate_inserts=1,
)
LARGE = Shape(
    banks=5_000, rates=5_000, history=50_000, updates=250, drops=25,
    returns=12, history_returns=12, inserts=25, rate_updates=250,
    rate_inserts=25,
)


def hist_name(i: int) -> str:
    return f"Hist {i:07d}"


def hist_value(i: int, salt: int) -> float:
    # the same expression as the Spark side of _banks_frame (exact in IEEE)
    return ((i * 7919 + salt) % 100_000) / 100.0


def lastmod_text(d: date) -> str:
    return f"{d.day} {d.strftime('%B %Y')}"


class Tables:
    """Expected state of world_bank_data and exchanges_rates under the
    reference semantics (operators/merge.py module docstring): classify each
    batch key against the target, apply, insert, then deactivate stale rows."""

    def __init__(self, salt: int, history: int) -> None:
        self.banks: dict[str, list[dict]] = {}
        self.rates: dict[tuple[str, str], dict] = {}
        self.salt = salt
        self.hist_untouched = history

    def _bank_rows(self, key: str) -> list[dict]:
        rows = self.banks.get(key)
        if rows is None:
            rows = []
            if key.startswith("Hist "):
                i = int(key[5:])
                rows.append(dict(value=hist_value(i, self.salt), lastmod=HIST_LASTMOD,
                                 batch="history", created=HIST_CREATED,
                                 updated=HIST_UPDATED, active=False))
                self.hist_untouched -= 1
            self.banks[key] = rows
        return rows

    def merge_banks(self, page: dict[str, float], batch: str, now: datetime) -> dict[str, int]:
        n = dict.fromkeys(("noop", "update", "insert", "reactivate", "new_version",
                           "error", "deactivate"), 0)
        for key, v in page.items():
            rows = self._bank_rows(key)
            act = [r for r in rows if r["active"]]
            ina = [r for r in rows if not r["active"]]
            if not rows:
                action = "insert"
            elif len(act) > 1:
                action = "error"
            elif len(act) == 1:
                action = "noop" if act[0]["value"] == v else "update"
            elif len(ina) > 1:
                action = "error"
            else:
                action = "reactivate" if ina[0]["value"] == v else "new_version"
            n[action] += 1
            if action == "update":
                act[0].update(value=v, lastmod=now.date(), batch=batch, updated=now)
            elif action == "reactivate":
                ina[0].update(lastmod=now.date(), batch=batch, updated=now, active=True)
            elif action in ("insert", "new_version"):
                rows.append(dict(value=v, lastmod=now.date(), batch=batch, created=now,
                                 updated=None, active=True))
        today = datetime.combine(now.date(), datetime.min.time())
        for rows in self.banks.values():
            for r in rows:
                if (r["active"] and r["batch"] != batch and r["updated"] is not None
                        and r["updated"] < today):
                    r.update(updated=now, active=False)
                    n["deactivate"] += 1
        return n

    def merge_rates(self, page: dict[tuple[str, str], float], batch: str,
                    now: datetime) -> dict[str, int]:
        n = dict(noop=0, update=0, insert=0)
        for key, v in page.items():
            r = self.rates.get(key)
            if r is None:
                self.rates[key] = dict(value=v, batch=batch, created=now, updated=None)
                n["insert"] += 1
            elif r["value"] == v:
                n["noop"] += 1
            else:
                r.update(value=v, batch=batch, updated=now)
                n["update"] += 1
        return n

    def banks_total(self) -> int:
        return self.hist_untouched + sum(len(r) for r in self.banks.values())

    def current_banks(self) -> list[tuple]:
        """Active rows as the consumer read returns them, surrogate ids
        excluded (they are not deterministic by design)."""
        return sorted(
            (k, r["value"], r["lastmod"], r["batch"], r["created"], r["updated"])
            for k, rows in self.banks.items() for r in rows if r["active"]
        )

    def current_rates(self) -> list[tuple]:
        return sorted(
            (c, cur, r["value"], date(RATES_YEAR, 12, 31), r["batch"], r["created"],
             r["updated"])
            for (c, cur), r in self.rates.items()
        )


def summary_lines(banks: dict, banks_total: int, rates: dict, rates_total: int) -> list[str]:
    """The pipeline's audit lines for the expected counters."""
    out = []
    for n, total in ((banks, banks_total), (rates, rates_total)):
        out += [
            f"Number of new records inserted: {n['insert']}/{total}",
            f"Number of records updated:  {n['update']}/{total}",
            f"Number of records with no updates needed:  {n['noop']}/{total}",
        ]
    return out


@dataclass
class Day:
    now: datetime
    batch: str
    banks_html: str
    rates_html: str
    expect_lines: list[str]
    expect_banks: list[tuple]
    expect_rates: list[tuple]


@dataclass
class Seeded:
    """Day-0 target rows and the refresh days that follow, from one seed."""

    salt: int
    banks: list[tuple[str, dict]]
    rates: list[tuple[tuple[str, str], dict]]
    days: list[Day]


def generate(shape: Shape, seed: int, days: int) -> Seeded:
    """Day-0 state plus ``days`` refreshes, all derived from ``seed``.

    Every banks day has noops, updates, inserts and deactivations, and every
    rates day has updates and inserts; this is checked here, so a seed that
    misses one fails before any timing."""
    from etl_world_banks_with_python_and_postgresql_spark.sources import fixtures

    rng = random.Random(seed)
    salt = seed % 100_000
    model = Tables(salt, shape.history)
    bank_ids = iter(range(10_000_000))
    rate_ids = iter(range(10_000_000))

    def cap() -> float:
        return round(rng.uniform(1.0, 5000.0), 2)

    def rate() -> float:
        return round(rng.uniform(0.1, 100.0), 4)

    def new_bank() -> str:
        return f"Bank {next(bank_ids):07d}"

    def new_rate() -> tuple[str, str]:
        i = next(rate_ids)
        return f"Country {i:06d}", f"Cur{i:06d}"

    # day 0, the seeded current state: a tenth of the banks were updated on
    # day 0 (so day 1 has stale rows to deactivate); the rest are fresh
    # inserts, exempt from deactivation until first updated
    page = {new_bank(): cap() for _ in range(shape.banks)}
    for i, (k, v) in enumerate(page.items()):
        model.banks[k] = [dict(value=v, lastmod=BASE_NOW.date(), batch="day-0",
                               created=BASE_NOW - timedelta(days=30),
                               updated=BASE_NOW if i % 10 == 0 else None, active=True)]
    rates = {new_rate(): rate() for _ in range(shape.rates)}
    for k, v in rates.items():
        model.rates[k] = dict(value=v, batch="day-0",
                              created=BASE_NOW - timedelta(days=30), updated=None)
    seed_banks = [(k, dict(rows[0])) for k, rows in model.banks.items()]
    seed_rates = copy.deepcopy(list(model.rates.items()))

    dropped: dict[str, float] = {}
    updated_yesterday = {k for k, rows in model.banks.items() if rows[0]["updated"]}
    hist_pool = rng.sample(range(shape.history), min(shape.history,
                                                     days * shape.history_returns))
    out = []
    for d in range(1, days + 1):
        now = BASE_NOW + timedelta(days=d)
        batch = f"day-{d}"
        # banks dropped on earlier days come back first, so a bank dropped
        # today stays off the page for at least one run
        back = rng.sample(sorted(dropped), min(len(dropped), shape.returns))
        # drop banks updated yesterday first: the deactivation pass must
        # catch them
        stale = sorted(updated_yesterday & page.keys())
        drop = rng.sample(stale, min(len(stale), shape.drops))
        drop += rng.sample(sorted(page.keys() - set(drop)), shape.drops - len(drop))
        for k in drop:
            dropped[k] = page.pop(k)
        fresh = sorted(page.keys() - updated_yesterday)
        upd = rng.sample(fresh, min(len(fresh), shape.updates))
        for k in upd:
            v = cap()
            while v == page[k]:
                v = cap()
            page[k] = v
        for k in back:
            v = dropped.pop(k)
            page[k] = v if rng.random() < 0.5 else cap()
        for _ in range(shape.history_returns):
            i = hist_pool.pop()
            page[hist_name(i)] = hist_value(i, salt) if rng.random() < 0.5 else cap()
        for _ in range(shape.inserts):
            page[new_bank()] = cap()
        for k in rng.sample(sorted(rates), shape.rate_updates):
            v = rate()
            while v == rates[k]:
                v = rate()
            rates[k] = v
        for _ in range(shape.rate_inserts):
            rates[new_rate()] = rate()

        nb = model.merge_banks(page, batch, now)
        nr = model.merge_rates(rates, batch, now)
        for key in ("noop", "update", "insert", "deactivate"):
            if nb[key] == 0:
                raise RuntimeError(f"seed {seed} day {d}: no banks {key}")
        if nr["update"] == 0 or nr["insert"] == 0:
            raise RuntimeError(f"seed {seed} day {d}: rates lack updates or inserts")
        updated_yesterday = set(upd)
        out.append(Day(
            now=now,
            batch=batch,
            banks_html=fixtures.banks_html(list(page.items()), lastmod_text(now.date())),
            rates_html=fixtures.rates_html([(c, cur, r) for (c, cur), r in rates.items()],
                                           RATES_YEAR),
            expect_lines=summary_lines(nb, model.banks_total(), nr, len(model.rates)),
            expect_banks=model.current_banks(),
            expect_rates=model.current_rates(),
        ))
    return Seeded(salt, seed_banks, seed_rates, out)


# --- Spark side -----------------------------------------------------------


def _banks_frame(spark, seeded: Seeded, history: int):
    """Seeded world_bank_data: the day-0 current rows plus the inactive
    history, with surrogate ids 1..n."""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_world_banks_with_python_and_postgresql_spark import schemas

    cur = pd.DataFrame(
        [(i + 1, k, r["value"], r["lastmod"], r["batch"], r["created"], r["updated"],
          r["active"]) for i, (k, r) in enumerate(seeded.banks)],
        columns=schemas.WORLD_BANK_DATA.fieldNames(),
    )
    df = spark.createDataFrame(cur, schemas.WORLD_BANK_DATA)
    if history:
        hist = spark.range(history).select(
            (F.col("id") + len(seeded.banks) + 1).alias("world_bank_id"),
            F.format_string("Hist %07d", "id").alias("bank_name"),
            (((F.col("id") * 7919 + seeded.salt) % 100_000) / 100.0).alias("market_cap_usd"),
            F.lit(HIST_LASTMOD).alias("last_modified_date"),
            F.lit("history").alias("batch_id"),
            F.lit(HIST_CREATED).cast("timestamp").alias("created_at"),
            F.lit(HIST_UPDATED).cast("timestamp").alias("updated_at"),
            F.lit(False).alias("active"),
        )
        df = df.unionByName(hist)
    return df


def _rates_frame(spark, seeded: Seeded):
    import pandas as pd

    from etl_world_banks_with_python_and_postgresql_spark import schemas

    cur = pd.DataFrame(
        [(i + 1, c, cur_, r["value"], date(RATES_YEAR, 12, 31), r["batch"], r["created"],
          r["updated"]) for i, ((c, cur_), r) in enumerate(seeded.rates)],
        columns=schemas.EXCHANGES_RATES.fieldNames(),
    )
    return spark.createDataFrame(cur, schemas.EXCHANGES_RATES)


BANK_COLS = ["bank_name", "market_cap_usd", "last_modified_date", "batch_id",
             "created_at", "updated_at"]
RATE_COLS = ["country", "currency", "exchange_rate", "year", "batch_id", "created_at",
             "updated_at"]


def _rows(table, cols: list[str]) -> list[tuple]:
    """Sorted rows of an Arrow table; timestamps as naive UTC (the session
    time zone is UTC)."""
    data = [table.column(c).to_pylist() for c in cols]
    return sorted(
        tuple(v.replace(tzinfo=None) if isinstance(v, datetime) else v for v in row)
        for row in zip(*data)
    )


def warehouse_files(root: str) -> dict[tuple, int]:
    """(path, inode, mtime) -> size for every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[(os.path.join(d, f), st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


class RefreshWorkload:
    """Daily refreshes through ``pipeline.run_pipeline``, snapshot or
    incremental sink, each followed by a consumer read."""

    def __init__(self, shape: Shape, incremental: bool, compact_after: int,
                 nominal_op_s: float) -> None:
        self.shape = shape
        self.incremental = incremental
        self.compact_after = compact_after
        self.nominal_op_s = nominal_op_s

    def timed_ops(self, seconds: float) -> int:
        """Operations after the first, fixed by ``seconds`` and the workload
        only, so both sides of an A/B do the same work. The incremental sink
        runs whole compaction cycles: any ``compact_after`` consecutive
        refreshes hold exactly one compaction."""
        n = max(1, round(seconds / self.nominal_op_s))
        if self.incremental:
            c = self.compact_after
            n = c * max(1, round(n / c))
        return n

    def setup(self, spark, seed: int, seconds: float, work: str) -> dict:
        from etl_world_banks_with_python_and_postgresql_spark import schemas
        from etl_world_banks_with_python_and_postgresql_spark.sources import sinks
        from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
            IncrementalTable,
        )

        t0 = time.perf_counter()
        seeded = generate(self.shape, seed, 1 + self.timed_ops(seconds))
        self.days = seeded.days
        self.wh = os.path.join(work, "warehouse")
        self.banks_path = os.path.join(self.wh, "world_bank_data")
        self.rates_path = os.path.join(self.wh, "exchanges_rates")
        pages = os.path.join(work, "pages")
        os.makedirs(pages)
        self.page_bytes = []
        for i, day in enumerate(self.days):
            day.banks_path = os.path.join(pages, f"banks-{i + 1}.html")
            day.rates_path = os.path.join(pages, f"rates-{i + 1}.html")
            for path, text in ((day.banks_path, day.banks_html),
                               (day.rates_path, day.rates_html)):
                with open(path, "w", encoding="utf-8") as f:
                    f.write(text)
            day.banks_html = day.rates_html = None
            self.page_bytes.append(os.path.getsize(day.banks_path)
                                   + os.path.getsize(day.rates_path))
        t1 = time.perf_counter()

        def seed_table(df, path, id_col, schema):
            if self.incremental:
                t = IncrementalTable(path, id_col=id_col, compact_after=self.compact_after)
                t.write_delta(df)
                t.compact(spark, schema)
                t.vacuum()
            else:
                sinks.write_snapshot(df, path, target_files=4)

        # the two targets share nothing, so they are seeded side by side, as
        # the pipeline runs its two table legs
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [
                pool.submit(seed_table, _banks_frame(spark, seeded, self.shape.history),
                            self.banks_path, "world_bank_id", schemas.WORLD_BANK_DATA),
                pool.submit(seed_table, _rates_frame(spark, seeded), self.rates_path,
                            "exchange_rate_id", schemas.EXCHANGES_RATES),
            ]
            for f in futures:
                f.result()
        return {
            "banks_rows_per_page": self.shape.banks,
            "rates_rows_per_page": self.shape.rates,
            "page_bytes_first": self.page_bytes[0],
            "page_bytes_last": self.page_bytes[-1],
            "seeded_banks_rows": len(seeded.banks) + self.shape.history,
            "seeded_rates_rows": len(seeded.rates),
            "ops": len(self.days),
            "compact_after": self.compact_after if self.incremental else None,
            "setup_phases_s": {"generate": t1 - t0, "seed_target": time.perf_counter() - t1},
        }

    def n_ops(self) -> int:
        return len(self.days)

    def _tables(self, spark):
        """(banks, rates) current frames of both committed tables."""
        from etl_world_banks_with_python_and_postgresql_spark import schemas
        from etl_world_banks_with_python_and_postgresql_spark.sources import sinks
        from etl_world_banks_with_python_and_postgresql_spark.sources.incremental import (
            IncrementalTable,
        )

        out = []
        for path, id_col, schema in (
            (self.banks_path, "world_bank_id", schemas.WORLD_BANK_DATA),
            (self.rates_path, "exchange_rate_id", schemas.EXCHANGES_RATES),
        ):
            if self.incremental:
                out.append(IncrementalTable(path, id_col, self.compact_after).read(spark, schema))
            else:
                out.append(sinks.read_snapshot(spark, path, schema))
        return out

    def read_current(self, spark):
        """The consumer read: current rows of both committed tables, fully
        materialized through Arrow."""
        banks, rates = self._tables(spark)
        return banks.filter("active").toArrow(), rates.toArrow()

    def run_op(self, spark, i: int, cpu, tracer=None) -> dict:
        """Refresh ``i`` (0-based) and the consumer read after it. Returns
        timings, CPU seconds (``cpu()`` before and after), bytes written and
        the output-check errors."""
        from etl_world_banks_with_python_and_postgresql_spark import pipeline

        day = self.days[i]
        cfg = pipeline.PipelineConfig(
            banks_source=day.banks_path, rates_source=day.rates_path,
            target_dir=self.wh, batch_id=day.batch, now=day.now,
            incremental=self.incremental, compact_after=self.compact_after,
        )
        before = warehouse_files(self.wh)
        cpu0 = cpu()
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(spark, cfg)
        op_s = time.perf_counter() - t0
        written = sum(size for k, size in warehouse_files(self.wh).items() if k not in before)
        t0 = time.perf_counter()
        if tracer is None:
            banks, rates = self.read_current(spark)
        else:
            with tracer.span("bench.read"):
                banks, rates = self.read_current(spark)
        read_s = time.perf_counter() - t0
        cpu_s = cpu() - cpu0
        errors = []
        if res.summary_lines != day.expect_lines:
            errors.append(f"summary {res.summary_lines} != {day.expect_lines}")
        for name, table, cols, expect in (("banks", banks, BANK_COLS, day.expect_banks),
                                          ("rates", rates, RATE_COLS, day.expect_rates)):
            got = _rows(table, cols)
            if got != expect:
                diff = next((a, b) for a, b in itertools.zip_longest(got, expect)
                            if a != b)
                errors.append(f"{name}: {len(got)} current rows, expected {len(expect)}; "
                              f"first difference {diff}")
        return {"op_s": op_s, "read_s": read_s, "cpu_s": cpu_s,
                "write_amp": written / self.page_bytes[i], "errors": errors}

    def finish(self, spark, work: str) -> dict:
        """Untimed end-of-run measures: space amplification against the
        final state rewritten once with fixed settings."""
        rewrite = os.path.join(work, "rewrite")
        for name, df in zip(("banks", "rates"), self._tables(spark)):
            df.coalesce(1).write.mode("overwrite").option("compression", "snappy").parquet(
                os.path.join(rewrite, name)
            )
        state_bytes = sum(warehouse_files(rewrite).values())
        out = {"space_amp": sum(warehouse_files(self.wh).values()) / state_bytes}
        if self.incremental:
            from etl_world_banks_with_python_and_postgresql_spark.committer import load_json

            out["pending_deltas"] = sum(
                len(load_json(os.path.join(p, "_manifest.json"))[0]["deltas"])
                for p in (self.banks_path, self.rates_path)
            )
        return out
