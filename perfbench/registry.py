"""Registry workload: a fixed-order pass over registry entries on the
repository's sf0.01 test tables, each result fully materialized through
Arrow and checked against its committed DuckDB oracle digest.

The tables under ``testdata/sf0.01`` are a byte-for-byte copy of the
repository's deterministic sf0.01 test data (seed 42), kept here so a run
reads nothing outside its checkout. They do not depend on ``--seed``.
``digests.json`` holds the oracle digest of every entry on them; after a
change to an entry's oracle, rewrite it with

    python3 perfbench/registry.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import struct
import sys
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "testdata", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")

# Fixed order: SHARED_24 entries of bench.py covering the plans families the
# rest miss, then the nine at-rest index and iterative entries the
# ROADMAP's index and convergence work will rework. The rest of SHARED_24
# is left out to keep one run inside the benchmark's time budget
# (BASELINE.md).
ENTRIES = (
    "q01_pricing_summary",
    "q26_scd_classify",
    "q06_forecast_revenue",
    "q25_sessionize",
    "q37_text_fingerprint",
    "z114_minhash_index_build",
    "z115_minhash_index_probe",
    "z128_bm25_indexed",
    "z129_phrase_search_indexed",
    "z130_ivfpq_index_probe",
    "z151_winnow_index_build",
    "z152_winnow_index_probe",
    "z132_pagerank",
    "z147_connected_components",
)

# probe entries whose at-rest index lives in a cwd-relative cache
# (plans/base.cached_index); the untimed warm pass builds those caches
INDEXED = (
    "z115_minhash_index_probe",
    "z128_bm25_indexed",
    "z129_phrase_search_indexed",
    "z130_ivfpq_index_probe",
    "z152_winnow_index_probe",
)

def _norm(v):
    """Cell normalization of the repository's oracle mirror: floats by exact
    IEEE bits, small ints lifted to doubles, timestamps as naive UTC."""
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else ("f", struct.pack(">d", v + 0.0).hex())
    if isinstance(v, int):
        return ("f", struct.pack(">d", float(v)).hex()) if abs(v) < 2**52 else ("i", v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        return str(v.astimezone(timezone.utc).replace(tzinfo=None))
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive, column-name-sorted digest of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digests(data_dir: str, names) -> dict[str, str]:
    import duckdb

    from etl_world_banks_with_python_and_postgresql_spark.plans.queries import REGISTRY
    from etl_world_banks_with_python_and_postgresql_spark.sources.catalog import TABLE_NAMES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for n in names:
            res = con.execute(REGISTRY[n].oracle)
            out[n] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def arrow_digest(table) -> str:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return digest(cols, list(zip(*data)) if data else [])


class RegistryWorkload:
    """Fixed-order passes over ``ENTRIES``: the first entry once as the
    first operation, then the timed phase of ``passes`` whole passes."""

    def __init__(self, nominal_pass_s: float) -> None:
        self.nominal_pass_s = nominal_pass_s

    def setup(self, spark, seed: int, seconds: float, work: str) -> dict:
        """Load the committed oracle digests, then run the untimed warm
        pass: one call of each probe entry, which builds its cached index.
        The five calls share nothing (each index has its own cache
        directory), so they run side by side, one thread each. The warm
        pass counts in ``setup_s``; the record gives its time and each
        call's."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        from etl_world_banks_with_python_and_postgresql_spark.plans.queries import REGISTRY
        from etl_world_banks_with_python_and_postgresql_spark.sources.catalog import TABLE_NAMES

        with open(DIGESTS) as f:
            self.expect = json.load(f)
        self.passes = max(1, round(seconds / self.nominal_pass_s))
        self.data = DATA
        self.fns = {n: REGISTRY[n].fn for n in ENTRIES}
        self.families = {n: REGISTRY[n].fn.__module__.rsplit(".", 1)[-1] for n in ENTRIES}

        def warm(name):
            t0 = time.perf_counter()
            self.fns[name](spark, self.data).toArrow()
            return time.perf_counter() - t0

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(INDEXED)) as pool:
            calls = dict(zip(INDEXED, pool.map(warm, INDEXED)))
        warm_s = time.perf_counter() - t0
        # the first operation, in the cold JVM, is the first entry; the
        # timed phase is then whole passes over every entry
        self.ops = [ENTRIES[0]] + list(ENTRIES) * self.passes
        rows = {t: pq.read_metadata(os.path.join(DATA, f"{t}.parquet")).num_rows
                for t in TABLE_NAMES}
        return {"data": "perfbench/testdata/sf0.01 (fixed, seed-independent)",
                "table_rows": rows, "entries": len(ENTRIES), "passes": self.passes,
                "ops": len(self.ops),
                "setup_phases_s": {"warm_pass": warm_s, "warm_calls": calls}}

    def n_ops(self) -> int:
        return len(self.ops)

    def finish(self, spark, work: str) -> dict:
        return {}

    def run_op(self, spark, i: int, cpu, tracer=None) -> dict:
        name = self.ops[i]
        cpu0 = cpu()
        t0 = time.perf_counter()
        if tracer is None:
            table = self.fns[name](spark, self.data).toArrow()
        else:
            with tracer.span(f"entry.{name}") as rec:
                table = self.fns[name](spark, self.data).toArrow()
            rec["family"] = self.families[name]
        op_s = time.perf_counter() - t0
        cpu_s = cpu() - cpu0
        errors = []
        got = arrow_digest(table)
        if got != self.expect[name]:
            errors.append(f"{name}: digest differs from the DuckDB oracle")
        return {"op_s": op_s, "cpu_s": cpu_s, "name": name, "errors": errors}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    with open(DIGESTS, "w") as f:
        json.dump(oracle_digests(DATA, ENTRIES), f, indent=1)
        f.write("\n")
    print(f"wrote {DIGESTS}")
