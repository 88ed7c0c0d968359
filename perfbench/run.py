"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run is one fresh process with one fresh
Spark session (``local[nproc]``) and one closed-loop client: the next
operation is issued when the previous one returns. Everything the run
writes lives under ``.perfbench/`` in the repository root; the run's own
working directory there is removed at the end, and a traced run keeps its
spans and per-span Spark metrics under ``.perfbench/traces/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The ``#`` lines above it describe the run (effective Spark
conf, versions, seed, input sizes) and print every metric by name and unit,
including the ones that apply to some workloads only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_world_banks_with_python_and_postgresql_spark"
WORKLOADS = ("refresh_reference", "refresh_large", "refresh_incremental", "registry_mix")

# the end-to-end metrics every workload reports (BENCHMARK.json end_to_end);
# the others a run prints are per-layer metrics (layers.UNITS): they apply
# to refresh workloads only, or are too unsteady on a shared host to gate.
# Wall times move with the hypervisor's steal far more than CPU time does,
# so the timed phase is gated by its CPU seconds (BASELINE.md)
E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user and system, reaped children included) of this
    process, of ``pid`` and of every process under it."""
    ticks = 0
    for p in {os.getpid(), pid} | descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def heap_size() -> str:
    """JVM heap sized to the host: a quarter of RAM, 2 to 8 GB (the
    session's 16g default is all of a 16 GB host)."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(2, min(8, total_kb // (4 * 1024 * 1024)))}g"


def percentile_tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile with at least ten
    samples beyond it; None with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    k = n - 11
    return sorted(values)[k], 100.0 * k / (n - 1), n


def make_workload(name: str):
    import refresh
    import registry

    if name == "refresh_reference":
        return refresh.RefreshWorkload(refresh.REFERENCE, False, 8, nominal_op_s=3.0)
    if name == "refresh_large":
        return refresh.RefreshWorkload(refresh.LARGE, False, 8, nominal_op_s=6.0)
    if name == "refresh_incremental":
        return refresh.RefreshWorkload(refresh.LARGE, True, 2, nominal_op_s=6.0)
    return registry.RegistryWorkload(nominal_pass_s=24.0)


def start_spark(work: str, trace: bool):
    from etl_world_banks_with_python_and_postgresql_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(extra_conf=extra)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    for all of them to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args) -> dict:
    import layers
    from spans import Tracer, find_event_log, parse_event_log

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.chdir(work)  # plans/base.cached_index writes cwd-relative caches
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),  # what nproc prints
        SPARK_GRAFT_DRIVER_MEM=heap_size(),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        TZ="UTC",
    )
    time.tzset()
    spark = None
    try:
        wl = make_workload(args.workload)
        t0 = time.perf_counter()
        spark = start_spark(work, args.trace)
        session_s = time.perf_counter() - t0
        inputs = wl.setup(spark, args.seed, args.seconds, work)
        tracer = None
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            tracer.install()
        setup_s = process_age_s()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        results, failed = [], 0
        steal0 = steal_s()
        for i in range(wl.n_ops()):
            try:
                r = wl.run_op(spark, i, lambda: tree_cpu_s(jvm_pid), tracer)
            except Exception as exc:  # an operation failure ends the run
                print(f"# op {i} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                failed += 1
                break
            if r["errors"]:
                failed += 1
                for e in r["errors"]:
                    print(f"# op {i} output check failed: {e}", file=sys.stderr)
            results.append(r)
        steal = steal_s() - steal0
        if tracer is not None:
            tracer.uninstall()
        end = wl.finish(spark, work) if results else {}
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024
        conf = dict(spark.sparkContext.getConf().getAll())
        versions = {
            "spark": spark.version,
            "python": sys.version.split()[0],
            "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
        }
    finally:
        if spark is not None:
            stop_spark(spark)
    attempted = len(results) + (1 if len(results) < wl.n_ops() else 0)
    timed = results[1:]
    ops = [r["op_s"] for r in timed]
    metrics = {
        "setup_s": setup_s,
        "first_op_s": results[0]["op_s"] if results else 0.0,
        "wall_s": sum(r["op_s"] + r.get("read_s", 0.0) for r in timed),
        "op_p50_s": statistics.median(ops) if ops else 0.0,
        "cpu_s": sum(r["cpu_s"] for r in timed),
        "peak_rss_mb": rss_mb,
        "failed_frac": failed / attempted,
    }
    if timed and "read_s" in timed[0]:
        metrics["read_p50_s"] = statistics.median(r["read_s"] for r in timed)
        metrics["write_amp"] = statistics.median(r["write_amp"] for r in timed)
        metrics["space_amp"] = end["space_amp"]
    tail = percentile_tail(ops)
    if tail is not None:
        metrics["op_tail_s"] = tail[0]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "session_start_s": session_s,
        "op_tail": None if tail is None else {"percentile": tail[1], "samples": tail[2]},
        "op_s": [round(r["op_s"], 4) for r in results],
        "op_cpu_s": [round(r["cpu_s"], 2) for r in results],
        "host_steal_s": round(steal, 2),
        "inputs": inputs,
        "versions": versions,
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if not k.startswith(("spark.app", "spark.driver.port"))},
        "env": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }
    out = {"record": record, "metrics": metrics, "attempted": attempted, "failed": failed,
           "correct": failed == 0}
    if args.trace:
        per_span = parse_event_log(find_event_log(os.path.join(work, "eventlog")))
        per_layer, check = layers.per_layer(tracer.spans, per_span, metrics, end, session_s)
        out["per_layer"] = per_layer
        out["self_time_check"] = check
        out["correct"] = out["correct"] and check["ok"]
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"record": record, "spans": tracer.spans, "spark_per_span": per_span,
                       "self_times": layers.self_time_table(tracer.spans),
                       "per_layer": per_layer, "self_time_check": check}, f, indent=1)
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    out = run(args)
    from layers import UNITS

    print("# run " + json.dumps(out["record"], default=str))
    units = E2E_UNITS | UNITS
    tail = out["record"]["op_tail"]
    for k, v in out["metrics"].items():
        beside = ""
        if k == "op_tail_s":
            beside = f" (p{tail['percentile']:.0f}, {tail['samples']} samples)"
        print(f"# e2e {k} = {v:.6g} {units[k]}{beside}")
    if args.trace:
        for k, v in out["per_layer"].items():
            print(f"# layer {k} = {v:.6g} {UNITS[k]}")
        print("# self-time check " + json.dumps(out["self_time_check"]))
        chosen = out["per_layer"]
    else:
        chosen = {k: out["metrics"][k] for k in E2E_UNITS}
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
