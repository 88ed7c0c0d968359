"""Traced-run tooling: spans around the package's public functions, per-thread
Spark job tags, and the Spark event-log parser.

Spans are recorded from this file only, by wrapping module attributes of the
package for the duration of one traced run (``Tracer.install`` /
``Tracer.uninstall``); nothing in the package itself changes. Each span sets
the Spark job group of the calling thread to ``perfbench-span-<id>`` (Spark
local properties are per thread), so every job it submits carries that id
into the event log. Lazy plans run inside whichever call forces them, so
Spark work is attributed to the span that submitted the job, not to the call
that built the plan.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "spark.jobGroup.id"  # the property SparkContext.setJobGroup sets
SPAN_PREFIX = "perfbench-span-"

# pipeline.run_pipeline submits its two table legs to a thread pool as the
# closures ``banks_leg`` and ``rates_leg``; the traced pool names them
LEG_SPANS = {"banks_leg": "pipeline.leg_banks", "rates_leg": "pipeline.leg_rates"}

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "planning_s",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _file_count(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


class Tracer:
    """Span recorder. ``sc`` (a SparkContext) enables job tagging."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """One span: name, start, end, parent and thread. ``parent``
        defaults to the innermost open span of the calling thread; pass it
        explicitly when the work runs in another thread."""
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(SPAN_PROP)
            self.sc.setLocalProperty(SPAN_PROP, f"{SPAN_PREFIX}{sid}")
        stack.append(sid)
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append(rec)

    # --- wrapping -------------------------------------------------------

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap(self, owners, attr: str, name: str, after=None) -> None:
        """Replace ``attr`` on every owner (modules that imported the
        function by name, or a class) with one span-recording wrapper.
        ``after(rec, args, kwargs)`` may add counters once the call returns."""
        fn = getattr(owners[0], attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs)
                return out

        wrapper.__name__ = getattr(fn, "__name__", attr)
        wrapper.__doc__ = getattr(fn, "__doc__", None)
        for owner in owners:
            self._set(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public functions of every traced layer."""
        import concurrent.futures as cf

        from etl_world_banks_with_python_and_postgresql_spark import committer, pipeline
        from etl_world_banks_with_python_and_postgresql_spark.operators import merge
        from etl_world_banks_with_python_and_postgresql_spark.sources import (
            html_table,
            incremental,
            sinks,
        )

        IT = incremental.IncrementalTable

        def snapshot_bytes(rec, args, kwargs):
            rec["bytes"] = _dir_bytes(args[1] if len(args) > 1 else kwargs["path"])

        def delta_bytes(rec, args, kwargs):
            table = args[0]
            m, _ = committer.load_json(os.path.join(table.path, "_manifest.json"))
            rec["bytes"] = _dir_bytes(os.path.join(table.path, m["deltas"][-1]))

        self.wrap([html_table], "parse_html", "html_table.parse_html")
        self.wrap([html_table], "read_html_table", "html_table.read_html_table")
        self.wrap([html_table], "read_text_source", "html_table.read_text_source")
        self.wrap([merge, pipeline], "merge_scd", "merge.merge_scd")
        self.wrap([merge, pipeline], "deactivate_stale", "merge.deactivate_stale")
        self.wrap([sinks], "write_snapshot", "sinks.write_snapshot", snapshot_bytes)
        self.wrap([sinks], "read_snapshot", "sinks.read_snapshot")
        self.wrap([sinks], "snapshot_row_count", "sinks.footer_read")
        self.wrap([sinks], "snapshot_column_max", "sinks.footer_read")
        self._wrap_append_log(sinks)
        self.wrap([IT], "merge_batch", "incremental.merge_batch")
        self.wrap([IT], "write_delta", "incremental.write_delta", delta_bytes)
        self.wrap([IT], "compact", "incremental.compact")
        self.wrap([IT], "read", "incremental.read")
        self.wrap([IT], "vacuum", "incremental.vacuum")
        self.wrap([committer, incremental], "commit_json", "committer.commit_json")
        self.wrap([pipeline], "extract_world_bank_data", "pipeline.extract_banks")
        self.wrap([pipeline], "extract_exchange_rates_data", "pipeline.extract_rates")
        self.wrap([pipeline], "run_pipeline", "pipeline.run_pipeline")
        self._set(cf, "ThreadPoolExecutor", self._traced_pool(cf.ThreadPoolExecutor))

    def _wrap_append_log(self, sinks) -> None:
        """append_log records the files one call adds, so its wrapper counts
        them before the call too."""
        fn = sinks.append_log
        tracer = self

        def append_log(df, path):
            with tracer.span("sinks.append_log") as rec:
                before = _file_count(path)
                fn(df, path)
                rec["files"] = _file_count(path) - before

        self._set(sinks, "append_log", append_log)

    def _traced_pool(self, base):
        """A ThreadPoolExecutor whose submit opens a leg span in the worker
        thread, parented to the submitting thread's open span. Spark local
        properties are per thread, so the leg's jobs are tagged there."""
        tracer = self

        class TracedPool(base):
            def submit(self, fn, /, *args, **kwargs):
                name = LEG_SPANS.get(getattr(fn, "__name__", ""))
                if name is None:
                    return super().submit(fn, *args, **kwargs)
                parent = tracer.current()

                def run():
                    with tracer.span(name, parent=parent):
                        return fn(*args, **kwargs)

                return super().submit(run)

        return TracedPool

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


# --- span arithmetic ------------------------------------------------------


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """The root span and every descendant, in recording order."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(k["id"] for k in kids[sid])
    return out


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time per span name over the root's subtree: each span's
    duration minus the union of its children's intervals. The root's own
    self time is reported under its name."""
    tree = subtree(spans, root_id)
    kids = defaultdict(list)
    for s in tree:
        kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in tree:
        out[s["name"]] += s["end"] - s["start"] - union_length(kids[s["id"]])
    return dict(out)


# --- event log ------------------------------------------------------------


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Spark metrics per span id from an uncompressed, non-rolling event
    log. Jobs carry the span as their job group; stages and tasks inherit
    it from the job that listed them first. Planning time of a SQL
    execution runs from its start event to its first job's submission and
    goes to that job's span. Jobs outside any span land under ``""``."""
    job_tag: dict[int, str] = {}
    stage_tag: dict[int, str] = {}
    exec_start: dict[int, int] = {}
    exec_first_job: dict[int, tuple[int, str]] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_METRICS, 0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get(SPAN_PROP) or ""
                tag = group[len(SPAN_PREFIX):] if group.startswith(SPAN_PREFIX) else ""
                job_tag[ev["Job ID"]] = tag
                acc[tag]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_tag.setdefault(sid, tag)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    eid = int(eid)
                    t = ev["Submission Time"]
                    if eid not in exec_first_job or t < exec_first_job[eid][0]:
                        exec_first_job[eid] = (t, tag)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                acc[stage_tag.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                a = acc[tag]
                a["tasks"] += 1
                a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                a["peak_exec_mem_bytes"] = max(
                    a["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_start[ev["executionId"]] = ev["time"]
    for eid, (t_job, tag) in exec_first_job.items():
        if eid in exec_start:
            acc[tag]["planning_s"] += max(0, t_job - exec_start[eid]) / 1e3
    return {k: dict(v) for k, v in acc.items()}


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def spark_totals(per_tag: dict[str, dict[str, float]], tags) -> dict[str, float]:
    """Sum (max for peak memory) of the Spark metrics over ``tags``."""
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    for t in tags:
        m = per_tag.get(t)
        if m is None:
            continue
        for k in SPARK_METRICS:
            out[k] = max(out[k], m[k]) if k == "peak_exec_mem_bytes" else out[k] + m[k]
    return out
