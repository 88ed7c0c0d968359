"""Per-layer metrics of a traced run, assembled from spans and the event log.

Refresh workloads report each metric per refresh, averaged over the timed
refreshes (the cold first one is ``first_op_s``); only spans under a
``pipeline.run_pipeline`` span count, so the benchmark's own consumer reads
stay out. The registry workload reports per pass over its entries, leaving
out the cold first call. A layer the workload never calls reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from registry import ENTRIES
from spans import SPARK_METRICS, self_times, spark_totals, subtree

FAMILIES = ("relational", "analytic", "scd", "dedup_sim", "textprep", "timeseries")

# per-layer metric -> (span name, what to sum: "s" duration, "n" calls, or
# a span attribute)
SPAN_METRICS = {
    "html_table.parse_calls": ("html_table.parse_html", "n"),
    "html_table.parse_s": ("html_table.parse_html", "s"),
    "html_table.read_table_s": ("html_table.read_html_table", "s"),
    "merge.merge_scd_s": ("merge.merge_scd", "s"),
    "merge.deactivate_stale_s": ("merge.deactivate_stale", "s"),
    "sinks.write_snapshot_s": ("sinks.write_snapshot", "s"),
    "sinks.write_snapshot_bytes": ("sinks.write_snapshot", "bytes"),
    "sinks.read_snapshot_s": ("sinks.read_snapshot", "s"),
    "sinks.footer_read_s": ("sinks.footer_read", "s"),
    "sinks.append_log_s": ("sinks.append_log", "s"),
    "sinks.append_log_files": ("sinks.append_log", "files"),
    "incremental.merge_batch_s": ("incremental.merge_batch", "s"),
    "incremental.write_delta_s": ("incremental.write_delta", "s"),
    "incremental.write_delta_bytes": ("incremental.write_delta", "bytes"),
    "incremental.compact_s": ("incremental.compact", "s"),
    "incremental.compactions": ("incremental.compact", "n"),
    "incremental.read_s": ("incremental.read", "s"),
    "committer.commits": ("committer.commit_json", "n"),
    "committer.commit_s": ("committer.commit_json", "s"),
    "committer.cas_conflicts": ("committer.commit_json", "conflict"),
    "pipeline.run_pipeline_s": ("pipeline.run_pipeline", "s"),
    "pipeline.leg_banks_s": ("pipeline.leg_banks", "s"),
    "pipeline.leg_rates_s": ("pipeline.leg_rates", "s"),
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


UNITS = {"session.start_s": "s"}
UNITS |= {k: _unit(k) for k in SPAN_METRICS}
UNITS |= {"incremental.pending_deltas": "count", "pipeline.unattributed_s": "s"}
UNITS |= {f"spark.{k}": _unit(k) for k in SPARK_METRICS}
UNITS |= {f"plans.{f}_s": "s" for f in FAMILIES}
UNITS |= {f"entry.{n}_s": "s" for n in ENTRIES}
# figures of the timed run that are not gated end to end (see run.py); like
# every per-layer figure they come from the traced run, so the traced wall_s
# minus the untraced one is the tracing cost
_RUN_FIGURES = ("first_op_s", "wall_s", "op_p50_s", "read_p50_s", "write_amp", "space_amp",
                "op_tail_s", "failed_frac")
UNITS |= {k: "ratio" if k in ("write_amp", "space_amp", "failed_frac") else "s"
          for k in _RUN_FIGURES}

# reported per refresh rather than summed over the run
_PER_OP = tuple(SPAN_METRICS) + ("pipeline.unattributed_s",)


def _value(span: dict, what: str) -> float:
    if what == "s":
        return span["end"] - span["start"]
    if what == "n":
        return 1.0
    if what == "conflict":
        return 1.0 if span.get("error") == "ConcurrentCommitError" else 0.0
    return float(span.get(what, 0))


def leg_overlap(tree: list[dict]) -> float:
    """Seconds during which both table legs of one refresh were running."""
    legs = [s for s in tree if s["name"] in ("pipeline.leg_banks", "pipeline.leg_rates")]
    if len(legs) != 2:
        return 0.0
    a, b = legs
    return max(0.0, min(a["end"], b["end"]) - max(a["start"], b["start"]))


def per_layer(spans: list[dict], spark_by_span: dict, metrics: dict, end: dict,
              session_s: float) -> tuple[dict[str, float], dict]:
    """(per-layer metrics, self-time check) for one traced run.

    The check: per refresh, the self times of every span name plus
    ``pipeline.unattributed_s`` (the root's self time) must add up to
    ``pipeline.run_pipeline_s`` plus the time both legs ran at once, the one
    stretch that two innermost spans share. It fails if a span lies outside
    its parent, if a span is parented across threads other than the two
    legs, or if the legs' own spans are misplaced."""
    out = dict.fromkeys(UNITS, 0.0)
    out["session.start_s"] = session_s
    for k in _RUN_FIGURES:
        out[k] = metrics.get(k, 0.0)
    out["incremental.pending_deltas"] = end.get("pending_deltas", 0)

    # the first refresh and the first registry entry run in the cold JVM
    # (first_op_s); every per-layer figure is a warm one
    refreshes = [s for s in spans if s["name"] == "pipeline.run_pipeline"][1:]
    entries = [s for s in spans if s["name"].startswith("entry.")][1:]
    residuals, spark_ids, strays = [], [], 0
    by_id = {s["id"]: s for s in spans}
    for root in refreshes:
        tree = subtree(spans, root["id"])
        strays += sum(1 for s in tree[1:] if s["start"] < by_id[s["parent"]]["start"]
                      or s["end"] > by_id[s["parent"]]["end"])
        spark_ids += [str(s["id"]) for s in tree]
        for metric, (name, what) in SPAN_METRICS.items():
            out[metric] += sum(_value(s, what) for s in tree if s["name"] == name)
        st = self_times(spans, root["id"])
        unattributed = st.pop("pipeline.run_pipeline", 0.0)
        out["pipeline.unattributed_s"] += unattributed
        run_s = root["end"] - root["start"]
        residuals.append(abs(sum(st.values()) + unattributed - run_s - leg_overlap(tree)))
    if refreshes:
        for k in _PER_OP:
            out[k] /= len(refreshes)
    # each entry is the mean of its warm calls; a family is the sum of its
    # entries, so plans.* is per pass
    calls: dict[str, list[float]] = defaultdict(list)
    family = {}
    for root in entries:
        spark_ids += [str(s["id"]) for s in subtree(spans, root["id"])]
        calls[root["name"]].append(root["end"] - root["start"])
        family[root["name"]] = root["family"]
    for name, durs in calls.items():
        mean = sum(durs) / len(durs)
        out[f"{name}_s"] = mean
        out[f"plans.{family[name]}_s"] += mean
    totals = spark_totals(spark_by_span, spark_ids)
    per = len(refreshes) or len(entries) / len(ENTRIES)  # refreshes, or passes
    for k in SPARK_METRICS:
        out[f"spark.{k}"] = totals[k] / per if per and k != "peak_exec_mem_bytes" else totals[k]
    worst = max(residuals, default=0.0)
    check = {"refreshes": len(refreshes), "max_residual_s": worst, "stray_spans": strays,
             "ok": worst < 1e-6 and strays == 0}
    return out, check


def self_time_table(spans: list[dict]) -> dict[str, float]:
    """Self time per span name summed over the timed refreshes, for the
    trace file (the per-layer metrics are inclusive times; the self-time
    check runs on these)."""
    acc: dict[str, float] = defaultdict(float)
    for root in [s for s in spans if s["name"] == "pipeline.run_pipeline"][1:]:
        for k, v in self_times(spans, root["id"]).items():
            acc[k] += v
    return dict(acc)
