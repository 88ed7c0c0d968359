"""Unit tests of the traced-run tooling (the event-log parser, span
recording across threads, self times, the per-layer check), of the
refresh input generator and of the committed registry digests.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import refresh  # noqa: E402
import registry  # noqa: E402
from registry import ENTRIES  # noqa: E402
from spans import Tracer, parse_event_log, self_times, spark_totals  # noqa: E402


def test_parse_event_log_attributes_by_job_group():
    got = parse_event_log(os.path.join(HERE, "eventlog_small.json"))
    assert set(got) == {"7", "9", ""}
    a = got["7"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 3, 4)
    assert a["task_run_s"] == pytest.approx(0.47)
    assert a["task_cpu_s"] == pytest.approx(0.3)
    assert a["gc_s"] == pytest.approx(0.015)
    assert a["shuffle_write_bytes"] == 1200
    assert a["shuffle_read_bytes"] == 1200
    assert a["spill_bytes"] == 96
    assert a["peak_exec_mem_bytes"] == 4096
    # execution 0 starts at 1000 ms and submits its first job at 1250 ms
    assert a["planning_s"] == pytest.approx(0.25)
    assert got["9"]["planning_s"] == pytest.approx(0.1)
    # a job outside any span is kept apart
    assert got[""]["jobs"] == 1 and got[""]["planning_s"] == 0


def test_spark_totals_sums_and_takes_peak_max():
    got = parse_event_log(os.path.join(HERE, "eventlog_small.json"))
    t = spark_totals(got, ["7", "9", "404"])
    assert t["jobs"] == 3 and t["tasks"] == 5
    assert t["peak_exec_mem_bytes"] == 4096


def test_spans_nest_per_thread_and_parent_across_threads():
    tr = Tracer()
    with tr.span("root") as root:
        with tr.span("child"):
            pass

        def leg():
            with tr.span("leg", parent=root["id"]):
                with tr.span("inner"):
                    pass

        t = threading.Thread(target=leg)
        t.start()
        t.join()
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["child"]["parent"] == root["id"]
    assert by_name["leg"]["parent"] == root["id"]
    assert by_name["inner"]["parent"] == by_name["leg"]["id"]
    assert by_name["leg"]["thread"] != by_name["root"]["thread"]


def _span(sid, name, parent, start, end):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end}


def test_self_times_subtract_the_union_of_children():
    spans = [
        _span(1, "pipeline.run_pipeline", None, 0.0, 10.0),
        _span(2, "pipeline.leg_banks", 1, 1.0, 9.0),
        _span(3, "pipeline.leg_rates", 1, 1.0, 5.0),
        _span(4, "merge.merge_scd", 2, 2.0, 4.0),
    ]
    st = self_times(spans, 1)
    assert st == pytest.approx({"pipeline.run_pipeline": 2.0, "pipeline.leg_banks": 6.0,
                                "pipeline.leg_rates": 4.0, "merge.merge_scd": 2.0})
    # the legs overlap for 4 s, so the self times exceed the root by that
    assert sum(st.values()) == pytest.approx(10.0 + 4.0)
    assert layers.leg_overlap(spans) == pytest.approx(4.0)


def _refreshes(extra):
    """Three refreshes with overlapping legs; ``extra(k, base, t0)`` adds
    spans to refresh ``k``."""
    spans = []
    for k, t0 in enumerate((0.0, 100.0, 200.0)):
        base = 10 * k
        spans += [
            _span(base + 1, "pipeline.run_pipeline", None, t0, t0 + 4.0),
            _span(base + 2, "pipeline.leg_banks", base + 1, t0 + 0.2, t0 + 3.0),
            _span(base + 3, "pipeline.leg_rates", base + 1, t0 + 0.3, t0 + 2.5),
            _span(base + 4, "html_table.parse_html", base + 2, t0 + 0.5, t0 + 1.0),
            _span(base + 5, "html_table.parse_html", base + 3, t0 + 1.0, t0 + 1.5),
        ] + extra(k, base, t0)
    return spans


def test_self_time_check_accounts_for_the_leg_overlap():
    _, check = layers.per_layer(_refreshes(lambda *a: []), {}, {"wall_s": 8.0}, {}, 5.0)
    assert check["ok"] and check["max_residual_s"] < 1e-9

    # a third concurrent span under the root is time the check cannot place
    def third(k, base, t0):
        return [_span(base + 6, "sinks.append_log", base + 1, t0 + 0.4, t0 + 0.9)]

    _, check = layers.per_layer(_refreshes(third), {}, {"wall_s": 8.0}, {}, 5.0)
    assert not check["ok"] and check["max_residual_s"] == pytest.approx(0.5)
    assert check["stray_spans"] == 0


def test_per_layer_counts_timed_refreshes_and_checks_nesting():
    spans = []
    for k, t0 in enumerate((0.0, 100.0, 200.0)):
        base = 10 * k
        spans += [
            _span(base + 1, "pipeline.run_pipeline", None, t0, t0 + 4.0),
            _span(base + 2, "html_table.parse_html", base + 1, t0 + 0.5, t0 + 1.0),
            _span(base + 3, "html_table.parse_html", base + 1, t0 + 1.0, t0 + 1.5),
        ]
    metrics = {"wall_s": 8.0}
    out, check = layers.per_layer(spans, {}, metrics, {}, session_s=5.0)
    # the first refresh is the cold one; two timed refreshes remain
    assert check["refreshes"] == 2 and check["ok"] and check["max_residual_s"] < 1e-9
    assert out["html_table.parse_calls"] == 2
    assert out["html_table.parse_s"] == pytest.approx(1.0)
    assert out["pipeline.run_pipeline_s"] == pytest.approx(4.0)
    assert out["pipeline.unattributed_s"] == pytest.approx(3.0)
    assert set(out) == set(layers.UNITS)

    spans.append(_span(99, "sinks.append_log", 21, 203.0, 205.0))  # outlives parent
    _, check = layers.per_layer(spans, {}, metrics, {}, session_s=5.0)
    assert check["stray_spans"] == 1 and not check["ok"]


def test_registry_figures_leave_out_the_cold_first_call():
    spans, t = [], 0.0
    for k, name in enumerate(ENTRIES * 2):
        dur = 9.0 if k == 0 else 1.0 + (k >= len(ENTRIES))
        spans.append({**_span(k + 1, f"entry.{name}", None, t, t + dur), "family": "scd"})
        t += dur
    out, _ = layers.per_layer(spans, {}, {"wall_s": 1.0}, {}, 5.0)
    assert out[f"entry.{ENTRIES[0]}_s"] == pytest.approx(2.0)
    assert out[f"entry.{ENTRIES[1]}_s"] == pytest.approx(1.5)
    assert out["plans.scd_s"] == pytest.approx(2.0 + 1.5 * (len(ENTRIES) - 1))


def test_committed_digests_match_the_duckdb_oracle():
    pytest.importorskip("duckdb")
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    with open(registry.DIGESTS) as f:
        committed = json.load(f)
    assert committed == registry.oracle_digests(registry.DATA, ENTRIES)


@pytest.mark.parametrize("shape,seeds", [(refresh.REFERENCE, range(200)),
                                         (refresh.LARGE, range(2))])
def test_every_seed_yields_the_full_change_mix(shape, seeds):
    for seed in seeds:
        a = refresh.generate(shape, seed, 3)  # raises on a day without the mix
        b = refresh.generate(shape, seed, 3)
        assert [d.banks_html for d in a.days] == [d.banks_html for d in b.days]
        assert a.days[-1].expect_lines == b.days[-1].expect_lines
