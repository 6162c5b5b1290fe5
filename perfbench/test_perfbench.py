"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The fast tests need no Spark session. ``PERFBENCH_E2E=1`` also runs the
benchmark end to end: one traced run per workload, one untraced run,
and one run against a deliberately wrong oracle result (about five
minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics, workloads  # noqa: E402
from perfbench.trace import Span, self_times  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _span(sid, name, layer, parent, start, end, py4j=0, rid="w/traced0/q"):
    return Span(sid, name, layer, parent, rid, start, end, py4j)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "query", "query", None, 0.0, 10.0),
        _span(1, "queries.build", "queries", 0, 0.0, 6.0),
        _span(2, "bonds.price", "bonds", 1, 1.0, 3.0),
        _span(3, "du.contar", "du", 1, 2.0, 5.0),  # overlaps its sibling
        _span(4, "du.inner", "du", 3, 2.5, 3.5),
        _span(5, "exec.write", "exec", 0, 6.0, 12.0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(0.0)  # build [0,6] + write clipped to [6,10]
    assert st[1] == pytest.approx(6.0 - 4.0)  # children cover [1,5]
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(6.0)


def test_layer_totals_count_entries_and_charge_py4j_to_innermost_span():
    spans = [
        _span(0, "query", "query", None, 0.0, 10.0),
        _span(1, "queries.build", "queries", 0, 0.0, 6.0, py4j=5),
        _span(2, "du.contar", "du", 1, 1.0, 4.0, py4j=7),
        _span(3, "du.deslocar", "du", 2, 2.0, 3.0, py4j=2),  # du calling du
        _span(4, "queries.memo", "queries", 1, 4.0, 4.5, py4j=1),
        _span(5, "operators.pin", "operators", 1, 4.5, 5.5),
        _span(6, "operators.cut.localCheckpoint", "operators", 5, 4.6, 5.4, py4j=3),
        _span(7, "catalyst.plan", "catalyst", 0, 6.0, 6.5),
        _span(8, "exec.write", "exec", 0, 6.5, 10.0),
    ]
    zero_jobs = dict.fromkeys(
        ("jobs", "job_s", "stages", "skipped_stages", "tasks", "failed_tasks",
         "shuffle_read_bytes", "shuffle_write_bytes", "executor_run_s",
         "executor_cpu_s", "gc_s"), 0)
    rec = {
        "jobs": {"build": dict(zero_jobs, jobs=2), "cc": zero_jobs,
                 "exec": dict(zero_jobs, jobs=1, executor_run_s=7.0)},
        "plan": dict.fromkeys(metrics.PLAN_FIELDS, 1),
    }
    m = metrics.layer_totals(spans, [rec], cores=4)
    assert m["du.calls"] == 1
    assert m["du.py4j_cmds"] == 9
    assert m["du.s"] == pytest.approx(3.0)
    assert m["queries.build_s"] == pytest.approx(6.0)
    assert m["queries.build_self_s"] == pytest.approx(6.0 - 3.0 - 0.5 - 1.0)
    assert m["queries.py4j_cmds"] == 6
    assert m["queries.memo_calls"] == 1
    assert m["operators.calls"] == 1
    assert m["operators.lineage_cuts"] == 1
    assert m["operators.lineage_cut_s"] == pytest.approx(0.8)
    assert m["operators.py4j_cmds"] == 3
    assert m["queries.build_jobs"] == 2
    assert m["exec.s"] == pytest.approx(3.5)
    assert m["exec.core_busy_ratio"] == pytest.approx(7.0 / (3.5 * 4))
    shares = metrics.layer_shares(m)
    assert shares["queries"] == pytest.approx(6.0 / 10.0)
    assert shares["du"] == pytest.approx(3.0 / 10.0)
    assert shares["exec"] == pytest.approx(3.5 / 10.0)
    assert shares["bonds"] == 0
    assert set(m) | {"exec.error_log_lines", "trace.overhead_s", "memory.peak_rss_mb", "e2e.cold_pass_s", "e2e.query_tail_s"} >= {
        n for n in workloads.PER_LAYER if not n.startswith("session.")
    }


def test_metric_names_match_benchmark_json():
    assert {w["name"]: w["why"] for w in BENCH["workloads"]} == {
        name: w["why"] for name, w in workloads.WORKLOADS.items()
    }
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == workloads.PER_LAYER
    assert BENCH["paths"] == ["perfbench"]


def test_pass_summary_medians_and_slowest_query():
    walls = [{"a": 1.0, "b": 2.0, "c": 9.0}, {"a": 3.0, "b": 2.0, "c": 5.0}]
    s = metrics.pass_summary(walls, [0.0, 0.0], cores=4)
    assert s["warm_pass_s"] == pytest.approx(11.0)
    assert s["query_p50_s"] == pytest.approx(2.0)  # medians a 2, b 2, c 7
    assert s["query_tail_s"] == pytest.approx(7.0)
    assert s["tail_query"] == "c"
    assert s["samples"] == 6


def test_passes_the_host_disturbed_are_left_out():
    # 10 s passes on 4 cores: 0.8 s stolen is the 2% limit
    pass_s = [10.0, 14.0, 10.0, 10.0, 13.0]
    assert metrics.kept_passes(pass_s, [0.1, 4.0, 0.8, 0.0, 3.0], cores=4) == [0, 2, 3]
    assert metrics.undisturbed(pass_s, [0.1, 4.0, 0.8, 0.0, 3.0], cores=4) == [0, 2, 3]
    # too few undisturbed passes: the least disturbed ones
    assert metrics.kept_passes(pass_s, [0.1, 4.0, 0.9, 2.0, 3.0], cores=4) == [0, 2, 3]
    assert metrics.undisturbed(pass_s, [0.1, 4.0, 0.9, 2.0, 3.0], cores=4) == [0]
    assert metrics.kept_passes(pass_s[:2], [1.0, 4.0], cores=4) == [0, 1]
    walls = [{"a": w} for w in pass_s]
    s = metrics.pass_summary(walls, [0.1, 4.0, 0.8, 0.0, 3.0], cores=4)
    assert s["warm_pass_s"] == pytest.approx(10.0)
    assert s["kept"] == [0, 2, 3] and s["samples"] == 3


def test_wrong_expected_hash_is_a_failure():
    actual = {"q": {"cols": ["a"], "rows": 2, "hash": "abc"}}
    assert metrics.compare_outputs(actual, {"q": dict(actual["q"])}) == {}
    bad = metrics.compare_outputs(actual, {"q": dict(actual["q"], hash="def")})
    assert "value hash" in bad["q"]
    assert "no oracle" in metrics.compare_outputs(actual, {})["q"]


# -- end to end ------------------------------------------------------------
e2e = pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="set PERFBENCH_E2E=1")


def _run(workload: str, trace: int, seed: int = 7) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@e2e
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_sees_every_working_layer(workload):
    res = _run(workload, trace=1)
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert list(m) == list(workloads.PER_LAYER)
    for p in workloads.PREDICTIONS:
        if workload in p["works"] and p["layer"] in metrics.MODULE_LAYERS:
            assert m[f"{p['layer']}.calls"] > 0, p["layer"]
    dump = json.loads((ROOT / f".bench_build/perfbench/trace-{workload}-7.json").read_text())
    shares = dump["layer_shares"]
    for p in workloads.PREDICTIONS:
        if p["layer"] in shares:
            idle = shares[p["layer"]] < metrics.IDLE_SHARE
            assert idle == (workload in p["idle"]), (p["layer"], shares[p["layer"]])
            assert idle != (workload in p["works"]), (p["layer"], shares[p["layer"]])
    if workload == "llm_dedup":
        assert m["operators.cc_jobs"] > 0 and m["operators.lineage_cuts"] > 0
        assert m["bonds.calls"] == m["curves.calls"] == m["du.calls"] == 0


@e2e
def test_untraced_run_prints_end_to_end_metrics_and_catches_a_wrong_oracle():
    res = _run("llm_dedup", trace=0)
    assert res["correct"] and res["failed"] == 0
    assert list(res["metrics"]) == list(workloads.END_TO_END)
    assert all(v["value"] > 0 for v in res["metrics"].values())

    cached = ROOT / ".bench_build/perfbench/oracle/q_simhash.json"
    good = cached.read_text()
    try:
        cached.write_text(json.dumps(dict(json.loads(good), hash="0" * 16)))
        res = _run("llm_dedup", trace=0)
    finally:
        cached.write_text(good)
    assert not res["correct"]
    assert res["failed"] >= 1
