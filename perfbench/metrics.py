"""Turning per-query records and spans into the reported numbers.

Functions with no Spark import, so the tests run without a session.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import Span, self_times

MODULE_LAYERS = ("du", "functions", "curves", "bonds", "analytics", "operators")

# Per-query fields summed into exec.* / queries.* / catalyst.* totals.
JOB_FIELDS = {
    "queries.build_jobs": ("build", "jobs"),
    "queries.build_job_s": ("build", "job_s"),
    "operators.cc_jobs": ("cc", "jobs"),
    "exec.jobs": ("exec", "jobs"),
    "exec.stages": ("exec", "stages"),
    "exec.skipped_stages": ("exec", "skipped_stages"),
    "exec.tasks": ("exec", "tasks"),
    "exec.failed_tasks": ("exec", "failed_tasks"),
    "exec.shuffle_read_bytes": ("exec", "shuffle_read_bytes"),
    "exec.shuffle_write_bytes": ("exec", "shuffle_write_bytes"),
    "exec.executor_run_s": ("exec", "executor_run_s"),
    "exec.executor_cpu_s": ("exec", "executor_cpu_s"),
    "exec.gc_s": ("exec", "gc_s"),
}
PLAN_FIELDS = (
    "catalyst.plan_nodes",
    "catalyst.shuffle_exchanges",
    "catalyst.broadcast_exchanges",
    "catalyst.python_nodes",
)


# A timed pass is disturbed when the hypervisor ran other guests for more
# than this share of the VM's CPU time during it (steal / (cores x wall)).
# On a shared 4-vCPU host each second stolen from any core added 0.6 to
# 1.5 s to a pass of these closed-loop workloads, so a disturbed pass
# measures the host, not the program.
DISTURBED_STEAL_SHARE = 0.02
MIN_KEPT_PASSES = 3


def steal_s() -> float:
    """CPU time the hypervisor has given other guests since boot, all cores."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def undisturbed(pass_s: list[float], steals: list[float], cores: int) -> list[int]:
    """Indices of the passes during which the host stole at most
    ``DISTURBED_STEAL_SHARE`` of the VM's CPU time."""
    return [
        i for i, (w, st) in enumerate(zip(pass_s, steals)) if st <= DISTURBED_STEAL_SHARE * cores * w
    ]


def kept_passes(pass_s: list[float], steals: list[float], cores: int) -> list[int]:
    """Indices of the timed passes the timing figures are taken over.

    Every pass the host did not disturb; when fewer than
    ``MIN_KEPT_PASSES`` of them are left, the least disturbed ones.
    """
    keep = undisturbed(pass_s, steals, cores)
    if len(keep) < min(MIN_KEPT_PASSES, len(pass_s)):
        by_share = sorted(range(len(pass_s)), key=lambda i: steals[i] / max(pass_s[i], 1e-9))
        keep = sorted(by_share[:MIN_KEPT_PASSES])
    return keep


def pass_summary(walls: list[dict], steals: list[float], cores: int) -> dict:
    """End-to-end timing figures over the kept timed passes.

    ``walls`` holds one ``{query: seconds}`` dict per timed pass and
    ``steals`` the CPU seconds the host stole during each. The typical
    query time is the median over the queries of each one's median: with
    three queries and three passes, the median of the pooled samples
    falls in the upper tail of the two cheaper queries' samples. The tail
    is the slowest query's median: a run has too few samples for a
    percentile with ten samples beyond it.
    """
    kept = kept_passes([sum(w.values()) for w in walls], steals, cores)
    walls = [walls[i] for i in kept]
    pass_s = [sum(w.values()) for w in walls]
    pooled = [v for w in walls for v in w.values()]
    per_query = {q: statistics.median(w[q] for w in walls if q in w) for q in walls[0]}
    tail_q = max(per_query, key=per_query.get)
    return {
        "warm_pass_s": statistics.median(pass_s),
        "query_p50_s": statistics.median(per_query.values()),
        "query_tail_s": per_query[tail_q],
        "tail_query": tail_q,
        "samples": len(pooled),
        "kept": kept,
    }


def _ancestors(span: Span, by_id: dict[int, Span]):
    p = by_id.get(span.parent)
    while p is not None:
        yield p
        p = by_id.get(p.parent)


def layer_totals(spans: list[Span], queries: list[dict], cores: int) -> dict[str, float]:
    """Per-layer totals for one pass: its spans and its per-query records.

    ``<layer>.s`` is the layer's self time (time when its span was the
    innermost open one); ``<layer>.calls`` counts entries into the layer
    from outside it; py4j commands are charged to the innermost span.
    """
    by_id = {s.sid: s for s in spans}
    selfs = self_times(spans)
    m: dict[str, float] = {}

    def add(name, v):
        m[name] = m.get(name, 0) + v

    for layer in MODULE_LAYERS:
        for k in ("calls", "s", "py4j_cmds"):
            m[f"{layer}.{k}"] = 0
    for k in (
        "queries.build_s", "queries.build_self_s", "queries.py4j_cmds",
        "queries.memo_calls", "queries.memo_s", "operators.lineage_cuts",
        "operators.lineage_cut_s", "operators.cc_s", "catalyst.plan_s", "exec.s",
    ):
        m[k] = 0
    for s in spans:
        dur = s.end - s.start
        if s.layer in MODULE_LAYERS:
            add(f"{s.layer}.s", selfs[s.sid])
            add(f"{s.layer}.py4j_cmds", s.py4j)
            parent = by_id.get(s.parent)
            if parent is None or parent.layer != s.layer:
                add(f"{s.layer}.calls", 1)
        if s.name == "queries.build":
            add("queries.build_s", dur)
            add("queries.build_self_s", selfs[s.sid])
            add("queries.py4j_cmds", s.py4j)
        elif s.name == "queries.memo":
            add("queries.py4j_cmds", s.py4j)
            if not any(a.name == "queries.memo" for a in _ancestors(s, by_id)):
                add("queries.memo_calls", 1)
                add("queries.memo_s", dur)
        elif s.name.startswith("operators.cut."):
            if not any(a.name.startswith("operators.cut.") for a in _ancestors(s, by_id)):
                add("operators.lineage_cuts", 1)
                add("operators.lineage_cut_s", dur)
        elif s.name == "operators.cc":
            if not any(a.name == "operators.cc" for a in _ancestors(s, by_id)):
                add("operators.cc_s", dur)
        elif s.name == "catalyst.plan":
            add("catalyst.plan_s", dur)
        elif s.layer == "exec":  # the noop write, or the cold pass's collect
            add("exec.s", dur)
    for name, (phase, key) in JOB_FIELDS.items():
        m[name] = sum(q["jobs"][phase][key] for q in queries)
    for name in PLAN_FIELDS:
        m[name] = sum(q["plan"][name] for q in queries)
    m["exec.core_busy_ratio"] = (
        m["exec.executor_run_s"] / (m["exec.s"] * cores) if m["exec.s"] > 0 else 0.0
    )
    return m


# The metric that holds each layer's time in a pass's totals: self time
# for the module layers, the whole call for the others.
LAYER_TIME = {
    "queries": "queries.build_s",
    **{layer: f"{layer}.s" for layer in MODULE_LAYERS},
    "catalyst": "catalyst.plan_s",
    "exec": "exec.s",
}
# A layer below this share of a workload's query time is idle there.
IDLE_SHARE = 0.01


def layer_shares(totals: dict[str, float]) -> dict[str, float]:
    """Each layer's share of the query time (build + plan + execute)."""
    wall = totals["queries.build_s"] + totals["catalyst.plan_s"] + totals["exec.s"]
    return {layer: totals[k] / wall if wall > 0 else 0.0 for layer, k in LAYER_TIME.items()}


def median_totals(per_pass: list[dict[str, float]]) -> dict[str, float]:
    """Metric-wise median over passes."""
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def compare_outputs(actual: dict[str, dict], expected: dict[str, dict]) -> dict[str, str]:
    """Queries whose collected output differs from the oracle, with why.

    Each side maps a query to ``{"cols": sorted names, "rows": n, "hash": h}``.
    """
    bad = {}
    for q, a in actual.items():
        e = expected.get(q)
        if e is None:
            bad[q] = "no oracle result"
        elif a["cols"] != e["cols"]:
            bad[q] = f"columns {a['cols']} != oracle {e['cols']}"
        elif a["rows"] != e["rows"]:
            bad[q] = f"rows {a['rows']} != oracle {e['rows']}"
        elif a["hash"] != e["hash"]:
            bad[q] = f"value hash {a['hash']} != oracle {e['hash']}"
    return bad
