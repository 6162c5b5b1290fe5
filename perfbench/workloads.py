"""What the benchmark runs and what it reports.

Every workload is a closed loop with one client: the main thread builds
one query, forces it with the noop sink, waits, then builds the next.
The query lists, the scale factor and the layer predictions live here;
``BENCHMARK.json`` carries only the names, the one-line reasons and the
bounds.
"""

from __future__ import annotations

SF = "0.01"
DATA_DIR = "perfbench/data/sf0.01"  # relative to the checkout root
LOAD_SHAPE = "closed loop, one client, noop sink, one query at a time"

# Same three forcing steps as bench.py's warm-up.
WARMUP_QUERIES = ("q_pricing_summary", "q_bd_offset")

WORKLOADS: dict[str, dict] = {
    "fixed_income": {
        "queries": [
            "q_ltn_pricing",
            "q_interp_flat_forward",
            "q_futures_enrich",
        ],
        "why": (
            "The paper's own operators (business days, STN pricing, "
            "flat-forward curves, futures): time goes into the du, functions, "
            "bonds, curves and analytics layers."
        ),
    },
    "llm_dedup": {
        "queries": [
            "q_simhash",
            "q_dedup_keep_best",
            "q_cosine_topk",
        ],
        "why": (
            "Bound by plan build: pins, connected-components rounds and ANN "
            "scoring in the operators layer dominate, and the fixed-income "
            "layers do nothing."
        ),
    },
}

# Untimed noop passes between the cold pass and the timed passes. Pass
# walls keep falling for several passes after the cold one while the
# JVM's JIT settles. With little CPU stolen by the host, passes after the
# set-up's warm-up read: fixed_income 8.7 (cold), 3.2, 2.8, 2.8, 2.6,
# 2.5, 2.3, 2.2, 2.1, 2.0, 1.9 s; llm_dedup 10 (cold), 4.0, 4.0, 3.7,
# 3.1, 3.0 s. Timing those passes would measure how far the JIT got, not
# the program. fixed_income would need about eight; these are what a
# run's time budget leaves room for.
WARMUP_PASSES: dict[str, int] = {"fixed_income": 4, "llm_dedup": 3}

# name -> unit, in the order they are printed.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
}

_MODULE_LAYER_METRICS = {"calls": "count", "s": "s", "py4j_cmds": "count"}

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.load_all_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "queries.py4j_cmds": "count",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "queries.memo_calls": "count",
    "queries.memo_s": "s",
    **{f"du.{k}": u for k, u in _MODULE_LAYER_METRICS.items()},
    **{f"functions.{k}": u for k, u in _MODULE_LAYER_METRICS.items()},
    "curves.calls": "count",
    "curves.s": "s",
    **{f"bonds.{k}": u for k, u in _MODULE_LAYER_METRICS.items()},
    "analytics.calls": "count",
    "analytics.s": "s",
    **{f"operators.{k}": u for k, u in _MODULE_LAYER_METRICS.items()},
    "operators.lineage_cuts": "count",
    "operators.lineage_cut_s": "s",
    "operators.cc_s": "s",
    "operators.cc_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.plan_nodes": "count",
    "catalyst.shuffle_exchanges": "count",
    "catalyst.broadcast_exchanges": "count",
    "catalyst.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.skipped_stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.error_log_lines": "count",
    "trace.overhead_s": "s",
    # End-to-end figures whose run-to-run spread (JVM heap sizing; JIT and
    # host load in a single cold pass or a single slowest query) is wider
    # than any bound the benchmark may set; reported here, unbounded.
    "memory.peak_rss_mb": "MB",
    "e2e.cold_pass_s": "s",
    "e2e.query_tail_s": "s",
}

# Module layers: the public functions of these modules are wrapped in
# the traced run. Lineage cuts, connected components and the table memo
# get their own spans on top (see trace.py).
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "du": ("pyield_spark.du",),
    "functions": ("pyield_spark.functions.numbers", "pyield_spark.functions.dates"),
    "curves": ("pyield_spark.curves.interpolate", "pyield_spark.curves.forwards"),
    "bonds": (
        "pyield_spark.bonds.pricing",
        "pyield_spark.bonds.cashflows",
        "pyield_spark.bonds.bootstrap",
        "pyield_spark.bonds.vna",
    ),
    "analytics": (
        "pyield_spark.analytics.leiloes_bc",
        "pyield_spark.analytics.leiloes_tpf",
        "pyield_spark.analytics.total_return",
        "pyield_spark.analytics.futuro",
    ),
    "operators": (
        "pyield_spark.operators.pinning",
        "pyield_spark.operators.graph",
        "pyield_spark.operators.similarity",
        "pyield_spark.operators.dedup",
        "pyield_spark.operators.semantic",
        "pyield_spark.operators.bpe",
        "pyield_spark.operators.asof",
        "pyield_spark.operators.text",
        "pyield_spark.operators.sketch",
        "pyield_spark.operators.vocab",
        "pyield_spark.operators.sampling",
        "pyield_spark.operators.order",
        "pyield_spark.operators.skew",
        "pyield_spark.operators.bloom",
        "pyield_spark.operators.multimodal",
    ),
}

# Which layer metric should move which end-to-end metric, and where the
# layer works ("works") or does almost nothing ("idle"). A change to a
# layer predicts no change on its idle workload. The split follows each
# layer's share of the query time in the traced runs
# (``metrics.layer_shares``, written to every trace dump): "idle" is
# below ``metrics.IDLE_SHARE``, "works" is every workload above it.
# Session set-up is the same on both workloads.
PREDICTIONS: list[dict] = [
    {"layer": "session", "moves": ["setup_s"], "works": ["fixed_income", "llm_dedup"], "idle": []},
    {"layer": "queries", "moves": ["cold_pass_s", "warm_pass_s"], "works": ["fixed_income", "llm_dedup"], "idle": []},
    {"layer": "du", "moves": ["cold_pass_s"], "works": ["fixed_income"], "idle": ["llm_dedup"]},
    {"layer": "functions", "moves": ["cold_pass_s", "warm_pass_s"], "works": ["fixed_income"], "idle": ["llm_dedup"]},
    {"layer": "curves", "moves": ["warm_pass_s"], "works": ["fixed_income"], "idle": ["llm_dedup"]},
    {"layer": "bonds", "moves": ["warm_pass_s", "query_tail_s"], "works": ["fixed_income"], "idle": ["llm_dedup"]},
    {"layer": "analytics", "moves": ["query_tail_s"], "works": ["fixed_income"], "idle": ["llm_dedup"]},
    {"layer": "operators", "moves": ["warm_pass_s", "query_tail_s"], "works": ["llm_dedup", "fixed_income"], "idle": []},
    {"layer": "catalyst", "moves": ["query_p50_s", "query_tail_s"], "works": ["fixed_income", "llm_dedup"], "idle": []},
    {"layer": "exec", "moves": ["warm_pass_s", "query_p50_s"], "works": ["fixed_income", "llm_dedup"], "idle": []},
]
