"""One benchmark run in a fresh process; ``run.py`` starts it.

Phases: set-up (session, ``load_all()``, bench.py's warm-up), one cold
pass that collects every query into Python, untimed warm-up passes
(``workloads.WARMUP_PASSES``) that carry the JVM's JIT past its steepest
settling, then timed warm passes with the noop sink for ``--seconds``
(at least ``MIN_TIMED_PASSES``). The timing figures leave out the timed
passes during which the host stole CPU time from this VM
(``metrics.kept_passes``); while too few passes are left alone, the
timed phase runs for up to twice as long. The cold pass's outputs
are compared with the DuckDB oracle after the session stops. Each pass
runs the workload's queries in a seed-dependent order, one at a time.

With ``--trace 1`` each timed step is a traced pass followed by an
untraced one; the per-layer numbers come from the traced passes and the
tracer's overhead is the difference between the two.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

from perfbench import metrics, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

MIN_TIMED_PASSES = 3
LISTENER_WAIT_MS = 10_000


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, QUERIES, sf_dir: str) -> None:
    """bench.py's warm-up: two queries and one pandas worker-pool warm."""
    for name in workloads.WARMUP_QUERIES:
        force(QUERIES[name](spark, sf_dir))

    def _noop_kernel(batches):
        yield from batches

    force(spark.range(0, 256, 1, 32).mapInPandas(_noop_kernel, "id long"))


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def plan_nodes(plan: str) -> int:
    """Operator lines in a physical plan's tree string."""
    return sum(
        1
        for line in plan.splitlines()
        if re.match(r"^[\s:|+\-]*[A-Z][A-Za-z]*", line) and "== " not in line
    )


class Run:
    def __init__(self, args):
        self.args = args
        self.wl = args.workload
        self.queries = workloads.WORKLOADS[self.wl]["queries"]
        self.sf_dir = str(ROOT / workloads.DATA_DIR)
        self.rng = random.Random(args.seed)
        self.traced = bool(args.trace)
        self.tracer = Tracer()  # spans are no-ops until installed and active
        self.attempted = 0
        self.failures: list[dict] = []
        self.records: list[dict] = []  # traced per-query records, all passes

    # -- one query -------------------------------------------------------
    def run_query(self, label: str, q: str, traced: bool) -> float | None:
        """Build and force one query; its wall time, or None if it raised."""
        self.attempted += 1
        tr = self.tracer
        rid = f"{self.wl}/{label}/{q}"
        try:
            if not traced:
                t0 = time.perf_counter()
                force(self.QUERIES[q](self.spark, self.sf_dir))
                return time.perf_counter() - t0
            tr.rid = rid
            t0 = time.perf_counter()
            with tr.span("query", "query"):
                tr.set_group(f"{rid}/build")
                with tr.span("queries.build", "queries"):
                    df = self.QUERIES[q](self.spark, self.sf_dir)
                tr.set_group(f"{rid}/plan")
                with tr.span("catalyst.plan", "catalyst"):
                    plan = df._jdf.queryExecution().executedPlan()
                tr.set_group(f"{rid}/exec")
                with tr.span("exec.write", "exec"):
                    force(df)
            wall = time.perf_counter() - t0
            tr.set_group(None)
            tr.active = False  # bookkeeping below is not the program's work
            try:
                self.records.append(self.query_record(label, q, rid, wall, plan.toString()))
            finally:
                tr.active = True
            failed = self.records[-1]["jobs"]["exec"]["failed_tasks"]
            if failed:
                self.fail(label, q, f"{failed} failed tasks")
            return wall
        except Exception as e:  # a failing query is counted, the run goes on
            self.fail(label, q, e)
            tr.set_group(None)
            return None

    def fail(self, label: str, q: str, error) -> None:
        if isinstance(error, Exception):
            traceback.print_exc()
            error = f"{type(error).__name__}: {str(error)[:300]}"
        self.failures.append({"pass": label, "query": q, "error": error})

    def query_record(self, label, q, rid, wall, plan: str) -> dict:
        from plan_census import census

        c = census(plan)
        return {
            "rid": rid,
            "pass": label,
            "query": q,
            "wall_s": wall,
            "plan": {
                "catalyst.plan_nodes": plan_nodes(plan),
                "catalyst.shuffle_exchanges": c["ex_hash"] + c["ex_range"] + c["ex_single"],
                "catalyst.broadcast_exchanges": c["bcast"],
                "catalyst.python_nodes": c["py"],
            },
            "jobs": {
                "build": self.job_stats([f"{rid}/build", f"{rid}/build/cc"]),
                "cc": self.job_stats([f"{rid}/build/cc"]),
                "exec": self.job_stats([f"{rid}/exec"]),
            },
        }

    def job_stats(self, groups: list[str]) -> dict:
        """Job, stage and task counters of the jobs tagged with ``groups``."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)
        tracker, store = sc.statusTracker(), jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "job_s", "stages", "skipped_stages", "tasks", "failed_tasks",
             "shuffle_read_bytes", "shuffle_write_bytes", "executor_run_s",
             "executor_cpu_s", "gc_s"), 0)
        seen = set()
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                jd = store.job(j)
                out["jobs"] += 1
                out["tasks"] += jd.numCompletedTasks()
                out["failed_tasks"] += jd.numFailedTasks()
                sub, end = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and end.isDefined():
                    out["job_s"] += (end.get().getTime() - sub.get().getTime()) / 1000.0
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info is not None else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        out["skipped_stages"] += 1
                        continue
                    out["stages"] += 1
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    # -- passes ----------------------------------------------------------
    def order(self) -> list[str]:
        return self.rng.sample(self.queries, len(self.queries))

    def run_pass(self, label: str, traced: bool = False) -> tuple[dict[str, float], float]:
        """Per-query walls of one pass, and the CPU time the host stole during it."""
        self.tracer.active = traced
        walls = {}
        steal0 = metrics.steal_s()
        for q in self.order():
            w = self.run_query(label, q, traced)
            if w is not None:
                walls[q] = w
        return walls, metrics.steal_s() - steal0

    def cold_pass(self) -> tuple[dict[str, float], dict[str, dict]]:
        """The first pass, collected into Python and checked.

        Times build plus collect per query (traced in a traced run, for
        the dump); the canonical rows are hashed outside the timing. Returns the walls and, per query, its sorted
        columns, row count and value hash.
        """
        from check_oracle import canon_rows, value_hash

        tr = self.tracer
        walls, out = {}, {}
        for q in self.order():
            self.attempted += 1
            tr.rid = f"{self.wl}/cold/{q}"
            try:
                t0 = time.perf_counter()
                with tr.span("query", "query"):
                    with tr.span("queries.build", "queries"):
                        df = self.QUERIES[q](self.spark, self.sf_dir)
                    with tr.span("exec.collect", "exec"):
                        rows = [tuple(r) for r in df.collect()]
                walls[q] = time.perf_counter() - t0
                out[q] = {
                    "cols": sorted(df.columns),
                    "rows": len(rows),
                    "hash": value_hash(canon_rows(df.columns, rows)),
                }
            except Exception as e:
                self.fail("cold", q, e)
        return walls, out

    # -- the run ---------------------------------------------------------
    def main(self) -> dict:
        tr = self.tracer
        if self.traced:
            tr.install(workloads.LAYER_MODULES)
            tr.active = True
            tr.rid = f"{self.wl}/setup/-"
        from pyield_spark.queries import ORACLES, QUERIES, load_all
        from pyield_spark.session import get_session

        self.QUERIES = QUERIES
        with tr.span("session.start", "session"):
            self.spark = get_session("perfbench")
        if self.traced:
            tr.sc = self.spark.sparkContext
        with tr.span("session.load_all", "session"):
            load_all()
        with tr.span("session.warmup", "session"):
            warm_up(self.spark, QUERIES, self.sf_dir)
        setup_s = time.monotonic() - self.args.t0
        ends = {"setup": time.monotonic()}  # phase -> end time
        setup_spans = list(tr.spans)

        cold, actual = self.cold_pass()
        ends["cold"] = time.monotonic()
        for i in range(workloads.WARMUP_PASSES[self.wl]):
            self.run_pass(f"warmup{i}")
        ends["warmup"] = time.monotonic()

        # While the host keeps stealing CPU time, measure for up to twice as
        # long to collect enough passes it left alone.
        cpus = os.cpu_count()
        timed, steals, traced_walls, t_start = [], [], [], time.perf_counter()
        n = 0
        while True:
            if self.traced:  # traced first, so JIT settling can only inflate the overhead
                traced_walls.append(self.run_pass(f"traced{n}", traced=True)[0])
            walls, steal = self.run_pass(f"warm{n}")
            timed.append(walls)
            steals.append(steal)
            n += 1
            elapsed = time.perf_counter() - t_start
            left_alone = metrics.undisturbed([sum(w.values()) for w in timed], steals, cpus)
            if n >= MIN_TIMED_PASSES and elapsed >= self.args.seconds and (
                elapsed >= 2 * self.args.seconds or len(left_alone) >= metrics.MIN_KEPT_PASSES
            ):
                break
        tr.active = False
        ends["timed"] = time.monotonic()

        sc = self.spark.sparkContext
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        rss = peak_rss_mb([os.getpid(), jvm_pid])
        cores = sc.defaultParallelism
        self.spark.stop()
        ends["stop"] = time.monotonic()

        expected = oracle_results(ORACLES, self.queries, self.sf_dir, Path(self.args.workdir) / "oracle")
        for q, why in sorted(metrics.compare_outputs(actual, expected).items()):
            self.fail("cold", q, why)
        ends["oracle"] = time.monotonic()
        starts = [self.args.t0, *ends.values()]
        phases = {k: end - start for (k, end), start in zip(ends.items(), starts)}

        complete = [i for i, w in enumerate(timed) if len(w) == len(self.queries)] or range(len(timed))
        summary = metrics.pass_summary(
            [timed[i] for i in complete], [steals[i] for i in complete], cpus
        )
        result = {
            "attempted": self.attempted,
            "failed": len(self.failures),
            "correct": not self.failures and len(actual) == len(self.queries),
            "info": {
                "workload": self.wl,
                "seed": self.args.seed,
                "sf": workloads.SF,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")),
                "default_parallelism": cores,
                "load_shape": workloads.LOAD_SHAPE,
                "queries": self.queries,
                "passes": len(timed),
                "pass_walls_s": [sum(w.values()) for w in timed],
                "pass_steal_s": steals,
                "kept_passes": [complete[i] for i in summary["kept"]],
                "samples": summary["samples"],
                "tail_query": summary["tail_query"],
                "cold_pass_s": sum(cold.values()),
                "query_tail_s": summary["query_tail_s"],
                "error_rate": len(self.failures) / max(self.attempted, 1),
                "failures": self.failures,
                "phases_s": phases,
                "peak_rss_mb": rss,
            },
        }
        if not self.traced:
            result["metrics"] = {
                "setup_s": setup_s,
                "warm_pass_s": summary["warm_pass_s"],
                "query_p50_s": summary["query_p50_s"],
            }
        else:
            result["metrics"] = self.layer_metrics(setup_spans, timed, traced_walls, cores)
            result["metrics"].update({
                "memory.peak_rss_mb": rss,
                "e2e.cold_pass_s": sum(cold.values()),  # traced
                "e2e.query_tail_s": summary["query_tail_s"],  # untraced passes
            })
        return result

    def layer_metrics(self, setup_spans, untraced, traced, cores) -> dict:
        tr = self.tracer
        per_pass = []
        for i in range(len(traced)):
            label = f"traced{i}"
            spans = [s for s in tr.spans if s.rid.split("/")[1] == label]
            recs = [r for r in self.records if r["pass"] == label]
            per_pass.append(metrics.layer_totals(spans, recs, cores))
        m = metrics.median_totals(per_pass)
        for s in setup_spans:
            m[s.name + "_s"] = s.end - s.start
        m["trace.overhead_s"] = (
            statistics.median(sum(w.values()) for w in traced)
            - statistics.median(sum(w.values()) for w in untraced)
        )
        self.dump(per_pass, cores)
        return m

    def dump(self, per_pass, cores) -> None:
        """Write the spans and per-query breakdown of the traced run."""
        tr = self.tracer
        selfs = metrics.self_times(tr.spans)
        path = Path(self.args.workdir) / f"trace-{self.wl}-{self.args.seed}.json"
        by_query = {}
        for r in self.records:
            spans = [s for s in tr.spans if s.rid == r["rid"]]
            by_query[r["rid"]] = {**r, "layers": metrics.layer_totals(spans, [r], cores)}
        with open(path, "w") as fh:
            json.dump(
                {
                    "workload": self.wl,
                    "workload_def": workloads.WORKLOADS[self.wl],
                    "sf": workloads.SF,
                    "load_shape": workloads.LOAD_SHAPE,
                    "predictions": workloads.PREDICTIONS,
                    "layer_shares": metrics.layer_shares(metrics.median_totals(per_pass)),
                    "wrapped_functions": tr.wrapped,
                    "py4j_outside_spans": tr.py4j_elsewhere,
                    "cold_totals": metrics.layer_totals(
                        [s for s in tr.spans if s.rid.split("/")[1] == "cold"], [], cores
                    ),
                    "per_pass_totals": per_pass,
                    "per_query": by_query,
                    "spans": [
                        {**vars(s), "self_s": selfs[s.sid], "dur_s": s.end - s.start}
                        for s in tr.spans
                    ],
                },
                fh,
                indent=1,
            )
        print(f"perfbench: trace dump {path}", file=sys.stderr)


def oracle_results(ORACLES, names, sf_dir: str, cache_dir: Path) -> dict[str, dict]:
    """DuckDB's result for each query, cached by oracle SQL and input bytes.

    The first run in a checkout computes them; the cache key changes when
    an oracle's SQL or any input file changes.
    """
    import duckdb
    from check_oracle import TABLES, canon_rows, value_hash

    h = hashlib.sha256()
    for t in TABLES:
        h.update(Path(f"{sf_dir}/{t}.parquet").read_bytes())
    data_key = h.hexdigest()
    cache_dir.mkdir(parents=True, exist_ok=True)
    out, con = {}, None
    for q in names:
        if q not in ORACLES:
            continue
        key = hashlib.sha256((data_key + ORACLES[q]).encode()).hexdigest()
        path = cache_dir / f"{q}.json"
        if path.exists():
            cached = json.loads(path.read_text())
            if cached.get("key") == key:
                out[q] = cached
                continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        res = con.execute(ORACLES[q])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[q] = {"key": key, "cols": sorted(cols), "rows": len(rows), "hash": value_hash(canon_rows(cols, rows))}
        path.write_text(json.dumps(out[q]))
    if con is not None:
        con.close()
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--t0", type=float, required=True, help="time.monotonic() at process launch")
    p.add_argument("--workdir", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()
    result = Run(args).main()
    Path(args.result).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
