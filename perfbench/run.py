"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Starts one fresh worker process for the
named workload (see ``workloads.py``), captures Spark's stderr, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything the run writes stays under ``.bench_build/perfbench/`` in the
checkout: the DuckDB oracle cache, Spark's scratch directories, the
worker's stderr log and the traced run's span dump.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics, workloads  # noqa: E402

WORKER_TIMEOUT_S = 165
ERROR_LINE = re.compile(r"\bERROR\b")


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    return True
            except ProcessLookupError:
                continue
    return False


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a TERM from outside still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    for need in ("pyield_spark/queries/__init__.py", "tools/check_oracle.py", "tools/plan_census.py", workloads.DATA_DIR):
        if not (ROOT / need).exists():
            return fail(f"{need} is missing: run from the root of a full checkout")

    work = ROOT / ".bench_build" / "perfbench"
    tmp = work / f"tmp-{os.getpid()}"
    (tmp / "local").mkdir(parents=True, exist_ok=True)
    log_path = work / f"worker-{args.workload}-trace{args.trace}.log"
    result_path = tmp / "result.json"
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        # Spark's Python workers import pyield_spark too
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(tmp / "local"),
        TMPDIR=str(tmp),
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp}",
    )
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", str(work), "--result", str(result_path),
    ]
    try:
        with open(log_path, "w") as log:
            t0, steal0 = time.monotonic(), metrics.steal_s()
            proc = subprocess.Popen(
                cmd + ["--t0", repr(t0)], cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                stdout=log, stderr=log, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stop_group(proc.pid)
                proc.wait()
        steal = metrics.steal_s() - steal0
        text = log_path.read_text(errors="replace")
        if rc != 0 or not result_path.exists():
            sys.stderr.write(text[-4000:])
            why = "timed out" if rc is None else f"exited with {rc}"
            return fail(f"worker {why}; log in {log_path}", 1)
        result = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    error_lines = sum(1 for line in text.splitlines() if ERROR_LINE.search(line))
    info = result["info"]
    info["error_log_lines"] = error_lines
    m = result["metrics"]
    if args.trace:
        m["exec.error_log_lines"] = error_lines
        names = workloads.PER_LAYER
    else:
        names = workloads.END_TO_END
    print(
        f"perfbench: workload={info['workload']} seed={info['seed']} sf={info['sf']}"
        f" cpus={info['cpus']} default_parallelism={info['default_parallelism']}"
        f" passes={info['passes']} kept_passes={info['kept_passes']} samples={info['samples']}"
        f" cold_pass_s={info['cold_pass_s']:.3f} query_tail_s={info['query_tail_s']:.3f}"
        f" tail_query={info['tail_query']}"
        f" error_rate={info['error_rate']:.4f} error_log_lines={error_lines}"
        f" peak_rss_mb={info['peak_rss_mb']:.0f} host_steal_s={steal:.2f}"
        f" phases_s={json.dumps({k: round(v, 2) for k, v in info['phases_s'].items()})}"
        f" pass_walls_s={[round(v, 2) for v in info['pass_walls_s']]}"
        f" pass_steal_s={[round(v, 2) for v in info['pass_steal_s']]}"
    )
    for f in info["failures"]:
        print(f"perfbench: FAILED {f['pass']}/{f['query']}: {f['error']}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": m[n], "unit": u} for n, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
