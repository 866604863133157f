"""KG-pipeline benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload doc_api --seed 1 --seconds 12 \\
        --trace 0

Run from the root of the repository. Workloads (see workloads.py):
``doc_api``, ``crawl_batch``, ``entity_increments``.

A run sets up SETUP_REPEATS times (``setup_s`` is the median), primes
the workload untimed, then runs operations in a closed loop for
``--seconds`` and checks the outputs. The last line of standard output
is ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced phase that follows the timed one (BENCHMARK.json names both
sets; layers.py maps each per-layer metric to the end-to-end metric
and workload it should move). The line before it is a diagnostic record
(each set-up and operation time, host load, CPU steal) that no figure
is filtered by.

A failed output check prints the result with ``"correct": false`` and
exits with status 1. Inputs, caches, Spark local directories and the traced
phase's spans (``spans-<workload>-s<seed>.json``) live in
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def prepare_env() -> None:
    """Keep every file the run writes inside the work directory and bound
    the Spark driver's heap (the session's default is larger than a
    small host)."""
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    sys.path[:0] = [str(ROOT), str(HERE)]


def percentile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] \
        if len(values) > 1 else values[0]


def timed_loop(wl, seconds: float) -> dict:
    """Operations back to back until ``seconds`` have passed."""
    import proc

    me = os.getpid()
    cpu0 = proc.tree_cpu_s(me)
    op_s, pages, attempted, failed, i = [], 0, 0, 0, 0
    with proc.PeakRss(me) as rss:
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            t0 = time.perf_counter()
            try:
                n = wl.op(i)
            except Exception:
                log(traceback.format_exc())
                failed += wl.units_per_op
                n = 0
            op_s.append(time.perf_counter() - t0)
            attempted += wl.units_per_op
            pages += n
            i += 1
        elapsed = time.perf_counter() - t_start
    cpu = proc.tree_cpu_s(me) - cpu0
    return {"op_s": op_s, "pages": pages, "attempted": attempted,
            "failed": failed, "elapsed": elapsed, "cpu_s": cpu,
            "peak_rss_mb": rss.peak_mb}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    prepare_env()
    import proc
    from workloads import SETUP_REPEATS, WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](WORK, args.seed)
    if args.setup_only:
        wl.setup()
        return 0

    host0 = proc.host_counters()
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        wl.clear_outputs()
        phase("clear")
        setups = [wl.timed_setup() for _ in range(SETUP_REPEATS)]
        wl.prime()
        phase("setup_prime")
        res = timed_loop(wl, args.seconds)
        phase("timed")
        if res["failed"] == 0:
            wl.check()
        phase("check")
        docs_per_s = res["pages"] / res["elapsed"]
        cpu_s_per_kdoc = res["cpu_s"] * 1000 / max(res["pages"], 1)
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "docs_per_s": (docs_per_s, "1/s"),
            "op_p50_ms": (statistics.median(res["op_s"]) * 1000, "ms"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        if args.trace:
            from layers import UNITS

            layer = wl.traced(docs_per_s)
            layer["cpu_s_per_kdoc"] = cpu_s_per_kdoc
            metrics = {k: (layer[k], UNITS[k]) for k in UNITS}
            (WORK / f"spans-{args.workload}-s{args.seed}.json").write_text(
                json.dumps(wl.spans))
            phase("traced")
    finally:
        wl.close()
    phase("close")
    host1 = proc.host_counters()
    ops_ms = sorted(x * 1000 for x in res["op_s"])
    print(json.dumps({"diagnostics": {
        "workload": args.workload, "seed": args.seed,
        "setup_s_each": setups, "ops": len(ops_ms),
        "op_p99_ms": percentile(ops_ms, 99) if len(ops_ms) >= 1000 else None,
        "op_max_ms": ops_ms[-1], "pages": res["pages"],
        "op_ms_each": [x * 1000 for x in res["op_s"]]
        if len(ops_ms) < 100 else None,
        "timed_s": res["elapsed"], "cpu_s_per_kdoc": cpu_s_per_kdoc,
        "load1_end": host1["load1"],
        "host_steal_s": host1["steal_s"] - host0["steal_s"],
        "host_busy_s": host1["busy_s"] - host0["busy_s"],
        "phase_s": phases, **wl.notes, "failures": wl.failures}}))
    correct = not wl.failures and res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
