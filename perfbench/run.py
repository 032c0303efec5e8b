"""Benchmark entry point: one workload per process, one fresh Spark JVM.

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all          # every workload, in turn

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A human-readable table goes
to stderr. Exit status is 0 only when every operation succeeded and
every output matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_CORES = 4        # the sizes and phase-B rate were chosen for 4 cores

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_ms": "ms",
              "work_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s", "setup.load_s": "s", "jvm.gc_s": "s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_s_per_op": "s", "spark.shuffle_mb_per_op": "MB",
    "spark.task_skew": "ratio", "storage.mb_written_per_op": "MB",
    "engine.idle_ms_per_op": "ms", "host.steal_frac": "fraction",
    "loadgen.late_p95_ms": "ms", "trace.overhead_frac": "fraction",
}


def host_cores() -> int:
    cores = len(os.sched_getaffinity(0))
    if cores < MIN_CORES:
        sys.exit(f"perfbench: this host offers {cores} cores; the benchmark "
                 f"is sized for at least {MIN_CORES}")
    return cores


def run_all(args) -> int:
    """Every workload in its own process, printing each metric by name."""
    status = 0
    for w in ("build", "serve"):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        status = status or p.returncode
        print(f"{w}: correct={res.get('correct')} attempted="
              f"{res.get('attempted')} failed={res.get('failed')}")
        for name, m in res.get("metrics", {}).items():
            print(f"  {name:28s} {m['value']:>14.4f} {m['unit']}")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description="otd-kg benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["build", "serve", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cores = host_cores()
    if args.workload == "all":
        return run_all(args)

    sys.path[:0] = [ROOT, HERE]
    try:
        import otd_semantic_framework_spark  # noqa: F401
        import tests.oracle_tagger  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from a checkout of the repository ({e})",
              file=sys.stderr)
        return 2
    from harness import Run, median, quantile, steal_s
    from workloads import WORKLOADS

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace),
              cores)
    t0, steal0 = time.perf_counter(), steal_s()
    try:
        res = WORKLOADS[args.workload](run)
        rss = run.peak_rss_mb()
        run.check(rss is not None, "the run's own Spark JVM was not found")
    finally:
        run.close()
    # other guests' share of this VM's CPUs: high values mean the timings
    # of this run were taken on a contended host
    res["info"]["host_steal_frac"] = (
        (steal_s() - steal0) / (cores * (time.perf_counter() - t0)))

    ops = res["op_s"]
    run.check(len(ops) > 0, "no operation completed")
    if args.trace:
        metrics = dict(res["layers"])
        metrics.update({
            "session.start_s": median(run.session_s),
            "setup.load_s": median(run.load_s),
            "loadgen.late_p95_ms": quantile(res["gaps_s"], 0.95) * 1000.0,
            "trace.overhead_frac": run.tracer.cost_s / sum(ops),
        })
        trace_file = run.write_trace({"metrics": metrics, "info": res["info"]})
        print(f"trace written to {trace_file}", file=sys.stderr)
        for name, s in sorted(run.tracer.self_times().items()):
            print(f"  self {name:32s} {s:10.3f} s", file=sys.stderr)
        units = PER_LAYER
    else:
        metrics = {"setup_s": run.setup_s(), "peak_rss_mb": rss or 0.0,
                   "op_p50_ms": median(ops) * 1000.0,
                   "work_per_s": res["work_per_s"]}
        units = END_TO_END
    correct = run.failed == 0
    print(json.dumps(res["info"]), file=sys.stderr)
    for p in run.problems:
        print(f"FAILED: {p}", file=sys.stderr)
    for name, v in metrics.items():
        print(f"{args.workload:8s} {name:28s} {v:14.4f} {units.get(name, '')}",
              file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
