"""Lambda-pipeline benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload lambda_small --seed 1 --seconds 10 --trace 0

Each run starts the package's SparkSession on local[<usable cores>],
generates its inputs from the seed, rebuilds the batch-layer lookup,
replays payload micro-batches through a speed layer, checks every
output and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``.
The line before it carries the host context and run details.
Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def host_context() -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
            "python": platform.python_version()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import duckdb  # noqa: F401
        import pyspark
        from perfbench import harness, workloads
        from perfbench.trace import NullTracer, Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    ctx = host_context()
    ctx.update(spark=pyspark.__version__, workload=args.workload, seed=args.seed,
               trace=args.trace, loadavg_start=os.getloadavg())
    work = os.path.join(harness.REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(os.path.join(work, "eventlog")) if args.trace else NullTracer()
    try:
        spark, tracer.get_spark_s = harness.start_session(
            work, ctx["nproc"], tracer.event_log_dir if args.trace else None)
        tracer.install()
        try:
            res = workloads.run(spark, workloads.WORKLOADS[args.workload], args.seed,
                                args.seconds, work, tracer)
        finally:
            tracer.uninstall()
            harness.stop_session(spark)
        tracer.finish(res)
        ctx["loadavg_end"] = os.getloadavg()
        print(json.dumps({"host": ctx, "run": res.info}))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
