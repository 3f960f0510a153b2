"""Write perfbench/TRACE.json: for each workload, PAIRS untraced and
traced runs of BENCHMARK.json's ``run_seconds``, alternating, on the same
seeds; the traced runs' per-layer metrics (median over the pairs); and
the tracing overhead on each end-to-end metric, median traced / median
untraced - 1.

    python3 perfbench/trace_artifact.py
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PAIRS = 3


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    *_, details, result = p.stdout.strip().splitlines()
    return json.loads(details), json.loads(result)


def _medians(results: list[dict]) -> dict:
    return {
        k: {"value": statistics.median(r["metrics"][k]["value"] for r in results), "unit": v["unit"]}
        for k, v in results[0]["metrics"].items()
    }


def main() -> int:
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    out = {"command": "python3 perfbench/trace_artifact.py", "pairs": PAIRS,
           "run_seconds": seconds, "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        runs = {0: [], 1: []}
        for i in range(PAIRS):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                runs[trace].append(_run(w, 1000 + i, seconds, trace))
        plain = _medians([r for _, r in runs[0]])
        traced = _medians([r for _, r in runs[1]])
        out["workloads"][w] = {
            "per_layer": traced,
            "untraced_end_to_end": plain,
            "tracing_overhead": {
                k: round(traced[f"traced.{k}"]["value"] / v["value"] - 1, 4)
                for k, v in plain.items() if f"traced.{k}" in traced
            },
            "correct": all(r["correct"] for side in runs.values() for _, r in side),
            "runs": {"untraced": runs[0], "traced": runs[1]},
        }
    with open(os.path.join(HERE, "TRACE.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
