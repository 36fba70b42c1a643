"""Tracing overhead and job-count repeatability for one workload:

    python3 perfbench/trace_check.py --workload ingest --seed 1 --seconds 16

Runs the benchmark once untraced and twice traced with the same seed.
Prints, per end-to-end metric, traced minus untraced (the tracing
overhead), and whether the Spark jobs of every timed op repeat exactly
between the two traced runs (compared over the ops both runs timed).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = bench(args.workload, args.seed, args.seconds, 0)["metrics"]
    layers_path = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}", "layers.json")
    traced = []
    for _ in range(2):
        bench(args.workload, args.seed, args.seconds, 1)
        with open(layers_path, encoding="utf-8") as fh:
            traced.append(json.load(fh))
    report = {"workload": args.workload, "seed": args.seed, "overhead": {}}
    for name, m in plain.items():
        t = traced[0]["end_to_end_traced"][name]
        report["overhead"][name] = {"untraced": m["value"], "traced": t,
                                    "traced_minus_untraced": t - m["value"], "unit": m["unit"]}
    a, b = (t["jobs_per_op"] for t in traced)
    common = sorted(set(a) & set(b), key=int)
    report["jobs_per_op"] = [a, b]
    report["jobs_repeat"] = bool(common) and all(a[k] == b[k] for k in common)
    print(json.dumps(report, indent=1, sort_keys=True))
    return 0 if report["jobs_repeat"] else 1


if __name__ == "__main__":
    sys.exit(main())
