#!/usr/bin/env python3
"""Steadiness check: runs one workload on several seeds and prints, per
end-to-end metric, the median, the quartiles and the spread (first to third
quartile as a share of the median) next to a third of the metric's bound.

    python3 perfbench/steady.py --workload <name> --seeds 1,2,3,4,5 [--out file.json]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in args.seeds.split(","):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", seed, "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        runs.append({"seed": int(seed), "run_wall_s": time.time() - t0, **result})
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in result["metrics"].items())
            + f" failed={result['failed']}/{result['attempted']}"
            + f" run_wall_s={runs[-1]['run_wall_s']:.1f}", flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        xs = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        summary[m["name"]] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                              "spread": stats.spread(xs), "third_of_bound": m["bound"] / 3}
        print(f"{m['name']:14s} median={statistics.median(xs):.4f} q1={q1:.4f} q3={q3:.4f} "
              f"spread={stats.spread(xs):.4f} (bound/3={m['bound'] / 3:.4f})")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
