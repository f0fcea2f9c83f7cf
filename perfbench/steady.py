#!/usr/bin/env python3
"""Runs a workload once per seed and reports each end-to-end metric's
median and spread ((Q3 - Q1) / median over the runs), next to its bound.

Usage (from the repository root):
  python3 perfbench/steady.py --workload W [--runs 10] [--first-seed 1]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: incorrect result: {result}")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}"
                                          for k, v in result["metrics"].items()), flush=True)
    for metric in bench["end_to_end"]:
        xs = values[metric["name"]]
        spread = stats.iqr_spread(xs)
        print(f"{metric['name']:>14}: median {stats.median(xs):.4g}  spread {spread:.3f}  "
              f"bound {metric['bound']}  {'ok' if spread < metric['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
