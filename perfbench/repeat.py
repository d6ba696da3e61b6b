#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median and
quartile spread ((Q3 - Q1) / median) against its bound in BENCHMARK.json.

Usage (from the repository root):
  python3 perfbench/repeat.py --workload etl_daily --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from stats import median, quartile_spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range like 1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, failed = {}, 0
    for seed in range(lo, hi + 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}")
            failed += 1
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        summary = [ln for ln in p.stderr.splitlines() if ln.startswith(f"[perfbench] {a.workload} ")]
        failed += r["failed"] + (not r["correct"])
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                         if k in bounds), flush=True)
        if summary:
            print("  " + summary[-1], flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if k in bounds or a.trace != "0":
            spread = quartile_spread(xs) if len(xs) >= 2 and median(xs) else 0.0
            print(f"{k:44s} median {median(xs):12.4f}  spread {spread:.3f}"
                  + (f"  bound {bounds[k]}" if bounds.get(k) else ""))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
