#!/usr/bin/env python3
"""Steadiness check: runs one workload once per seed and prints, for
each end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ss_interactive --seeds 1,2,3,4,5
"""
import argparse
import json
import os
import subprocess
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seeds")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {}
    for seed in a.seeds.split(","):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", seed, "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{r.stderr[-2000:]}")
        result = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        spread = metrics.quartile_spread(xs) if len(xs) > 1 else 0.0
        print(f"{m['name']:<16} median={metrics.median(xs):<12.5g} spread={spread:.4f} "
              f"bound={m['bound']}")


if __name__ == "__main__":
    main()
