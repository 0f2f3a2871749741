"""Per-pair values of one end-to-end metric from alternating pairs.

    python3 plans/pr7/per_pair.py PAIRS_JSONL WORKLOAD METRIC

PAIRS_JSONL is what plans/pr6/run_pairs.sh writes. Prints one line per
seed: the parent's and the change's value, the relative change, and
which side the metric's direction of BENCHMARK.json favours.
"""
import json
import sys

path, workload, metric = sys.argv[1:4]
better = {m["name"]: m["better"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]}[metric]
vals = {}
for line in open(path):
    r = json.loads(line)
    if r["workload"] != workload or r["result"] is None:
        continue
    vals.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"][metric]["value"]
print(f"seed  parent  change  delta  better")
for seed in sorted(vals):
    v = vals[seed]
    if len(v) < 2:
        continue
    p, c = v["parent"], v["change"]
    d = (c - p) / p if p else 0.0
    win = (c < p) if better == "lower" else (c > p)
    print(f"{seed:4d} {p:8.4g} {c:8.4g} {d:+6.1%}  {'change' if win else ('tie' if c == p else 'parent')}")
