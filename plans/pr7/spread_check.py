"""Run-to-run spread of each side against the benchmark's bound.

    python3 plans/pr7/spread_check.py PAIRS_JSONL [PAIRS_JSONL ...]

PAIRS_JSONL holds one {"side", "workload", "seed", "result"} line per
run (`result` is the last stdout line of perfbench/run.py). For every
workload and end-to-end metric of BENCHMARK.json it prints each side's
median and middle-half spread (Q3 - Q1, quartiles as
`statistics.quantiles` computes them, both methods), and the bound the
spread is held to: the metric's bound times the parent's median.
For ss_experiment it also lists every run's op count next to its
ops_per_s, since a run holds two or three ops there. Run from the repo
root.
"""
import json
import statistics
import sys

bench = json.load(open("BENCHMARK.json"))
rows = [json.loads(line) for path in sys.argv[1:] for line in open(path)]


def iqr(xs, method):
    q1, _, q3 = statistics.quantiles(xs, n=4, method=method)
    return q3 - q1


for w in ("ss_experiment", "ss_interactive", "curation_ingest"):
    runs = {s: [r["result"] for r in rows
                if r["workload"] == w and r["side"] == s and r["result"]]
            for s in ("parent", "change")}
    if min(len(v) for v in runs.values()) < 4:
        continue
    print(f"## {w}  runs parent/change: {len(runs['parent'])}/{len(runs['change'])}")
    print(f"{'metric':14s} {'parent med':>11s} {'parent IQR':>11s} {'change med':>11s} "
          f"{'change IQR':>11s} {'(inclusive)':>11s} {'bound':>11s}  verdict")
    for m in bench["end_to_end"]:
        k = m["name"]
        p = [r["metrics"][k]["value"] for r in runs["parent"]]
        c = [r["metrics"][k]["value"] for r in runs["change"]]
        bound = m["bound"] * statistics.median(p)
        ce, ci = iqr(c, "exclusive"), iqr(c, "inclusive")
        verdict = "ok" if max(ce, ci) <= bound else "SPREAD"
        print(f"{k:14s} {statistics.median(p):11.4g} {iqr(p, 'exclusive'):11.4g} "
              f"{statistics.median(c):11.4g} {ce:11.4g} {ci:11.4g} {bound:11.4g}  {verdict}")
    if w == "ss_experiment":
        for s in ("parent", "change"):
            pts = sorted((r["metrics"]["ops_per_s"]["value"], r["attempted"]) for r in runs[s])
            print(f"  {s} ops_per_s (ops in run): "
                  + " ".join(f"{v:.3f}({n})" for v, n in pts))
    print()
