"""Summarise alternating parent/change perfbench pairs.

    python3 plans/pr6/analyze_pairs.py [pairs.jsonl]

Each input line is {"side", "workload", "seed", "result"} where result
is the last stdout line of perfbench/run.py. Prints, per workload and
end-to-end metric of BENCHMARK.json, each side's quartiles over the
paired seeds, the median delta, the bound, the parent's IQR/median, the
change's pair wins, and a verdict (REGRESSION past the bound,
unresolved when the parent's spread exceeds it). Run from the repo root.
"""
import json, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1] if len(sys.argv) > 1 else "plans/pr6/perfbench_pairs_s41-50.jsonl")]
bm = json.load(open("BENCHMARK.json"))
bounds = {m["name"]: (m["bound"], m["better"]) for m in bm["end_to_end"]}
def q(v):
    v = sorted(v); n = len(v)
    if n < 2: return v[0], v[0], v[0]
    qs = statistics.quantiles(v, n=4, method="inclusive")
    return qs[0], statistics.median(v), qs[2]
out = []
for w in ["ss_experiment", "ss_interactive", "curation_ingest"]:
    data = {"parent": {}, "change": {}}
    fails = {"parent": [0, 0], "change": [0, 0]}
    for r in rows:
        if r["workload"] != w: continue
        res = r["result"]
        if res is None:
            fails[r["side"]][0] += 1; continue
        fails[r["side"]][1] += res.get("failed", 0)
        for k, v in res["metrics"].items():
            data[r["side"]].setdefault(k, {})[r["seed"]] = v["value"]
    out.append(f"## {w}  (missing runs parent/change: {fails['parent'][0]}/{fails['change'][0]}; failed ops: {fails['parent'][1]}/{fails['change'][1]})")
    out.append(f"{'metric':14s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} {'delta':>8s} {'bound':>6s} {'IQR/med(p)':>10s} {'wins':>6s} verdict")
    for k in bounds:
        if k not in data["parent"]: continue
        p = data["parent"][k]; c = data["change"].get(k, {})
        seeds = sorted(set(p) & set(c))
        if not seeds: continue
        pq = q([p[s] for s in seeds]); cq = q([c[s] for s in seeds])
        b, better = bounds[k]
        sign = 1 if better == "higher" else -1
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        worse = -sign * delta
        wins = sum(1 for s in seeds if sign * (c[s] - p[s]) > 0)
        spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
        verdict = "REGRESSION" if worse > b else ("unresolved" if spread > b else "ok")
        out.append(f"{k:14s} {pq[0]:9.4g}/{pq[1]:9.4g}/{pq[2]:9.4g} {cq[0]:9.4g}/{cq[1]:9.4g}/{cq[2]:9.4g} {delta:+8.1%} {b:6.2f} {spread:10.1%} {wins:3d}/{len(seeds)} {verdict}")
print("\n".join(out))
