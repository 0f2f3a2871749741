#!/usr/bin/env python3
"""Parent-vs-change table from paired benchmark runs.

    python3 plans/pr2/ab_table.py BENCHMARK.json RUNS.jsonl...

Each RUNS line is `{"side": "parent"|"change", "seed": N, "result": R}`
where R is the last stdout line of
`perfbench/run.py --workload W --seed N --seconds 6 --trace 0`; the two
sides of one seed form a pair. For every end-to-end metric the table
gives each side's median and quartiles, the relative change of the
medians against the metric's bound (sign: + is worse), the parent's
quartile spread relative to its median, and the pairs the change won
(ties count for neither).
"""
import json
import statistics
import sys


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main():
    bench = json.load(open(sys.argv[1]))
    metrics = bench["end_to_end"]
    for path in sys.argv[2:]:
        runs = [json.loads(line) for line in open(path) if line.strip()]
        pairs = {}
        for r in runs:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        pairs = {s: p for s, p in sorted(pairs.items()) if len(p) == 2}
        workload = path.rsplit("ab_", 1)[-1].removesuffix(".jsonl")
        ok = all(p[side]["correct"] for p in pairs.values() for side in p)
        print(f"### {workload}: {len(pairs)} pairs, seeds "
              f"{','.join(str(s) for s in pairs)}, all correct: {ok}")
        print()
        print("| metric | parent q1 / median / q3 | change q1 / median / q3 | "
              "change (+ worse) | bound | parent IQR / median | change wins |")
        print("|---|---|---|---|---|---|---|")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            par = [p["parent"]["metrics"][name]["value"] for p in pairs.values()]
            chg = [p["change"]["metrics"][name]["value"] for p in pairs.values()]
            pq, cq = quartiles(par), quartiles(chg)
            rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            worse = rel if lower else -rel
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
            wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
            ties = sum(c == p for p, c in zip(par, chg))
            fmt = lambda q: " / ".join(f"{v:.4g}" for v in q)  # noqa: E731
            print(f"| {name} | {fmt(pq)} | {fmt(cq)} | {worse:+.3f} | {m['bound']} | "
                  f"{spread:.3f} | {wins}/{len(par)}" + (f" ({ties} ties)" if ties else "")
                  + " |")
        print()


if __name__ == "__main__":
    main()
