#!/usr/bin/env python3
"""Per-row table of an alternating graft.Bench A/B.

    python3 plans/pr3/bench_table.py DIR

DIR holds `parent_<round>.json` and `change_<round>.json`, each the
SPARK_GRAFT_DETAIL file of one `graft.Bench` run (its `queries` map is
the per-row median of SPARK_GRAFT_REPS reps). Prints, per row, each
side's per-round values and their median, and the change's relative
difference of the medians (+ is slower).
"""
import glob
import json
import os
import statistics
import sys


def load(d, side):
    runs = sorted(glob.glob(os.path.join(d, f"{side}_*.json")))
    return [json.load(open(p)) for p in runs]


def main():
    d = sys.argv[1]
    par, chg = load(d, "parent"), load(d, "change")
    rows = sorted(par[0]["queries"])
    print(f"{len(par)} parent / {len(chg)} change runs, reps per run "
          f"{par[0]['reps']}, sf {os.path.basename(par[0]['sf'])}")
    print()
    print("| row | parent runs (s) | parent median | change runs (s) | "
          "change median | change vs parent |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        p = [x["queries"][r] for x in par]
        c = [x["queries"][r] for x in chg]
        pm, cm = statistics.median(p), statistics.median(c)
        fmt = lambda xs: " ".join(f"{v:.3f}" for v in xs)  # noqa: E731
        print(f"| {r} | {fmt(p)} | {pm:.3f} | {fmt(c)} | {cm:.3f} | "
              f"{(cm - pm) / pm:+.1%} |")
    loads = [f"{x['load_pre']:.2f}" for x in par + chg]
    print()
    print(f"load_pre per run (parent runs, then change runs): {' '.join(loads)}")


if __name__ == "__main__":
    main()
