"""Per-row medians of a board A/B written by plans/pr10/board_ab.sh.

    python3 plans/pr10/board_summary.py BOARD.jsonl

Each run reports each row's median over its reps; this prints, per
row, every run's value per side, the median over runs, and the
change's relative difference.
"""
import json
import statistics
import sys

runs = {"parent": [], "change": []}
for line in open(sys.argv[1]):
    r = json.loads(line)
    if r["result"] is not None:
        runs[r["side"]].append(r["result"]["queries"])
rows = sorted(set().union(*(q.keys() for side in runs.values() for q in side)))
print(f"{'row':32s} {'parent runs (s)':28s} {'change runs (s)':28s} {'parent':>7s} {'change':>7s} {'delta':>7s}")
for row in rows:
    p = [q[row] for q in runs["parent"] if q.get(row) is not None]
    c = [q[row] for q in runs["change"] if q.get(row) is not None]
    if not p or not c:
        print(f"{row:32s} missing (parent {len(p)}, change {len(c)})")
        continue
    mp, mc = statistics.median(p), statistics.median(c)
    fmt = lambda v: " ".join(f"{x:.3f}" for x in v)
    print(f"{row:32s} {fmt(p):28s} {fmt(c):28s} {mp:7.3f} {mc:7.3f} {(mc - mp) / mp:+7.1%}")
