#!/usr/bin/env python3
"""Per-job attribution of one traced benchmark op.

    python3 plans/pr2/attribute_jobs.py SUMMARY_JSON [OP_INDEX]

SUMMARY_JSON is the `summary.json` a traced run
(`perfbench/run.py --trace 1`) leaves in
`.bench_build/work/<workload>/out/`. Each Spark job that starts inside
the op is attributed to the innermost public-call span open at its
start (`selectivesearch.*`, `client.*`) and to the engine phase
(`spark.construct`: a job run while a frame is built; `spark.execute`:
the action itself). One line per job, then totals per call.
OP_INDEX picks the traced op (default: the first traced one).
"""
import json
import sys
from collections import defaultdict


def main():
    summary = json.load(open(sys.argv[1]))
    trace = summary["trace"]
    spans = trace["spans"]
    stages = {s["stage"]: s for s in trace["stages"]}
    ops = sorted({s["op"] for s in spans if s["name"] == "op"})
    op = int(sys.argv[2]) if len(sys.argv) > 2 else ops[0]
    root = next(s for s in spans if s["name"] == "op" and s["op"] == op)
    inside = [s for s in spans if s["op"] == op and s["name"] != "op"]

    def innermost(t, pred):
        open_ = [s for s in inside if s["start"] <= t <= s["end"] and pred(s["name"])]
        return min(open_, key=lambda s: s["end"] - s["start"])["name"] if open_ else "-"

    jobs = [j for j in trace["jobs"] if root["start"] <= j["start"] <= root["end"]]
    jobs.sort(key=lambda j: j["start"])
    cols = ("job", "call", "phase", "stages", "tasks", "task_ms", "wall_ms", "shuffle_write_b")
    print(f"# {summary['workload']} seed={summary['seed']} op={op} "
          f"op_ms={root['end'] - root['start']:.0f} jobs={len(jobs)}")
    print("\t".join(cols))
    per_call = defaultdict(lambda: [0, 0, 0, 0, 0])
    for j in jobs:
        call = innermost(j["start"], lambda n: not n.startswith("spark."))
        phase = innermost(j["start"], lambda n: n.startswith("spark."))
        st = [stages[s] for s in j["stages"] if s in stages]
        tasks = sum(s["tasks"] for s in st)
        task_ms = sum(s["task_ms"] for s in st)
        wbytes = sum(s["shuffle_write_bytes"] for s in st)
        wall = j["end"] - j["start"]
        print("\t".join(str(v) for v in (j["job"], call, phase, len(st), tasks, task_ms,
                                         wall, wbytes)))
        acc = per_call[call]
        for i, v in enumerate((1, tasks, task_ms, wall, wbytes)):
            acc[i] += v
    print()
    print("call\tjobs\ttasks\ttask_ms\twall_ms\tshuffle_write_b")
    for call, acc in sorted(per_call.items()):
        print("\t".join([call] + [str(v) for v in acc]))


if __name__ == "__main__":
    main()
