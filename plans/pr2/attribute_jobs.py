#!/usr/bin/env python3
"""Per-job attribution, or a timeline, of one traced benchmark op.

    python3 plans/pr2/attribute_jobs.py SUMMARY_JSON [OP_INDEX] [--timeline]

SUMMARY_JSON is the `summary.json` a traced run
(`perfbench/run.py --trace 1`) leaves in
`.bench_build/work/<workload>/out/`. Each Spark job that starts inside
the op is attributed to the innermost public-call span open at its
start (`selectivesearch.*`, `client.*`) and to the engine phase
(`spark.construct`: a job run while a frame is built; `spark.execute`:
the action itself). One line per job, then totals per call.
OP_INDEX picks the traced op (default: the first traced one).

--timeline prints the op's spans, jobs and stages in start order, in ms
from the op's start, with the driver gaps between them: the time inside
a `spark.execute` span when no job runs (the benchmark's
`spark.driver_gap_ms` is their sum).

An untraced run's summary has an empty `trace`; that is reported, not
attributed.
"""
import json
import sys
from collections import defaultdict


def union(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (cur[1] - cur[0] if cur else 0.0)


def gaps(span, jobs):
    """(start, end) stretches of `span` during which no job runs."""
    out, t = [], span["start"]
    for s, e in sorted((max(j["start"], span["start"]), min(j["end"], span["end"]))
                       for j in jobs if j["end"] > span["start"] and j["start"] < span["end"]):
        if s > t:
            out.append((t, s))
        t = max(t, e)
    if span["end"] > t:
        out.append((t, span["end"]))
    return out


def load(path, op_arg):
    summary = json.load(open(path))
    trace = summary.get("trace") or {}
    spans = trace.get("spans") or []
    if not spans or "jobs" not in trace:
        sys.exit(f"{path}: untraced run (its trace is empty); "
                 "rerun with `perfbench/run.py --trace 1`")
    ops = sorted({s["op"] for s in spans if s["name"] == "op"})
    op = int(op_arg) if op_arg is not None else ops[0]
    if op not in ops:
        sys.exit(f"{path}: op {op} was not traced; traced ops: {ops}")
    root = next(s for s in spans if s["name"] == "op" and s["op"] == op)
    inside = [s for s in spans if s["op"] == op and s["name"] != "op"]
    jobs = sorted((j for j in trace["jobs"] if root["start"] <= j["start"] <= root["end"]),
                  key=lambda j: j["start"])
    stages = {s["stage"]: s for s in trace.get("stages", [])}
    return summary, op, root, inside, jobs, stages


def attribute(summary, op, root, inside, jobs, stages):
    def innermost(t, pred):
        open_ = [s for s in inside if s["start"] <= t <= s["end"] and pred(s["name"])]
        return min(open_, key=lambda s: s["end"] - s["start"])["name"] if open_ else "-"

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


def timeline(summary, op, root, inside, jobs, stages):
    t0 = root["start"]
    execute = [s for s in inside if s["name"] == "spark.execute"]
    gap_list = [g for e in execute for g in gaps(e, jobs)]
    job_stages = [stages[s] for j in jobs for s in j["stages"] if s in stages]
    print(f"# {summary['workload']} seed={summary['seed']} op={op} "
          f"op_ms={root['end'] - t0:.0f} jobs={len(jobs)} stages={len(job_stages)} "
          f"driver_gap_ms={sum(e - s for s, e in gap_list):.0f} "
          f"job_busy_ms={union([(j['start'], j['end']) for j in jobs]):.0f}")
    depth = {}
    for s in sorted(inside, key=lambda s: (s["start"], -(s["end"] - s["start"]))):
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
    rows = [(s["start"], 0, "span", s["end"] - s["start"],
             "  " * depth[s["id"]] + s["name"]) for s in inside]
    for j in jobs:
        st = [stages[s] for s in j["stages"] if s in stages]
        rows.append((j["start"], 1, "job", j["end"] - j["start"],
                     f"job {j['job']}: {len(st)} stages, {sum(s['tasks'] for s in st)} tasks"))
        for s in st:
            rows.append((s["start"], 2, "stage", s["end"] - s["start"],
                         f"  stage {s['stage']}: {s['tasks']} tasks, {s['task_ms']} task-ms, "
                         f"shuffle r/w {s['shuffle_read_bytes']}/{s['shuffle_write_bytes']} B"))
    rows += [(s, 3, "gap", e - s, "(driver: no job running)") for s, e in gap_list]
    print("t_ms\tdur_ms\tkind\twhat")
    for start, _, kind, dur, what in sorted(rows, key=lambda r: (r[0], r[1])):
        print(f"{start - t0:.0f}\t{dur:.0f}\t{kind}\t{what}")


def main():
    args = [a for a in sys.argv[1:] if a != "--timeline"]
    if not args:
        sys.exit(__doc__)
    loaded = load(args[0], args[1] if len(args) > 1 else None)
    (timeline if "--timeline" in sys.argv else attribute)(*loaded)


if __name__ == "__main__":
    main()
