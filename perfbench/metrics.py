"""Metric arithmetic: medians and spreads, the end-to-end metrics of a
run, and the per-layer metrics and self-time table of a traced run.
Metric names and units are declared in BENCHMARK.json."""
import collections
import math
import statistics

SS_CALLS = ("load", "select", "select_decay", "select_buckets", "evaluate",
            "evaluate_buckets", "trec")
OPERATOR_CALLS = ("dedup_batch", "knn_batch", "dsir_batch")
KERNELS = ("ws_feature_counts", "word_shingles", "nearest_cells", "top_k_tag")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartile_spread(xs):
    """(Q3 - Q1) / median, with the quartiles of statistics.quantiles."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def end_to_end(summary, verdicts):
    ops = [o for o in summary["ops"] if not o["traced"]]
    ms = [o["ms"] for o in ops]
    wall_s = (ops[-1]["end"] - ops[0]["start"]) / 1000.0
    failed = sum(1 for o in ops if o["error"] or verdicts.get(o["index"]))
    phase = lambda k: [o["phases"][k] for o in ops if k in o["phases"]]
    return {
        "setup_s": median(summary["setup_s"]),
        "ops_per_s": len(ops) / wall_s,
        "op_p50_ms": median(ms),
        "rows_per_s": sum(o["rows_in"] for o in ops) / wall_s,
        "read_p50_ms": median(phase("read_ms")),
        "write_p50_ms": median(phase("write_ms")),
        "correct_ratio": 1.0 - failed / len(ops),
        "peak_rss_mb": summary["peak_rss_mb"],
    }


def _union(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def spans_with_engine(trace):
    """The recorded spans plus one child span per scheduler job (under
    the deepest span open at its start) and per stage (under its job)."""
    spans = [dict(s) for s in trace["spans"]]
    by_id = {s["id"]: s for s in spans}
    depth = {}

    def d(s):
        if s["id"] not in depth:
            depth[s["id"]] = 0 if s["parent"] < 0 else d(by_id[s["parent"]]) + 1
        return depth[s["id"]]

    stages = {st["stage"]: st for st in trace["stages"]}
    next_id = max(by_id, default=0) + 1
    # job times have millisecond resolution: allow that much slack
    for job in sorted(trace["jobs"], key=lambda j: j["start"]):
        t = job["start"] + min(0.5, (job["end"] - job["start"]) / 2)
        open_ = [s for s in spans if s["name"] not in ("spark.job", "spark.stage")
                 and s["start"] - 1 <= t <= s["end"] + 1]
        if not open_:
            continue
        parent = max(open_, key=d)
        js = {"id": next_id, "name": "spark.job", "parent": parent["id"],
              "op": parent["op"], "start": float(job["start"]), "end": float(job["end"]),
              "attrs": {}}
        next_id += 1
        spans.append(js)
        by_id[js["id"]] = js
        for sid in job["stages"]:
            st = stages.get(sid)
            if st is None or not st["end"]:
                continue
            ss = {"id": next_id, "name": "spark.stage", "parent": js["id"],
                  "op": js["op"], "start": float(st["start"]), "end": float(st["end"]),
                  "attrs": {k: float(st[k]) for k in (
                      "task_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                      "shuffle_write_records", "spill_bytes", "input_bytes")}}
            next_id += 1
            spans.append(ss)
            by_id[ss["id"]] = ss
    return spans


def layer_table(spans):
    """Per span name: count, total and self time (duration minus the
    part its children cover)."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = s["end"] - s["start"]
        covered = _union(_clip([(c["start"], c["end"]) for c in children[s["id"]]],
                               s["start"], s["end"]))
        r = rows[s["name"]]
        r[0] += 1
        r[1] += dur
        r[2] += dur - covered
    return {k: {"count": v[0], "total_ms": v[1], "self_ms": v[2]} for k, v in rows.items()}


def per_layer(summary):
    trace = summary["trace"]
    cores = summary["cores"]
    spans = spans_with_engine(trace)
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def under(s, name=None):
        out, todo = [], list(children[s["id"]])
        while todo:
            c = todo.pop()
            if name is None or c["name"] == name:
                out.append(c)
            todo.extend(children[c["id"]])
        return out

    traced = {o["index"]: o for o in summary["ops"] if o["traced"]}
    untraced = [o for o in summary["ops"] if not o["traced"]]
    per_op = collections.defaultdict(list)
    totals = collections.Counter()
    for root in (s for s in spans if s["name"] == "op" and s["op"] in traced):
        op = traced[root["op"]]
        kind = op["kind"]
        everything = under(root)
        named = collections.defaultdict(list)
        for s in everything:
            named[s["name"]].append(s)
        dur = lambda ss: _union([(s["start"], s["end"]) for s in ss])
        stages = named["spark.stage"]
        st = lambda k: sum(s["attrs"][k] for s in stages)
        execute = named["spark.execute"]
        gap = sum((e["end"] - e["start"]) - _union(_clip(
            [(j["start"], j["end"]) for j in under(e, "spark.job")], e["start"], e["end"]))
            for e in execute)
        v = {
            "spark.construct_ms": dur(named["spark.construct"]),
            "spark.plan_ms": dur(named["spark.plan"]),
            "spark.execute_ms": dur(execute),
            "spark.execute_share": dur(execute) / op["ms"],
            "spark.driver_gap_ms": gap,
            "spark.jobs_per_op": len(named["spark.job"]),
            "spark.stages_per_op": len(stages),
            "spark.task_busy_ms": st("task_ms"),
            "spark.cpu_util": st("task_ms") / (op["ms"] * cores),
            "spark.shuffle_read_bytes": st("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": st("shuffle_write_bytes"),
            "spark.spill_bytes": st("spill_bytes"),
            "spark.input_bytes": st("input_bytes"),
        }
        for k, x in v.items():
            per_op[k].append(x)
        # a call's time per op that makes it (the interactive loop makes one)
        for c in SS_CALLS:
            if named[f"selectivesearch.{c}"]:
                per_op[f"selectivesearch.{c}_ms"].append(dur(named[f"selectivesearch.{c}"]))
        lookups = named["core.lookup"]
        attr = lambda ss, k: sum(s["attrs"].get(k, 0.0) for s in ss)
        totals["lookups"] += attr(lookups, "lookups")
        totals["hits"] += attr(lookups, "hits")
        per_op["core.opcaches_tracked"].append(op["extra"].get("opcaches_tracked", 0.0))
        if kind == "read":
            for c in OPERATOR_CALLS:
                per_op[f"operators.{c}_ms"].append(dur(named[f"operators.{c}"]))
            calls = [s for c in OPERATOR_CALLS for s in named[f"operators.{c}"]]
            rows = lambda ss: attr([x for s in ss for x in [s] + under(s)], "rows_out")
            per_op["operators.pairs_out"].append(
                rows(named["operators.dedup_batch"] + named["operators.knn_batch"]))
            totals["out_rows"] += rows(calls)
            totals["shuffle_records"] += sum(s["attrs"]["shuffle_write_records"]
                                             for c in calls for s in under(c, "spark.stage"))
            totals["read_op_builds"] += attr(lookups, "lookups") - attr(lookups, "hits")
        if kind == "write":
            per_op["core.index_build_ms"].append(attr(lookups, "build_ms"))
            per_op["core.index_bytes_written"].append(attr(lookups, "index_bytes"))

    # layers the workload does not load read 0
    out = {f"{layer}.{c}_ms": 0.0 for layer, calls in (
        ("selectivesearch", SS_CALLS), ("operators", OPERATOR_CALLS)) for c in calls}
    out.update({k: 0.0 for k in ("operators.pairs_out", "core.index_build_ms",
                                 "core.index_bytes_written")})
    out.update({k: median(v) for k, v in per_op.items()})
    out["core.opcaches_tracked"] = max(per_op["core.opcaches_tracked"], default=0.0)
    out["core.index_hit_ratio"] = (totals["hits"] / totals["lookups"]
                                   if totals["lookups"] else 0.0)
    out["core.read_op_builds"] = totals["read_op_builds"]
    out["operators.out_per_shuffle_record"] = (
        totals["out_rows"] / totals["shuffle_records"] if totals["shuffle_records"] else 0.0)
    for name in KERNELS:
        out[f"functions.{name}_ns_per_row"] = trace["kernels"].get(name, {}).get(
            "ns_per_row", 0.0)
    out["spark.single_core_op_ms"] = out["spark.cores_speedup"] = 0.0
    single = trace["single_core_ops"]
    if single:
        one = single[0]
        same = [o["ms"] for o in untraced if o["kind"] == one["kind"]]
        out["spark.single_core_op_ms"] = one["ms"]
        out["spark.cores_speedup"] = one["ms"] / median(same) if same else 0.0
    out["trace.overhead_ms"] = (median([o["ms"] for o in traced.values()])
                                - median([o["ms"] for o in untraced]))
    return out, layer_table(spans)
