"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import statistics
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import check
import gen
import metrics
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def test_median_matches_statistics_median():
    for xs in ([3, 1, 2], [4, 1, 3, 2], [7.5, 0.5], [5.0]):
        assert metrics.median(xs) == statistics.median(xs)
    assert metrics.median([]) == 0.0


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert metrics.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_self_time_subtracts_child_coverage_once():
    spans = [
        {"id": 0, "name": "op", "parent": -1, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "call", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "call", "parent": 0, "start": 4.0, "end": 6.0},
        {"id": 3, "name": "spark.job", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    t = metrics.layer_table(spans)
    assert t["op"]["self_ms"] == pytest.approx(5.0)  # 10 - union [1, 6]
    assert t["call"]["total_ms"] == pytest.approx(6.0)
    assert t["call"]["self_ms"] == pytest.approx(5.0)  # (4 - 1) + 2
    assert t["spark.job"]["self_ms"] == pytest.approx(1.0)


def _digest(workload, seed, shape=None):
    with tempfile.TemporaryDirectory() as d:
        if shape is None:
            return gen.generate(workload, seed, d)["sha256"]
        gen.curation(d, seed, **shape)
        return gen._tree_props(d)[2]


def test_same_seed_gives_byte_identical_inputs():
    assert _digest("ss_interactive", 3) == _digest("ss_interactive", 3)
    assert _digest("ss_interactive", 3) != _digest("ss_interactive", 4)
    small = dict(gen.CURATION_SHAPE, base_docs=200, base_vecs=100, batches=3)
    assert _digest(None, 3, small) == _digest(None, 3, small)
    assert _digest(None, 3, small) != _digest(None, 4, small)


def _op(index, kind, traced):
    return {"index": index, "kind": kind, "start": 10.0 * index, "end": 10.0 * index + 8,
            "ms": 8.0, "rows_in": 5, "phases": {f"{kind}_ms": 8.0}, "error": None,
            "traced": traced, "extra": {}}


def test_every_metric_benchmark_json_declares_is_produced():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert bench["paths"] == ["perfbench"]
    # the least a run can hold: one op of each kind, one of them traced,
    # and no public call, job, kernel or single-core op recorded
    summary = {"setup_s": [1.0, 1.5, 2.0], "peak_rss_mb": 100.0, "cores": 4,
               "ops": [_op(0, "write", False), _op(1, "read", False), _op(2, "read", True)],
               "trace": {"spans": [{"id": 0, "name": "op", "parent": -1, "op": 2,
                                    "start": 20.0, "end": 28.0, "attrs": {}}],
                         "jobs": [], "stages": [], "kernels": {}, "single_core_ops": []}}
    e2e = metrics.end_to_end(summary, {})
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    assert e2e["rows_per_s"] == pytest.approx(10 / 0.018)  # untraced ops only
    assert set(metrics.per_layer(summary)[0]) == {m["name"] for m in bench["per_layer"]}


def test_compare_reports_the_first_difference():
    header = ["query", "score"]
    assert check.compare(header, [["1", "0.5"]], header, [[1, 0.5]], "t") is None
    assert "row 0 column score" in check.compare(header, [["1", "0.25"]], header,
                                                 [[1, 0.5]], "t")
    assert "rows" in check.compare(header, [], header, [[1, 0.5]], "t")


def test_minhash_reference_signature_matches_its_definition(tmp_path):
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "lang": ["en"] * 3,
                             "text": ["a b c d", "a b c d", "a b"]}), path)
    sigs = check.signatures(duckdb.connect(), path)
    assert sorted(sigs) == [1, 2]  # fewer than 3 words: no shingles, no signature
    assert (sigs[1] == sigs[2]).all()
    pairs = [(int(h[:12], 16), int(h[12:24], 16)) for h in
             (hashlib.md5(s.encode()).hexdigest() for s in ("a b c", "b c d"))]
    assert sigs[1].tolist() == [min(h1 + i * h2 for h1, h2 in pairs)
                                for i in range(check.MH_HASHES)]
