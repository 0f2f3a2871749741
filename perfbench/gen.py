"""Seeded input generators for the three benchmark workloads.

Every generator draws from one numpy PCG64 stream seeded by `--seed`
and writes with fixed pyarrow settings, so the same seed gives
byte-identical files. The program under test sees only these files.

Selective search (FIXTURES.md section 2): per-shard results Parquet
`{basename}#{shard}.results-{nbuckets}`, headerless shard and bucket
score CSVs in cartesian order (query-major, then shard, then bucket),
and a qrels Parquet of the relevant (query, gdocid) pairs.

Curation: a copy-heavy document corpus and embedding corpus in the
schema of the `documents` / `embeddings` test tables (a base set of
their sf0.1 size plus one exact or perturbed replica of each member),
plus the sequence of ingest batches the loop screens or appends.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SS_SHAPES = {
    # one full experiment per op: large enough that executing the jobs
    # is most of the op
    "ss_experiment": dict(queries=50, shards=64, buckets=4, per_shard=(60, 100)),
    # a notebook-sized experiment: per-call fixed cost dominates
    "ss_interactive": dict(queries=10, shards=8, buckets=2, per_shard=(40, 60)),
}

# what one op does, read by the driver from params.tsv
SS_PARAMS = {
    "ss_experiment": dict(ks="10,30", decay_t=16, decay=0.5, bucket_t=64, cutoff=1000),
    "ss_interactive": dict(ks="10,30"),
}
# the notebook loop: one public call per op, in this rotation
INTERACTIVE_CALLS = [
    dict(name="select", t=2, decay=1.0, cutoff=0),
    dict(name="select_decay", t=4, decay=0.5, cutoff=0),
    dict(name="select_buckets", t=4, decay=1.0, cutoff=0),
    dict(name="evaluate", t=0, decay=1.0, cutoff=0),
    dict(name="select", t=4, decay=1.0, cutoff=0),
    dict(name="select_decay", t=6, decay=0.7, cutoff=0),
    dict(name="select_buckets", t=8, decay=1.0, cutoff=0),
    dict(name="evaluate_buckets", t=0, decay=1.0, cutoff=0),
    dict(name="trec_topk", t=8, decay=1.0, cutoff=100),
    dict(name="trec_export", t=3, decay=0.5, cutoff=100),
]
CURATION_PARAMS = dict(write_every=4, knn_k=10, target_lang="en")

CURATION_SHAPE = dict(base_docs=5000, doc_copies=1, base_vecs=2000,
                      vec_copies=1, dim=64, labels=10, batches=96,
                      batch_docs=200, batch_vecs=50)

# words of the test tables' documents, plus a long tail of rare tokens
COMMON = ("a the batch part spark line column order small sort fast value "
          "query agg table filter customer stream hash merge group big join "
          "scan vector slow data key index node").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
BATCH_ID_BASE = 10_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def selective_search(out, seed, queries, shards, buckets, per_shard):
    """Writes one selective-search experiment under `out`; returns its
    input properties."""
    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 1)
    q_n, s_n, b_n = queries, shards, buckets
    # how much of each query's relevant material a shard (and bucket)
    # holds: a few rich shards per query, as a topical partition gives
    quality = rng.gamma(0.5, 1.0, size=(q_n, s_n))
    bshare = rng.dirichlet(np.full(b_n, 0.7), size=(q_n, s_n))
    bquality = quality[:, :, None] * bshare
    shard_score = np.log(quality + 1e-3) + rng.normal(0, 0.7, (q_n, s_n))
    bucket_score = np.log(bquality + 1e-3) + rng.normal(0, 0.7, (q_n, s_n, b_n))
    counts = rng.integers(per_shard[0], per_shard[1] + 1, size=(q_n, s_n))
    rows = 0
    rel_q, rel_d = [], []
    for s in range(s_n):
        cols = {k: [] for k in ("query", "rank", "ldocid", "gdocid", "score",
                                "shard", "bucket")}
        for q in range(q_n):
            n = int(counts[q, s])
            ldoc = np.cumsum(rng.integers(1, 200, n)).astype(np.int64)
            score = np.sort(rng.normal(6.0 + 0.3 * np.log(quality[q, s] + 1e-3),
                                       1.5, n))[::-1]
            bucket = (rng.random(n)[:, None] >
                      np.cumsum(bshare[q, s])[None, :-1]).sum(axis=1)
            # relevance falls with the doc's rank and rises with the
            # bucket's share of the query's material
            p_rel = np.clip(0.6 * bquality[q, s, bucket] /
                            (1.0 + np.arange(n) / 40.0), 0, 0.9)
            rel = rng.random(n) < p_rel
            gdoc = s * 10_000_000 + ldoc
            cols["query"].append(np.full(n, q, np.int32))
            cols["rank"].append(np.arange(n, dtype=np.int32))
            cols["ldocid"].append(ldoc)
            cols["gdocid"].append(gdoc)
            cols["score"].append(score)
            cols["shard"].append(np.full(n, s, np.int32))
            cols["bucket"].append(bucket.astype(np.int32))
            rel_q.append(np.full(int(rel.sum()), q, np.int32))
            rel_d.append(gdoc[rel])
            rows += n
        table = pa.table({k: pa.array(np.concatenate(v)) for k, v in cols.items()})
        _write(table, os.path.join(out, f"run#{s}.results-{b_n}"))
    rq, rd = np.concatenate(rel_q), np.concatenate(rel_d)
    _write(pa.table({"query": pa.array(rq), "gdocid": pa.array(rd),
                     "rel": pa.array(np.ones(len(rq), np.int32))}),
           os.path.join(out, "qrels.parquet"))
    with open(os.path.join(out, "shard_scores.csv"), "w") as f:
        f.write("\n".join(repr(float(x)) for x in shard_score.ravel()) + "\n")
    with open(os.path.join(out, "bucket_scores.csv"), "w") as f:
        f.write("\n".join(repr(float(x)) for x in bucket_score.ravel()) + "\n")
    return {"result_rows": rows, "qrels_rows": int(len(rq)), "queries": q_n,
            "shards": s_n, "buckets": b_n}


RARE = 3000
VOCAB = np.array(COMMON + [f"t{i}" for i in range(RARE)])


def _text(rng, n_words):
    """Mostly common words, one in five from a long tail of rare ones."""
    idx = np.where(rng.random(n_words) < 0.8, rng.integers(0, len(COMMON), n_words),
                   len(COMMON) + rng.integers(0, RARE, n_words))
    return " ".join(VOCAB[idx].tolist())


def _perturb(rng, text):
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 4))):
        op = rng.integers(0, 3)
        i = int(rng.integers(0, len(words)))
        w = f"t{int(rng.integers(0, RARE))}"
        if op == 0:
            words[i] = w
        elif op == 1 and len(words) > 3:
            del words[i]
        else:
            words.insert(i, w)
    return " ".join(words)


def _docs_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)].tolist(),
                         pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _vecs_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(np.asarray(labels, np.int32)),
    })


def _copies(rng, texts, n, p_exact):
    """n replicas of random members of `texts`: exact with p_exact,
    otherwise lightly perturbed."""
    src = rng.integers(0, len(texts), n)
    exact = rng.random(n) < p_exact
    return [texts[i] if e else _perturb(rng, texts[i]) for i, e in zip(src, exact)]


def _vec_copies(rng, vecs, n, p_exact):
    src = rng.integers(0, len(vecs), n)
    exact = rng.random(n) < p_exact
    noise = rng.normal(0, 0.02, (n, vecs.shape[1])) * (~exact)[:, None]
    return (vecs[src] + noise).astype(np.float32), src


def curation(out, seed, base_docs, doc_copies, base_vecs, vec_copies, dim,
             labels, batches, batch_docs, batch_vecs):
    """Writes the curation corpus (one part file per table) and the
    ingest batches under `out`; returns the input properties."""
    rng = _rng(seed, 2)
    base = [_text(rng, int(rng.integers(8, 90))) for _ in range(base_docs)]
    texts = base + _copies(rng, base, base_docs * doc_copies, 0.6)
    perm = rng.permutation(len(texts))
    texts = [texts[i] for i in perm]
    os.makedirs(os.path.join(out, "docs"), exist_ok=True)
    _write(_docs_table(np.arange(len(texts)), texts, rng),
           os.path.join(out, "docs", "part-00000.parquet"))

    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, base_vecs)
    bv = centers[lab] + rng.normal(0, 1.2, (base_vecs, dim))
    bv = (bv / np.linalg.norm(bv, axis=1, keepdims=True) * 0.5).astype(np.float32)
    cv, src = _vec_copies(rng, bv, base_vecs * vec_copies, 0.5)
    vecs = np.concatenate([bv, cv])
    vlab = np.concatenate([lab, lab[src]])
    vperm = rng.permutation(len(vecs))
    vecs, vlab = vecs[vperm], vlab[vperm]
    os.makedirs(os.path.join(out, "vecs"), exist_ok=True)
    _write(_vecs_table(np.arange(len(vecs)), vecs, vlab),
           os.path.join(out, "vecs", "part-00000.parquet"))

    pool_texts, pool_vecs = list(texts), vecs
    for b in range(batches):
        d = os.path.join(out, "batches", f"{b:03d}")
        os.makedirs(d, exist_ok=True)
        n_copy = batch_docs * 3 // 10
        bt = (_copies(rng, pool_texts, n_copy, 1.0) +
              _copies(rng, pool_texts, n_copy, 0.0) +
              [_text(rng, int(rng.integers(8, 90)))
               for _ in range(batch_docs - 2 * n_copy)])
        ids = BATCH_ID_BASE + b * 10_000 + np.arange(batch_docs)
        _write(_docs_table(ids, bt, rng), os.path.join(d, "docs.parquet"))
        nv = batch_vecs * 3 // 10
        ex, _ = _vec_copies(rng, pool_vecs, nv, 1.0)
        pe, _ = _vec_copies(rng, pool_vecs, nv, 0.0)
        fl = rng.integers(0, labels, batch_vecs - 2 * nv)
        fr = centers[fl] + rng.normal(0, 1.2, (len(fl), dim))
        fr = fr / np.linalg.norm(fr, axis=1, keepdims=True) * 0.5
        qv = np.concatenate([ex, pe, fr]).astype(np.float32)
        _write(_vecs_table(BATCH_ID_BASE + b * 10_000 + np.arange(batch_vecs), qv,
                           rng.integers(0, labels, batch_vecs)),
               os.path.join(d, "vecs.parquet"))
    return {"corpus_docs": len(texts), "corpus_vecs": int(len(vecs)),
            "exact_dup_share": round(1.0 - len(set(texts)) / len(texts), 6),
            "batches": batches, "batch_docs": batch_docs, "batch_vecs": batch_vecs,
            "dim": dim}


def _write_tsv(path, rows):
    keys = list(rows[0])
    with open(path, "w") as f:
        f.write("\t".join(keys) + "\n")
        for r in rows:
            f.write("\t".join(str(r[k]) for k in keys) + "\n")


def _tree_props(root):
    files, size, h = 0, 0, hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            files += 1
            size += os.path.getsize(p)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return files, size, h.hexdigest()


def generate(workload, seed, out):
    """Generates the inputs of `workload` under `out` and returns the
    recorded input properties (counts, bytes, content digest)."""
    if workload in SS_SHAPES:
        props = selective_search(out, seed, **SS_SHAPES[workload])
        params = dict(props, **SS_PARAMS[workload])
        if workload == "ss_interactive":
            _write_tsv(os.path.join(out, "calls.tsv"), INTERACTIVE_CALLS)
    elif workload == "curation_ingest":
        props = curation(out, seed, **CURATION_SHAPE)
        params = dict(props, **CURATION_PARAMS)
    else:
        raise ValueError(f"unknown workload {workload}")
    _write_tsv(os.path.join(out, "params.tsv"),
               [dict(key=k, value=v) for k, v in sorted(params.items())])
    files, size, digest = _tree_props(out)
    props.update(files=files, bytes=size, sha256=digest)
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props
