"""Output correctness: references computed outside the timed loop,
independently of the library under test, and compared with what every
op left in its directory.

Selective search follows the repository's DuckDB-oracle approach: the
relational parts (positional CSV binding, global rank, relevance join,
selections, TREC top-k) are DuckDB SQL over the generated files, the
greedy bucket-budget walk and the per-step P@k walk are plain Python.

Curation pair sets are checked against an independent re-implementation
of the same definitions: word 3-shingle MinHash with 4 bands of 4 rows
(candidates are exactly the pairs that share a band), the hashed
unigram+bigram DSIR model and score, and exact integer cosines for the
returned nearest vectors (whose neighbour sets are approximate by
design, so their scores, order, size and exact-copy recall are checked).
"""
import collections
import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# library constants the definitions depend on
MH_N, MH_HASHES, MH_BANDS = 3, 16, 4
DSIR_BUCKETS = 8192
QUANT_SCALE = 1000


def read_params(inp):
    rows = read_tsv(os.path.join(inp, "params.tsv"))[1]
    return {k: v for k, v in rows}


def read_tsv(path):
    with open(path) as f:
        lines = f.read().split("\n")
    return lines[0].split("\t"), [ln.split("\t") for ln in lines[1:] if ln]


def _same(a, b):
    if a == b:
        return True
    try:
        fa, fb = float(a), float(b)
    except ValueError:
        return False
    return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)


def compare(got_header, got_rows, exp_header, exp_rows, what, tol=None):
    """Row-by-row comparison of the expected columns (by name); returns
    an error string or None."""
    try:
        idx = [got_header.index(c) for c in exp_header]
    except ValueError:
        return f"{what}: columns {got_header} lack one of {exp_header}"
    if len(got_rows) != len(exp_rows):
        return f"{what}: {len(got_rows)} rows, expected {len(exp_rows)}"
    for n, (g, e) in enumerate(zip(got_rows, exp_rows)):
        for i, c, ev in zip(idx, exp_header, e):
            gv = g[i]
            ok = (abs(float(gv) - float(ev)) <= tol[c]) if tol and c in tol else _same(gv, str(ev))
            if not ok:
                return f"{what}: row {n} column {c}: {gv} != {ev}"
    return None


class Cached:
    """Compares a file against a reference once per distinct content."""

    def __init__(self):
        self.seen = {}

    def check(self, path, fn):
        if not os.path.exists(path):
            return f"{os.path.basename(path)}: missing"
        with open(path, "rb") as f:
            key = hashlib.sha256(f.read()).hexdigest()
        if key not in self.seen:
            self.seen[key] = fn(path)
        return self.seen[key]


# ---------------------------------------------------------------- selective search

class SsOracle:
    def __init__(self, inp):
        p = read_params(inp)
        self.p = p
        self.q, self.s, self.b = int(p["queries"]), int(p["shards"]), int(p["buckets"])
        self.ks = [int(k) for k in p["ks"].split(",")]
        con = duckdb.connect()
        files = [os.path.join(inp, f"run#{s}.results-{self.b}") for s in range(self.s)]
        con.execute("CREATE TABLE results AS SELECT query, ldocid, gdocid, score, shard, "
                    "bucket FROM read_parquet(?)", [files])
        con.execute("CREATE TABLE qrels AS SELECT * FROM read_parquet(?)",
                    [os.path.join(inp, "qrels.parquet")])
        sc = np.loadtxt(os.path.join(inp, "shard_scores.csv"), dtype=np.float64, ndmin=1)
        bc = np.loadtxt(os.path.join(inp, "bucket_scores.csv"), dtype=np.float64, ndmin=1)
        qs, ss = np.meshgrid(np.arange(self.q), np.arange(self.s), indexing="ij")
        shard_raw = {"query": qs.ravel(), "shard": ss.ravel(), "shard_score": sc}
        qb, sb, bb = np.meshgrid(np.arange(self.q), np.arange(self.s), np.arange(self.b),
                                 indexing="ij")
        bucket_raw = {"query": qb.ravel(), "shard": sb.ravel(), "bucket": bb.ravel(),
                      "shard_score": bc}
        con.register("shard_raw", pa.table(shard_raw))
        con.register("bucket_raw", pa.table(bucket_raw))
        # pandas' rank(method='first') ties by input (cartesian) order
        con.execute("CREATE TABLE shard_sel AS SELECT query, shard, shard_score, "
                    "(row_number() OVER (PARTITION BY query ORDER BY shard_score DESC, "
                    "shard) - 1)::INT AS rank FROM shard_raw")
        con.execute("CREATE TABLE bucket_sel AS SELECT query, shard, bucket, shard_score, "
                    "(row_number() OVER (PARTITION BY query ORDER BY shard_score DESC, "
                    "shard, bucket) - 1)::INT AS rank FROM bucket_raw")
        con.execute("CREATE TABLE ranked AS SELECT r.query, r.shard, r.bucket, "
                    "coalesce(q.rel, 0) AS rel, row_number() OVER (PARTITION BY r.query "
                    "ORDER BY r.score DESC, r.gdocid) AS global_rank "
                    "FROM results r LEFT JOIN qrels q USING (query, gdocid)")
        self.nb = con.execute("SELECT max(bucket) + 1 FROM results").fetchone()[0]
        self.con = con

    # --- selections, as (query, shard[, bucket]) key tables
    def _budgets(self, t, decay):
        out, v = [], float(self.nb)
        for _ in range(t):
            out.append(math.ceil(v))
            v *= decay
        return out

    def _shard_keys(self, t, decay):
        budgets = self._budgets(t, decay)
        rows = self.con.execute("SELECT query, shard, rank FROM shard_sel WHERE rank < ?",
                                [t]).fetchall()
        return {"query": np.array([r[0] for r in rows]),
                "shard": np.array([r[1] for r in rows]),
                "buckets": np.array([budgets[r[2]] if decay != 1.0 else self.b
                                     for r in rows])}

    def _bucket_keys(self, threshold):
        rows = self.con.execute("SELECT query, shard, bucket FROM bucket_sel "
                                "ORDER BY query, rank, shard, bucket").fetchall()
        keys = collections.defaultdict(list)
        by_q = collections.defaultdict(list)
        for q, s, b in rows:
            by_q[q].append((s, b))
        for q, order in by_q.items():
            taken = collections.defaultdict(int)
            total = 0
            for s, b in order:
                if total >= threshold:
                    break
                cost = b + 1 - taken[s]
                if cost >= 1 and total + cost <= threshold:
                    taken[s] += cost
                    total += cost
            for s, n in taken.items():
                for b in range(n):
                    keys["query"].append(q)
                    keys["shard"].append(s)
                    keys["bucket"].append(b)
        return {k: np.array(v) for k, v in keys.items()}

    def selected(self, kind, t, decay=1.0):
        """(query, ldocid, gdocid, score, shard, bucket) rows of a
        selection, in the (query, score desc, shard, bucket, gdocid)
        order every select call returns."""
        if kind == "buckets":
            self.con.register("keys", pa.table(self._bucket_keys(t)))
            join = "JOIN keys k USING (query, shard, bucket)"
        else:
            self.con.register("keys", pa.table(self._shard_keys(t, decay)))
            join = "JOIN keys k USING (query, shard) WHERE r.bucket < k.buckets"
        self.con.execute("CREATE OR REPLACE TEMP TABLE sel AS SELECT r.* FROM results r "
                         f"{join}")
        self.con.unregister("keys")
        return (["query", "ldocid", "gdocid", "score", "shard", "bucket"],
                self.con.execute("SELECT query, ldocid, gdocid, score, shard, bucket "
                                 "FROM sel ORDER BY query, score DESC, shard, bucket, "
                                 "gdocid").fetchall())

    def trec(self, cutoff):
        """TREC rows of the last `selected` call."""
        return (["query", "iter", "title", "rank", "score", "run_id"],
                self.con.execute(
                    "SELECT query, 'Q0', title, rn - 1, score, 'null' FROM ("
                    "SELECT query, 'd' || gdocid AS title, score, row_number() OVER ("
                    "PARTITION BY query ORDER BY score DESC, 'd' || gdocid) AS rn FROM sel)"
                    " WHERE rn <= ? ORDER BY query, rn", [cutoff]).fetchall())

    def evaluate(self, buckets):
        """P@k at every selection step (query, p_k..., step)."""
        keys = "query, shard, bucket" if buckets else "query, shard"
        table = "bucket_sel" if buckets else "shard_sel"
        steps = self.s * (self.b if buckets else 1)
        d = self.con.execute(
            f"SELECT r.query, r.rel, s.rank FROM ranked r JOIN {table} s USING ({keys}) "
            f"WHERE s.rank < {steps} ORDER BY r.query, r.global_rank").fetchnumpy()
        q, rel, entry = d["query"], d["rel"].astype(np.int64), d["rank"] + 1
        out = []
        bounds = np.flatnonzero(np.diff(q)) + 1
        for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(q)]):
            e, r = entry[lo:hi], rel[lo:hi]
            for step in range(1, steps + 1):
                idx = np.flatnonzero(e <= step)[:max(self.ks)]
                if len(idx) == 0:
                    continue
                vals = [float(r[idx[:k]].sum()) / len(idx[:k]) for k in self.ks]
                out.append([int(q[lo])] + vals + [step])
        return ["query"] + [f"p_{k}" for k in self.ks] + ["step"], out


def _tsv_check(header_rows, what):
    eh, er = header_rows

    def fn(path):
        gh, gr = read_tsv(path)
        return compare(gh, gr, eh, er, what)
    return fn


def _trec_check(header_rows, what):
    eh, er = header_rows

    def fn(path):
        with open(path) as f:
            rows = [ln.split("\t") for ln in f.read().split("\n") if ln]
        return compare(eh, rows, eh, er, what)
    return fn


def check_ss_experiment(inp, out, ops):
    o = SsOracle(inp)
    p = o.p
    checks = {
        "eval_shards.tsv": _tsv_check(o.evaluate(False), "evaluate shards"),
        "eval_buckets.tsv": _tsv_check(o.evaluate(True), "evaluate buckets"),
    }
    o.selected("shards", int(p["decay_t"]), float(p["decay"]))
    checks["shards.trec"] = _trec_check(o.trec(int(p["cutoff"])), "trec shards")
    o.selected("buckets", int(p["bucket_t"]))
    checks["buckets.trec"] = _trec_check(o.trec(int(p["cutoff"])), "trec buckets")
    cache = Cached()
    return {op["index"]: next((err for name, fn in checks.items()
                               for err in [cache.check(_op_file(out, op, name), fn)] if err),
                              None)
            for op in ops if op["kind"] != "error"}


def check_ss_interactive(inp, out, ops, calls):
    o = SsOracle(inp)
    refs = {}
    for n, c in enumerate(calls):
        name, t, decay, cutoff = c["name"], int(c["t"]), float(c["decay"]), int(c["cutoff"])
        if name in ("select", "select_decay"):
            ref = _tsv_check(o.selected("shards", t, decay), name)
        elif name == "select_buckets":
            ref = _tsv_check(o.selected("buckets", t), name)
        elif name in ("evaluate", "evaluate_buckets"):
            ref = _tsv_check(o.evaluate(name == "evaluate_buckets"), name)
        elif name == "trec_topk":
            o.selected("shards", t, decay)
            ref = _tsv_check(o.trec(cutoff), name)
        elif name == "trec_export":
            o.selected("shards", t, decay)
            ref = _trec_check(o.trec(cutoff), name)
        else:
            raise ValueError(name)
        refs[n] = ("run.trec" if name == "trec_export" else "result.tsv", ref)
    cache = {n: Cached() for n in refs}
    verdicts = {}
    for op in ops:
        if op["kind"] == "error":
            continue
        n = op["index"] % len(calls)
        fname, fn = refs[n]
        verdicts[op["index"]] = cache[n].check(_op_file(out, op, fname), fn)
    return verdicts


def _op_file(out, op, name):
    return os.path.join(out, f"op-{op['index']:05d}", name)


# ---------------------------------------------------------------- curation

_HEX48 = "('0x' || substr(md5({x}), {at}, 12))::BIGINT"
# whitespace tokens, as the generator writes them (single spaces)
_TOKENS = "SELECT doc_id, lang, string_split(text, ' ') AS t FROM read_parquet(?)"
# distinct word 3-shingles, hashed to the (h1, h2) pair of md5's first
# two 48-bit hex fields; the signature is min(h1 + i * h2), i < 16
_SIGNATURES = f"""
WITH toks AS ({_TOKENS}),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - {MH_N - 2}),
         i -> array_to_string(t[i:i + {MH_N - 1}], ' '))) AS s
       FROM toks WHERE len(t) >= {MH_N}),
h AS (SELECT doc_id, {_HEX48.format(x="s", at=1)} AS h1, {_HEX48.format(x="s", at=13)} AS h2
      FROM sh)
SELECT doc_id, {", ".join(f"min(h1 + {i} * h2)" for i in range(MH_HASHES))}
FROM h GROUP BY doc_id"""
# unigram + bigram features with multiplicity, hashed to a DSIR bucket
_FEATURES = f"""
WITH toks AS ({_TOKENS}),
f AS (SELECT doc_id, lang, unnest(t) AS f FROM toks
      UNION ALL
      SELECT doc_id, lang, unnest(list_transform(range(1, len(t)),
                                                 i -> t[i] || ' ' || t[i + 1])) FROM toks)
SELECT doc_id, lang, {_HEX48.format(x="f", at=1)} % {DSIR_BUCKETS} AS b FROM f"""


def signatures(con, path):
    """doc_id -> MinHash signature of the docs with at least n words."""
    rows = con.execute(_SIGNATURES, [path]).fetchall()
    return {r[0]: np.array(r[1:], dtype=np.int64) for r in rows}


class CurationOracle:
    def __init__(self, inp):
        self.p = read_params(inp)
        self.con = duckdb.connect()
        self.sigs = {}
        self.bands = collections.defaultdict(list)
        self.c_r = np.zeros(DSIR_BUCKETS, np.int64)
        self.c_t = np.zeros(DSIR_BUCKETS, np.int64)
        self.vecs = {}
        # the generated corpus only: the run appends batches next to it
        self._add(os.path.join(inp, "docs", "part-00000.parquet"),
                  os.path.join(inp, "vecs", "part-00000.parquet"))

    @staticmethod
    def _band_keys(sig):
        r = MH_HASHES // MH_BANDS
        return [tuple(sig[b * r:(b + 1) * r].tolist()) for b in range(MH_BANDS)]

    def _add(self, docs, vecs):
        for i, sig in signatures(self.con, docs).items():
            self.sigs[i] = sig
            for b, key in enumerate(self._band_keys(sig)):
                self.bands[(b, key)].append(i)
        counts = self.con.execute(
            f"SELECT b, count(*), count(*) FILTER (WHERE lang = ?) FROM ({_FEATURES}) "
            "GROUP BY b", [self.p["target_lang"], docs]).fetchall()
        for b, c_r, c_t in counts:
            self.c_r[b] += c_r
            self.c_t[b] += c_t
        v = pq.read_table(vecs).to_pydict()
        for i, e in zip(v["vec_id"], v["embedding"]):
            self.vecs[i] = quantize(e)

    def append(self, batch):
        self._add(os.path.join(batch, "docs.parquet"), os.path.join(batch, "vecs.parquet"))

    def dedup(self, docs):
        new = signatures(self.con, docs)
        buckets = collections.defaultdict(list)
        for i, sig in new.items():
            for b, key in enumerate(self._band_keys(sig)):
                buckets[(b, key)].append(i)
        pairs = set()
        for key, ids in buckets.items():
            others = self.bands.get(key, []) + ids
            for x in ids:
                for y in others:
                    if x != y:
                        pairs.add((min(x, y), max(x, y)))
        sig = lambda i: new[i] if i in new else self.sigs[i]
        return ["id_a", "id_b", "est_jaccard"], sorted(
            (a, b, float(np.sum(sig(a) == sig(b))) / MH_HASHES) for a, b in pairs)

    def dsir(self, docs):
        """Per doc: feature count and the summed quantized log-ratio of
        its buckets under the corpus model (target slice vs all)."""
        n_r, n_t = int(self.c_r.sum()), int(self.c_t.sum())
        q = np.full(DSIR_BUCKETS, math.floor(1e9 * math.log(
            (1.0 / float(n_t + DSIR_BUCKETS)) / (1.0 / float(n_r + DSIR_BUCKETS)))),
            dtype=np.int64)
        for b in np.flatnonzero(self.c_r > 0):
            num = float(self.c_t[b] + 1) / float(n_t + DSIR_BUCKETS)
            den = float(self.c_r[b] + 1) / float(n_r + DSIR_BUCKETS)
            q[b] = math.floor(1e9 * math.log(num / den))
        self.con.register("q", pa.table({"b": np.arange(DSIR_BUCKETS), "q": q}))
        rows = self.con.execute(f"SELECT doc_id, count(*), sum(q)::HUGEINT FROM ({_FEATURES}) "
                                "JOIN q USING (b) GROUP BY doc_id ORDER BY doc_id",
                                [docs]).fetchall()
        self.con.unregister("q")
        return ["doc_id", "n_feats", "logweight"], [(i, n, float(qs) / 1e9)
                                                     for i, n, qs in rows]

    def knn(self, d, got_header, got_rows, k):
        """Checks returned neighbours: exact cosine, order, size, and
        that an exact copy of a stored vector finds it first."""
        col = {c: got_header.index(c) for c in ("query_id", "vec_id", "cosine", "rank")}
        by_q = collections.defaultdict(list)
        for r in got_rows:
            by_q[int(r[col["query_id"]])].append(
                (int(r[col["rank"]]), int(r[col["vec_id"]]), float(r[col["cosine"]])))
        stored = {tuple(v.tolist()) for v in self.vecs.values()}
        for qid, e in zip(d["vec_id"], d["embedding"]):
            qv = quantize(e)
            got = sorted(by_q.get(qid, []))
            if len(got) != k:
                return f"knn: query {qid} has {len(got)} neighbours, expected {k}"
            for n, (rank, vid, cos) in enumerate(got):
                if rank != n + 1 or vid not in self.vecs:
                    return f"knn: query {qid} rank {rank} vec {vid} invalid"
                if cos != cosine(qv, self.vecs[vid]):
                    return f"knn: query {qid} vec {vid} cosine {cos} != exact"
                if n and (cos, -vid) > (got[n - 1][2], -got[n - 1][1]):
                    return f"knn: query {qid} out of order at rank {rank}"
            if tuple(qv.tolist()) in stored and got[0][2] != 1.0:
                return f"knn: exact copy {qid} not found first"
        return None


def quantize(e):
    x = np.asarray(e, dtype=np.float32).astype(np.float64) * QUANT_SCALE
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def cosine(a, b):
    dot, na, nb = int(a @ b), int(a @ a), int(b @ b)
    den = math.sqrt(float(na * nb))
    return float("nan") if den == 0.0 else float(dot) / den


def check_curation(inp, out, ops):
    """A write op leaves no output of its own: the reads of its turn,
    which follow it and run on the indexes it rebuilt, check it. A write
    that no read follows counts as unchecked."""
    o = CurationOracle(inp)
    k = int(o.p["knn_k"])
    every = int(o.p["write_every"])
    by_index = {op["index"]: op for op in ops}
    verdicts = {}
    for i in range(max(by_index, default=-1) + 1):
        batch = os.path.join(inp, "batches", f"{i:03d}")
        write = i % every == 0
        op = by_index.get(i)
        if op is not None and op["kind"] != "error":
            if write:
                verdicts[i] = ("op kind mismatch" if op["kind"] != "write" else
                               None if i + 1 in by_index else "write: no read checks it")
            else:
                docs = os.path.join(batch, "docs.parquet")
                v = pq.read_table(os.path.join(batch, "vecs.parquet")).to_pydict()
                verdicts[i] = (_file_cmp(_op_file(out, op, "dedup.tsv"), o.dedup(docs),
                                         "dedup", sort=True)
                               or _file_cmp(_op_file(out, op, "dsir.tsv"), o.dsir(docs),
                                            "dsir", sort=True, tol={"logweight": 1e-6})
                               or o.knn(v, *read_tsv(_op_file(out, op, "knn.tsv")), k))
        if write:
            o.append(batch)
    return verdicts


def _file_cmp(path, ref, what, sort=False, tol=None):
    if not os.path.exists(path):
        return f"{what}: missing"
    gh, gr = read_tsv(path)
    eh, er = ref
    if sort:
        key = [gh.index(c) for c in eh[:2]]
        gr = sorted(gr, key=lambda r: tuple(int(r[j]) for j in key))
    return compare(gh, gr, eh, er, what, tol)


def check(workload, inp, out, ops):
    """Maps each op index to None (correct) or the first difference."""
    if workload == "ss_experiment":
        return check_ss_experiment(inp, out, ops)
    if workload == "ss_interactive":
        header, rows = read_tsv(os.path.join(inp, "calls.tsv"))
        return check_ss_interactive(inp, out, ops, [dict(zip(header, r)) for r in rows])
    return check_curation(inp, out, ops)
