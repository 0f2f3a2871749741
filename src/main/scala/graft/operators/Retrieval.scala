package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, TopKFunctions}

/** Full-text retrieval over the document corpus: BM25 scoring of a
  * (small) query set against every document, top-k per query.
  *
  * Okapi BM25 with the Robertson/Sparck-Jones idf in its
  * Lucene-standard non-negative form, idf = ln(1 + (N - df + 0.5) /
  * (df + 0.5)) (Robertson & Zaragoza, "The Probabilistic Relevance
  * Framework: BM25 and Beyond", FnTIR 2009). The reference engine's
  * domain is selective search over sharded retrieval runs
  * (`/root/reference/dataproc/selectivesearch.py`); this operator
  * supplies the scoring side a user of such a pipeline runs upstream.
  *
  * Scale shape (the design target is a corpus far larger than the
  * query set):
  *  - the query term set broadcasts and semi-join-prunes the exploded
  *    token stream BEFORE the tf aggregation, so the only shuffle
  *    over corpus-sized data carries (doc_id, matched-term) rows —
  *    tokens that match no query never leave the map side;
  *  - document frequencies reduce via a map-side-combined
  *    groupBy(term) aggregate (|terms| rows) broadcast back onto the
  *    pruned (doc, term) counts — never a per-term window, whose
  *    single-task partitions would be corpus-sized for a high-df
  *    term; ReuseExchange keeps the corpus tokenize pass at one (both
  *    tf consumers share one exchange), and the document length rides
  *    the tf grouping key so no per-doc-length join exists;
  *  - per-term weights are computed row-local and quantized to an
  *    exact integer (floor(w * 1e9)), so the per-document sum is
  *    order-independent — byte-identical at any parallelism, and
  *    reproducible against a single-threaded oracle;
  *  - the per-query top-k uses the bounded [[TopKFunctions.top_k]]
  *    aggregate: each map task ships at most k (score, doc) pairs per
  *    query, never a corpus-sized sorted run.
  *
  * Corpus statistics (N, avgdl) reduce to one broadcast row; avgdl is
  * computed as exact-integer sum(dl)/N rather than avg(), whose
  * streaming accumulation order engines disagree on.
  */
object Retrieval {

  /** Top-k documents per query by BM25.
    *
    * @param docs    corpus with `idCol` (long) and `textCol` (string)
    * @param queries (queryIdCol, termCol) rows — one row per query term;
    *                terms absent from the corpus contribute nothing
    * @return (query_id, rank, doc_id, score) — rank 1-based by
    *         (score desc, doc_id asc); score = quantized BM25 sum
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text",
      queryIdCol: String = "query_id", termCol: String = "term"): DataFrame = {
    // corpus stats as ONE self-contained aggregate pass (count + exact
    // integer token-count sum): a broadcast subtree that runs
    // concurrently with the tf pass inside one job — no shared `dl`
    // frame, no cache to race (round-13 JobGapProbe: the former lazy
    // dl/tf persists were raced by their concurrent consumers into
    // four overlapping duplicate tokenize jobs, and eager counts just
    // serialized them; this shape has neither)
    val stats = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(termCol).as("term"))
    // tf comes from the ws_term_counts byte walk — document-local, so
    // the old explode + groupBy(doc, dl, term) EXCHANGE is gone: only
    // rows whose term matches a query term survive the broadcast semi
    // join, and those already carry their exact tf. dl rides along as
    // ws_token_count (equal to the old size(tokens) for every
    // document that can appear here — a blank document has no
    // nonempty token, so it matches no query term). df as a tiny
    // groupBy(term) aggregate broadcast back onto tf, NOT a window
    // partitioned by term: the window would route every (doc, term)
    // row of one term to a single task, and a stopword-like high-df
    // query term makes that partition corpus-sized. The aggregate is
    // map-side combined (|terms| rows cross the wire). tf is consumed
    // twice (df aggregate + weighted join) with NO cache: the kernel
    // pass is one cheap byte walk, and recompute-per-consumer is the
    // only shape that exists at corpus scale (the r14b lesson).
    val tf = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).as("dl"),
        explode(graft.functions.TokenizeFunctions
          .ws_term_counts(col(textCol))))
      .select(col("doc_id"), col("dl"), col("key").as("term"),
        col("value").as("tf"))
      .join(broadcast(q.select("term").distinct()), Seq("term"), "left_semi")
    val dfCounts = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // all floating steps mirror the oracle SQL token-for-token:
    // left-associative, constants pre-folded in Scala and printed via
    // shortest-round-trip toString on both sides
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfn = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
    val w = tf
      .join(broadcast(dfCounts), Seq("term"))
      .crossJoin(broadcast(stats))
      .join(broadcast(q), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        floor(idf * tfn * lit(1.0e9)).as("w"))
    // rank on the exact scaled integer (as double: < 2^53, lossless);
    // divide back to the real-valued score only at the output edge
    val scored = w.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("ws"))
      .select(col("query_id"), col("doc_id"), col("ws").cast("double").as("wsd"))
    scored.groupBy(col("query_id"))
      .agg(TopKFunctions.top_k(col("wsd"), col("doc_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"),
        (col("col.score") / lit(1.0e9)).as("score"))
  }

  /** Top TF-IDF terms per document — the keyword-extraction /
    * salient-term-features step of a corpus pipeline. Plain raw-count
    * tf with the unsmoothed ratio idf, score = tf * N / df as exactly
    * two IEEE operations in that order (multiply, then divide — both
    * correctly rounded, so any engine replaying the same op order is
    * bit-identical; no transcendental in the hot path, unlike BM25's
    * ln which leans on the integer quantization).
    *
    * Scale shape: tf is DOCUMENT-LOCAL — the `ws_term_counts` byte
    * walk emits (term, count) per row, so no corpus-wide (doc, term)
    * exchange exists at all (see the in-body note); df via a
    * map-side-combined groupBy(term) aggregate joined back (never a
    * per-term window — a stopword's partition would be
    * corpus-sized), and the
    * per-document top-k via the bounded [[TopKFunctions.top_k_tag]]
    * heap (≤ topK rows per document per map task), never a full
    * sort.
    *
    * @return (doc_id, rank, term, tf, score): rank 1-based by
    *         (score desc, term asc) per document, `topK` rows max.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    // tf comes from the ws_term_counts byte walk — a document-local
    // statistic computed IN-ROW and exploded, so the corpus-wide
    // (doc, term) exchange the old explode+groupBy paid is gone
    // entirely (r15 TfidfPhaseProbe: that exchange+agg was 1.6 of the
    // row's 4.1 s at the 10x corpus; the kernel form measured the
    // whole row 4.1 -> 2.6 s there and 1.31 -> 0.83 s at sf0.1). tf
    // is consumed twice (df aggregate + scoring join) and deliberately
    // NOT persisted: the kernel pass is one cheap byte walk, and at
    // corpus scale recompute-per-consumer is the only shape that
    // exists (the r14b substring-dedup lesson). At 100 TB this also
    // removes THE dominant shuffle — only (term, df) aggregates and
    // <= topK winner rows per document ever cross the wire.
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.TokenizeFunctions
          .ws_term_counts(col(textCol))))
      .select(col("doc_id"), col("key").as("term"), col("value").as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // tf rows are one per (doc, term), so count(*) per term IS the
    // document frequency. The df frame is VOCABULARY-sized, not
    // corpus-sized. Default is a PLAIN join and letting AQE convert:
    // when the vocabulary's runtime stats fit the broadcast threshold
    // AQE broadcasts it (no corpus re-shuffle) and when it doesn't —
    // a web-scale vocabulary — it correctly stays a shuffle join; an
    // eager broadcast() would OOM the driver exactly there. The
    // interleaved A/B (TfidfProbe, sf0.1) also measured the eager
    // broadcast SLOWER at toy scale (1.62 vs 1.21 s): it serializes
    // the tf materialization into a driver collect before the main
    // job, where the one-DAG shuffle plan overlaps them.
    val dfCounts = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(dfCounts, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf").cast("double") * col("n_docs").cast("double") /
          col("df").cast("double")).as("score"))
    // per-doc top-k via the bounded top_k_tag heap, NOT a window:
    // each map task ships at most topK rows per document and the
    // doc-grain exchange never sorts whole partitions. The tiebreak
    // key is the term STRING, so the long-id top_k cannot carry it;
    // the tag packs term || NUL || tf. NUL (0x00) cannot occur inside
    // a whitespace-split token short of a NUL-bearing document and
    // sorts below every other byte, so (score desc, tag asc) ==
    // (score desc, term asc) — a TAB separator would mis-order terms
    // containing C0 controls below 0x09 — and tf rides along free.
    val packed = scored.groupBy(col("doc_id"))
      .agg(TopKFunctions.top_k_tag(col("score"),
        concat_ws("\u0000", col("term"), col("tf")), topK).as("__top"))
    packed
      .select(col("doc_id"), posexplode(col("__top")))
      .select(col("doc_id"),
        (col("pos") + 1).cast("int").as("rank"),
        element_at(split(col("col.tag"), "\u0000"), 1).as("term"),
        element_at(split(col("col.tag"), "\u0000"), 2).cast("long").as("tf"),
        col("col.score").as("score"))
  }
}
