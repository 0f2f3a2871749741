package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Frequency-vocabulary construction and corpus token-id encoding —
  * the word-level "tokenizer fit + transform" pair of a training-data
  * pipeline: learn the top-V terms once, then map every document to
  * its integer-id sequence (OOV → 0).
  *
  * Determinism: vocabulary rank is the total (freq desc, term asc)
  * order, so ids are identical in any engine at any parallelism;
  * encoding is then a pure broadcast lookup.
  *
  * Scale shape: the vocabulary build is one token-count aggregate
  * (map-side combined) finished by the bounded
  * [[graft.functions.TopKAggregate]] — each map task ships at most V
  * (freq, term) pairs, never the term universe — and the encode pass
  * is a stateless posexplode + broadcast join: no corpus-sized
  * shuffle anywhere (the output sort is the presentation contract).
  * The encode join carries an explicit broadcast() hint — safe
  * because V is builder-bounded (the vocabulary is at most
  * `vocabSize` rows by construction); a deployment wanting
  * million-term vocabularies should drop the hint and let Spark's
  * size estimation pick the join side.
  */
object Vocab {

  /** The vocabulary-identity contract, in ONE place: top `vocabSize`
    * terms of a bare `term` frame by (freq desc, term asc), ids 1..V
    * — shared by [[buildVocab]] and the fused [[vocabEncode]], so
    * the rank-to-id convention cannot drift between the stored-fit
    * streaming path and the registered batch query.
    */
  private def vocabFromTerms(terms: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize $vocabSize must be positive")
    terms
      .groupBy(col("term"))
      .agg(count(lit(1)).as("freq"))
      .agg(graft.functions.TopKFunctions
        .top_k_tag(col("freq").cast("double"), col("term"), vocabSize).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("token_id"),
        col("col.tag").as("term"),
        col("col.score").cast("long").as("freq"))
  }

  /** The top `vocabSize` terms by (freq desc, term asc):
    * (token_id 1..V, term, freq). Id 0 is reserved for OOV.
    */
  def buildVocab(docs: DataFrame, vocabSize: Int,
      textCol: String = "text"): DataFrame =
    vocabFromTerms(
      docs.select(explode(TextFunctions.tokensNonEmpty(col(textCol))).as("term")),
      vocabSize)

  /** Every document as its token-id sequence, one row per position:
    * (idCol, pos, token_id), OOV terms encoded as 0.
    */
  def encodeTokens(docs: DataFrame, vocab: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), posexplode(TextFunctions.tokensNonEmpty(col(textCol))))
      .withColumnRenamed("col", "term")
      .join(broadcast(vocab.select(col("term"), col("token_id"))),
        Seq("term"), "left")
      .select(col(idCol), col("pos").cast("int").as("pos"),
        coalesce(col("token_id"), lit(0)).as("token_id"))

  /** Largest vocabulary the `map_from_entries`/`element_at` encode
    * path accepts: GetMapValue's probe is a linear scan of the map's
    * key array, so per-token cost is O(V) — a win over the hash
    * join's build+probe only while V stays small (interleaved probes:
    * faster at V=100, 20x SLOWER at V=40k). Above this bound
    * [[vocabEncode]] uses the broadcast hash join, whose probe is
    * O(1) at any V.
    */
  val MapLookupMaxVocab: Int = 1024

  /** Fit + transform in one call (the registered-query shape).
    *
    * Three cost decisions, each probed interleaved (VocabProbe,
    * sf0.1, round 13; warm medians):
    *
    *  - NO operator cache: the vocabulary count and the encode pass
    *    each tokenize the corpus, CONCURRENTLY (broadcast subtree +
    *    main stage of one job). Every cached form measured slower —
    *    the exploded-row cache pays a corpus-sized block-store write
    *    (0.82 s), the token-array cache still pays an eager count()
    *    that serializes the whole pipeline behind one single-task
    *    tokenize (0.95 s) — while the duplicated pass runs on
    *    otherwise-idle cores (0.60 s). Two passes is also the honest
    *    100 TB shape: a corpus-sized token cache is infeasible there,
    *    a second scan is routine;
    *  - the encode is a MAP LOOKUP for SMALL vocabularies only: the
    *    fitted vocabulary folds into one `map_from_entries` row that
    *    rides a broadcast cross join, and `element_at` replaces the
    *    broadcast-hash-join probe — no join build, one fewer operator
    *    in the corpus stage. The catch: Catalyst's GetMapValue probes
    *    ArrayBasedMapData LINEARLY, so each token pays O(V) — fine at
    *    the bench's V=100, quadratic blow-up at realistic sizes
    *    (LmProbe, round 13: 16 s vs 0.8 s at a 40k-entry map). The
    *    lookup form is therefore gated at
    *    [[MapLookupMaxVocab]] (1024) and larger vocabularies take
    *    the O(1)-probe broadcast hash join instead;
    *  - the presentation sort routes through
    *    [[graft.core.StaticRange.sortByKnownDomain]] with range
    *    bounds from a one-row min/max probe over the column-pruned id
    *    scan (no tokenize), instead of `orderBy`'s sampling job
    *    re-executing the whole encode chain (0.70 s → 0.60 s). Bounds assume non-negative
    *    integral ids; sparse or skewed ids only unbalance the final
    *    single-stage sort, never break its total order. Non-integral
    *    or negative ids fall back to the sampling sort.
    *
    * The separate builder/encoder stay as-is for callers with a
    * prebuilt vocabulary (streams cannot persist).
    */
  def vocabEncode(docs: DataFrame, vocabSize: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(vocabSize > 0, s"vocabSize $vocabSize must be positive")
    val toks = docs
      .select(col(idCol), posexplode(TextFunctions.tokensNonEmpty(col(textCol))))
      .withColumnRenamed("col", "term")
    val vocab = vocabFromTerms(toks.select(col("term")), vocabSize)
    val encoded =
      if (vocabSize <= MapLookupMaxVocab) {
        val vmap = vocab
          .agg(map_from_entries(collect_list(struct(col("term"), col("token_id"))))
            .as("__vm"))
        toks
          .crossJoin(broadcast(vmap))
          .select(col(idCol), col("pos").cast("int").as("pos"),
            coalesce(element_at(col("__vm"), col("term")), lit(0)).as("token_id"))
      } else {
        toks
          .join(broadcast(vocab.select(col("term"), col("token_id"))),
            Seq("term"), "left")
          .select(col(idCol), col("pos").cast("int").as("pos"),
            coalesce(col("token_id"), lit(0)).as("token_id"))
      }
    graft.core.StaticRange.denseIdSort(encoded, docs, idCol,
      Seq(col(idCol).asc, col("pos").asc))
  }

  /** [[buildVocab]] behind the metadata-versioned
    * [[graft.core.IndexStore]] — the tokenizer is a FIT ARTIFACT like
    * an ANN index: fit once against the corpus fingerprint, then
    * every encode call (batch or streaming) reads the V-row store
    * entry and never re-scans the source. Rebuilt only when the
    * source parquet fingerprint or `vocabSize` changes.
    */
  def storedVocab(docs: DataFrame, docsPath: String, vocabSize: Int,
      textCol: String = "text", force: Boolean = false): DataFrame = {
    val name = s"vocab-v$vocabSize-$textCol-v1-" +
      graft.core.IndexStore.md5hex(docsPath)
    graft.core.IndexStore.readOrBuild(docs.sparkSession, name,
      graft.core.IndexStore.sourceFingerprint(docsPath), force)(
      buildVocab(docs, vocabSize, textCol))
  }
}
