package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions

/** DSIR-style hashed n-gram importance weights — the data-selection
  * step of Xie et al., "Data Selection for Language Models via
  * Importance Resampling" (NeurIPS 2023): score every raw document by
  * how much more likely its hashed n-gram features are under a target
  * distribution (the domain you want more of) than under the raw
  * pool, then keep/resample by that weight.
  *
  * Features are unigrams AND bigrams with multiplicity, hashed into B
  * buckets (bucket = first-48-bits-of-MD5 mod B — the
  * [[HashFunctions.md5_pair]] native's h1, SQL-replayable, always
  * non-negative so `%` needs no pmod guard). Both distributions are
  * Laplace-smoothed bucket frequencies:
  *
  *   p_T[b] = (c_T[b] + 1) / (n_T + B),  p_R[b] likewise,
  *
  * and a document's log importance weight is the sum of
  * ln(p_T[b]/p_R[b]) over its feature occurrences. Each log term
  * quantizes to floor(1e9 · ln ·) — the BM25/LM house rule — so the
  * per-document sum is exact-integer, reduction-order-free, and
  * hash-matches a relational oracle; the one double division happens
  * at the output edge.
  *
  * Scale shape (the CCNet/LM model-then-score discipline):
  *  - raw and target bucket counts collapse into a single
  *    map-side-combined groupBy(bucket) over one feature pass (its
  *    output is ≤B rows BY CONSTRUCTION at any corpus scale — the
  *    whole point of hashed features), small enough to collect: the
  *    per-bucket quantized log term rides back into the plan as ONE
  *    B-slot array literal (the pinned-codebook pattern), so the
  *    operators are EAGER — construction runs the bounded model job;
  *  - scoring is then JOIN-FREE: one codegen'd feature pass probing
  *    the literal O(1) per occurrence plus a map-side-partial
  *    per-document agg — and where state-freedom matters more than
  *    the codegen (streaming, small ingest batches), the [[rowScore]]
  *    fold computes the same integers entirely within each row.
  *    Nothing corpus-sized ever broadcasts, collects, or shuffles
  *    wide.
  *
  * The raw pool scored against itself always probes buckets with
  * c_R ≥ 1 (its own occurrences); buckets the target never hit still
  * score through the +1 smoothing, and a SERVING batch may probe
  * buckets neither saw — the literal's default slot carries exactly
  * the all-zero smoothing term, so unseen features score correctly.
  */
object Dsir {

  private def bucketOf(feature: Column, buckets: Int): Column =
    HashFunctions.md5_pair(feature).getItem(0) % buckets

  /** MODEL-side feature stream of one frame: (bucket, tf, w_r, w_t)
    * with the given raw/target membership weights attached (document
    * identity is irrelevant to bucket counting). The unigram+bigram
    * emission is the native byte-walk
    * [[graft.functions.TokenizeExpressions]] `ws_feature_counts`
    * kernel — the declarative `concat(tokens, transform(sequence,
    * element_at‖concat_ws))` form re-evaluates its inlined tokenize
    * subtree inside the higher-order lambda (the CollapseProject
    * trap the Shingle kernel documents) and measured ~1.7 s
    * single-task at sf0.1 (DsirProbe); the kernel is one walk.
    * r22: the COUNTS map replaces the one-row-per-occurrence
    * `ws_ngram_features` array — multiplicity rides as `tf`, so the
    * md5 bucket hash and the explode run once per DISTINCT feature
    * per document instead of once per occurrence, and every count
    * downstream weights by tf (Σ tf·w ≡ the former per-occurrence
    * Σ w exactly — integer multiplication distributes over the
    * order-free sum; the LM family's r15 lesson applied to DSIR). The
    * [[graft.core.Parallelism.kernelFloor]] guard spreads that walk
    * across cores when the source is a too-small-to-split scan —
    * a no-op at cluster scale.
    */
  private def featStream(df: DataFrame, buckets: Int, textCol: String,
      wR: Column, wT: Column): DataFrame =
    graft.core.Parallelism.kernelFloor(df)
      .select(explode(
        graft.functions.TokenizeFunctions.ws_feature_counts(
          col(textCol), 2)), wR.as("w_r"), wT.as("w_t"))
      .select(bucketOf(col("key"), buckets).as("bucket"),
        col("value").as("tf"), col("w_r"), col("w_t"))

  /** The dense B-slot quantized model from collected (bucket, c_r,
    * c_t) rows: q[b] = floor(1e9 · ln(((c_t+1)/(n_t+B)) /
    * ((c_r+1)/(n_r+B)))) — an exact mirror of the former in-plan
    * expression (same IEEE double ops in the same order,
    * `java.lang.Math.log` both sides), so outputs are bit-identical
    * to it. Buckets with no features carry the all-zero smoothing
    * term, which IS the correct score for an unseen feature — a
    * serving batch may probe them even though the self-scored corpus
    * never does.
    */
  private def qArrayOf(counts: Array[org.apache.spark.sql.Row],
      buckets: Int): Array[Long] = {
    var nR = 0L; var nT = 0L
    counts.foreach { r => nR += r.getLong(1); nT += r.getLong(2) }
    val qDefault = math.floor(1e9 * math.log(
      (1.0 / (nT + buckets).toDouble) / (1.0 / (nR + buckets).toDouble))).toLong
    val qArr = Array.fill(buckets)(qDefault)
    counts.foreach { r =>
      val num = (r.getLong(2) + 1L).toDouble / (nT + buckets).toDouble
      val den = (r.getLong(1) + 1L).toDouble / (nR + buckets).toDouble
      qArr(r.getLong(0).toInt) = math.floor(1e9 * math.log(num / den)).toLong
    }
    qArr
  }

  /** The per-bucket model of a feature stream as one driver array —
    * ≤B rows BY CONSTRUCTION at any corpus scale (the hashed-feature
    * contract), so the collect is the model itself, exactly like
    * collecting a k-means codebook: one bounded job (kernel pass +
    * map-side-combined bucket exchange), then driver arithmetic.
    */
  private def modelOf(feats: DataFrame, buckets: Int): Array[Long] =
    qArrayOf(feats.groupBy(col("bucket"))
      .agg(sum(col("tf") * col("w_r")).as("c_r"),
        sum(col("tf") * col("w_t")).as("c_t"))
      .collect(), buckets)

  /** The self-target model array of `raw` vs its `targetPred` slice —
    * the serving/streaming entry point ([[storedModelSelf]] persists
    * it; [[rowScore]] consumes it).
    */
  def modelArraySelf(raw: DataFrame, targetPred: Column,
      buckets: Int = 8192, textCol: String = "text"): Array[Long] = {
    require(buckets > 0, s"buckets $buckets must be positive")
    modelOf(featStream(raw, buckets, textCol, lit(1),
      when(targetPred, 1).otherwise(0)), buckets)
  }

  /** ROW-LOCAL per-document score under a pinned model array:
    * `struct(n_feats LONG, qsum LONG)` computed by ONE fold over the
    * document's own feature array — the model is a plan literal, so
    * scoring needs no explode, no join, no shuffle, and no state —
    * the streaming-legal shape (`DocsStream.dsirScoreScreen`) and the
    * right one for small ingest batches; at corpus scale the codegen
    * explode form in [[scoreRows]] measured faster (its scaladoc has
    * the r14c A/B). The fold
    * accumulates BOTH fields in one struct accumulator so the
    * feature-array kernel is referenced exactly once (a separate
    * `size(...)` would duplicate the walk under CollapseProject —
    * the trap this file documents). qsum is an integer left fold in
    * document order; integer addition is reduction-order-free, so it
    * equals the former explode+hash-agg sum exactly.
    */
  def rowScore(text: Column, qArr: Array[Long], buckets: Int): Column = {
    require(qArr.length == buckets, s"model has ${qArr.length} slots, want $buckets")
    val qLit = typedLit(qArr.toSeq)
    aggregate(
      graft.functions.TokenizeFunctions.ws_ngram_features(text, 2),
      struct(lit(0L).as("n_feats"), lit(0L).as("qsum")),
      (acc, f) => struct(
        (acc.getField("n_feats") + lit(1L)).as("n_feats"),
        (acc.getField("qsum") + element_at(qLit,
          (HashFunctions.md5_pair(f).getItem(0) % buckets + lit(1L))
            .cast("int"))).as("qsum")))
  }

  /** SCORE-side hashed feature stream of one frame: (idCol, bucket,
    * tf, keep...) — one `ws_feature_counts` walk, one md5 per
    * DISTINCT feature per document (multiplicity rides as tf; see
    * [[featStream]]). `keep` columns are evaluated in the kernel
    * select and carried through by name.
    */
  private def docBucketCounts(raw: DataFrame, buckets: Int,
      textCol: String, idCol: String,
      keep: Seq[(Column, String)]): DataFrame =
    graft.core.Parallelism.kernelFloor(raw)
      .select(col(idCol) +: explode(
        graft.functions.TokenizeFunctions.ws_feature_counts(
          col(textCol), 2)) +:
        keep.map { case (c, n) => c.as(n) }: _*)
      .select(col(idCol) +: bucketOf(col("key"), buckets).as("bucket") +:
        col("value").as("tf") +: keep.map { case (_, n) => col(n) }: _*)

  /** The literal-probe + per-document aggregation tail over a
    * [[docBucketCounts]] stream: (idCol, n_feats, logweight,
    * extraCols...). n_feats = Σ tf and qsum = Σ q·tf are
    * integer-exact equal to the former per-occurrence count/sum.
    */
  private def scoreBucketStream(feats: DataFrame, qArr: Array[Long],
      idCol: String, extraCols: Seq[String]): DataFrame =
    feats
      .select(col(idCol) +: col("tf") +: element_at(typedLit(qArr.toSeq),
          (col("bucket") + lit(1L)).cast("int")).as("q") +:
        extraCols.map(col): _*)
      .groupBy(col(idCol) +: extraCols.map(col): _*)
      .agg(sum(col("tf")).as("n_feats"), sum(col("q") * col("tf")).as("qsum"))
      .select(col(idCol) +: col("n_feats") +:
        (col("qsum").cast("double") / lit(1e9)).as("logweight") +:
        extraCols.map(col): _*)

  /** Corpus-scale scoring of `raw` under `qArr`: (idCol, n_feats,
    * logweight, extraCols...), one row per document with ≥1 token —
    * the codegen'd explode + literal-array probe + map-side-partial
    * per-document agg. NOT the [[rowScore]] fold: the interleaved
    * r14c A/B (SortShapeProbe, sf0.1) measured the interpreted
    * HigherOrderFunction fold SLOWER than this whole-stage-codegen
    * pipeline including its exchange (1.71 vs 1.48 s medians — a
    * struct accumulator allocates per element), so row-local stays
    * reserved for the shapes that NEED it: streaming (state-free by
    * construction) and small ingest batches.
    */
  private def scoreRows(raw: DataFrame, qArr: Array[Long], buckets: Int,
      textCol: String, idCol: String, extraCols: Seq[String]): DataFrame =
    scoreBucketStream(
      docBucketCounts(raw, buckets, textCol, idCol,
        extraCols.map(c => (col(c), c))),
      qArr, idCol, extraCols)

  /** Per-document log importance weight of every raw document with at
    * least one token: (idCol, n_feats, logweight) where logweight =
    * qsum / 1e9, qsum = Σ floor(1e9·ln(p_T[b]/p_R[b])) over the
    * document's feature occurrences. Positive = more target-like.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      buckets: Int = 8192, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(buckets > 0, s"buckets $buckets must be positive")
    // target features enter the model stream with w_r = 0: they shape
    // c_t/n_t but never score
    val rf = featStream(raw, buckets, textCol, lit(1), lit(0))
    val tf = featStream(target, buckets, textCol, lit(0), lit(1))
    scoreRows(raw, modelOf(rf.union(tf), buckets), buckets, textCol,
      idCol, Nil)
  }

  /** Self-target form — target = raw rows matching `targetPred` (the
    * common deployment: "more like the en/books/wiki slice of this
    * very pool"). One feature pass carries both memberships: w_r = 1
    * everywhere, w_t = 1 where the predicate holds. Output is
    * row-identical to `importanceWeights(raw, raw.filter(targetPred))`
    * — pinned by DsirSubstringSuite.
    *
    * r22 (guide §5 cache-what-you-reuse; VERDICT r21 item 4): the
    * model collect and the score pass consume the SAME hashed
    * distinct-feature stream, so it is computed ONCE and persisted
    * in-query — the model job (an eager driver action by
    * construction: the literal must exist before the score plan)
    * materializes the cache, and the score pass reads it instead of
    * re-tokenizing and re-hashing the whole corpus a second time.
    * The cached rows are (id, bucket, tf, w_t, extras): ~40 bytes per
    * DISTINCT feature per document — at cluster scale MEMORY_AND_DISK
    * spills it to local disk, which costs about what the second
    * corpus read it replaces would, and at any smaller scale it is a
    * straight halving of the dominant kernel work. Released by the
    * caller via [[graft.core.OpCaches]] like every operator cache.
    */
  def importanceWeightsSelf(raw: DataFrame, targetPred: Column,
      buckets: Int = 8192, textCol: String = "text",
      idCol: String = "doc_id", extraCols: Seq[String] = Nil): DataFrame = {
    require(buckets > 0, s"buckets $buckets must be positive")
    val feats = graft.core.OpCaches.persistTracked(
      docBucketCounts(raw, buckets, textCol, idCol,
        extraCols.map(c => (col(c), c)) :+
          ((when(targetPred, 1L).otherwise(0L), "w_t"))))
    val qArr = qArrayOf(feats.groupBy(col("bucket"))
      .agg(sum(col("tf")).as("c_r"),
        sum(col("tf") * col("w_t")).as("c_t"))
      .collect(), buckets)
    scoreBucketStream(feats, qArr, idCol, extraCols)
  }

  /** [[modelArraySelf]] backed by the [[graft.core.IndexStore]]: the
    * entry keeps the per-bucket (bucket, c_r, c_t) counts — exact
    * integer sums, so a source part appended later adds its own count
    * rows and the model stays bit-identical to a full rebuild's — and
    * the q array is derived from them at read ([[qArrayOf]], after
    * summing each bucket's rows). The model IS driver state — a
    * serving process keeps it pinned in memory, not re-collected per
    * batch: the array is memoized per (entry, source fingerprint)
    * ([[graft.core.IndexStore.readOrExtendValue]]), so a repeat call
    * pays only the source listing. `variant` MUST encode the target
    * predicate (and any corpus slicing) — the store fingerprints the
    * FILE, not the frame or the predicate (the round-12 collision
    * lesson).
    */
  def storedModelSelf(corpus: DataFrame, corpusPath: String,
      targetPred: Column, buckets: Int = 8192, textCol: String = "text",
      variant: String = "", force: Boolean = false): Array[Long] = {
    require(variant.nonEmpty,
      "variant must name the target predicate (store entries fingerprint the file only)")
    require(buckets > 0, s"buckets $buckets must be positive")
    // v2: counts instead of the q array
    val name = s"dsirq-b$buckets-$textCol-$variant-v2-" +
      graft.core.IndexStore.md5hex(corpusPath)
    def counts(frame: DataFrame) =
      featStream(frame, buckets, textCol, lit(1), when(targetPred, 1).otherwise(0))
        .groupBy(col("bucket"))
        .agg(sum(col("tf") * col("w_r")).as("c_r"),
          sum(col("tf") * col("w_t")).as("c_t"))
    graft.core.IndexStore.readOrExtendValue(corpus, corpusPath, name, force)(
        counts)((delta, _) => Some(graft.core.IndexStore.Part(counts(delta)))) { rows =>
      val merged = rows.groupMapReduce(_.getLong(0))(r => (r.getLong(1), r.getLong(2))) {
        case ((r1, t1), (r2, t2)) => (r1 + r2, t1 + t2)
      }
      qArrayOf(merged.toArray.map { case (b, (r, t)) => Row(b, r, t) }, buckets)
      // clone per caller: the memo must never hand out its own
      // mutable array — a caller mutating the returned model would
      // silently poison every subsequent scoring call on this entry
    }.clone()
  }

  /** Batch scoring under the stored pinned model — the DSIR serving
    * form: per-call work is the memoized model lookup plus ONE
    * map-only scoring pass over the batch (no corpus access, no
    * exchange at all until whatever the caller sorts by).
    * Output-identical to scoring against a freshly built model of
    * the same corpus, and value-identical to the streaming
    * [[graft.streaming.DocsStream.dsirScoreScreen]] (suite-pinned).
    *
    * Shape: the [[rowScore]] fold, NOT [[scoreRows]]' explode+agg,
    * and NO kernel-floor exchange — the ingest-batch regime (the
    * dupScreenBatchPrebuilt precedent): a batch is ingest-sized by
    * definition, and the r15 DsirServeProbe measured the exchanges
    * as pure loss there (fold-no-floor 0.36 s vs the exploded
    * registered form 0.53 s at sf0.1; each dropped exchange is a
    * stage wave). At 100 TB-side batch sizes the scan arrives
    * pre-split, so losing the floor costs nothing; corpus-scale
    * scoring stays on [[scoreRows]] where the codegen'd explode+agg
    * measured faster (r14c A/B in its scaladoc).
    */
  def scoreBatchPrebuilt(corpus: DataFrame, corpusPath: String,
      batch: DataFrame, targetPred: Column, buckets: Int = 8192,
      textCol: String = "text", idCol: String = "doc_id",
      variant: String = "", force: Boolean = false): DataFrame = {
    val qArr = storedModelSelf(corpus, corpusPath, targetPred, buckets,
      textCol, variant, force)
    batch
      .select(col(idCol), rowScore(col(textCol), qArr, buckets).as("__sc"))
      // docs with zero features drop, matching scoreRows' explode
      .filter(col("__sc.n_feats") >= 1)
      .select(col(idCol), col("__sc.n_feats").as("n_feats"),
        (col("__sc.qsum").cast("double") / lit(1e9)).as("logweight"))
  }

  // The "resample the most target-like slice" step is a composition,
  // not a new operator: importanceWeights(...) piped through
  // [[Curation.topFraction]] (or the skew-safe topFractionBounded)
  // on logweight — the registered dsir_select row does exactly that.
}
