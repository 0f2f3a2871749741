package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{HashFunctions, TextFunctions}
import graft.operators.Dedup

/** Streaming document ingest: near-duplicate screening of arriving
  * documents against a STATIC corpus index — the online half of the
  * ingest-dedup story ([[graft.operators.Dedup.incrementalMinHashCandidates]]
  * is the batch compaction half).
  *
  * Semantics: each micro-batch emits a candidate row per (new doc,
  * corpus doc, shared band) — at-least-once PER PAIR (once per shared
  * band; `est_jaccard` is identical on every copy), because an
  * exactly-once pair needs a distinct(), which is stateful in a
  * stream. Downstream either tolerates duplicates (alerting,
  * quarantine) or the daily batch pass resolves exactly; new-vs-new
  * pairs within the stream are likewise the batch pass's job (a
  * stream-stream self-join would grow state without bound).
  *
  * Scale shape: the corpus band index is the static join side (in
  * production: the stored signature table — signatures are
  * deterministic content hashes, so store and recompute are
  * byte-identical); each arriving document computes its signature and
  * band keys ROW-LOCALLY (no shuffle, no state), and the stream-static
  * join is stateless, so the only state Spark keeps is the source
  * offsets.
  */
object DocsStream {

  /** The documents contract schema (TESTDATA.md). */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream of document batches. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(DocumentsSchema).parquet(dir)

  /** Row-local minhash signature: identical values to
    * [[Dedup.minHashSignatures]]'s explode+groupBy form (unit-pinned)
    * but computed entirely within the row — the form a streaming
    * plan needs, since cross-row aggregation is stateful. NULL when
    * the document has no shingles (< n tokens).
    */
  def rowSignature(text: Column, n: Int = 3, numHashes: Int = 16): Column = {
    val hp = transform(TextFunctions.wordShingles(text, n),
      s => HashFunctions.md5_pair(s))
    when(size(hp) > 0,
      array((0 until numHashes).map(i =>
        array_min(transform(hp,
          p => p.getItem(0) + lit(i.toLong) * p.getItem(1)))): _*))
  }

  /** Streaming decontamination screen: (doc_id, matched_ngram) for
    * every arriving document sharing a word n-gram with the static
    * benchmark set — one row per matched n-gram (the per-doc count is
    * a stateful aggregation; the batch
    * [[graft.operators.Dedup.contaminatedDocs]] provides it at
    * compaction). Row-local tokenize, stateless stream-static join,
    * benchmark n-grams broadcastable.
    */
  def contaminationScreen(docsStream: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 8): DataFrame = {
    val bench = benchmark
      .select(explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
      .distinct()
    docsStream
      .select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
      .join(bench, Seq("s"))
      .select(col(idCol), col("s").as("matched_ngram"))
  }

  /** Ingest-time duplicated-substring screen: every w-token window of
    * an arriving document whose key is ALREADY duplicated in the
    * static corpus — (idCol, s, e) with 1-based inclusive token
    * positions, the streaming twin of
    * [[graft.operators.SubstringDedup.duplicateSpans]]'s marking
    * stage against a fixed corpus ("how much of this incoming page is
    * known boilerplate?").
    *
    * Emits WINDOW-grain marks, not merged spans or per-doc ratios:
    * the interval merge and coverage sum are per-document
    * aggregations — stateful in a stream — so they stay with the
    * batch compaction ([[graft.operators.SubstringDedup.duplicationStats]])
    * or a `foreachBatch` sink, the same division of labour as
    * [[contaminationScreen]] (window marks now, rollups at
    * compaction). Overlapping windows of one duplicated region each
    * produce a row; consumers that only gate on "any boilerplate hit"
    * can stop at the first.
    *
    * Scale shape: row-local tokenize+MD5 (the `ws_ngrams` byte walk,
    * no shuffle, no state), stream-static LEFT SEMI join against the
    * corpus dup-key table — |distinct duplicated windows| rows, the
    * stored side at scale, exactly like the minhash band index.
    */
  def substringDupScreen(docsStream: DataFrame, corpus: DataFrame,
      windowTokens: Int = 20, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    substringDupScreenKeys(docsStream,
      graft.operators.SubstringDedup
        .duplicatedWindowKeys(corpus, windowTokens, idCol, textCol),
      windowTokens, textCol, idCol)

  /** [[substringDupScreen]] against an EXISTING (h1, h2) dup-key
    * frame — the production form: a stream-static join re-evaluates
    * its static side every micro-batch, so the inline-corpus
    * convenience above re-runs the corpus window pass per trigger,
    * while this overload fed by
    * [[graft.operators.SubstringDedup.storedDupKeys]] re-reads only
    * the compact stored table.
    */
  def substringDupScreenKeys(docsStream: DataFrame, dupKeys: DataFrame,
      windowTokens: Int = 20, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    docsStream
      .select(col(idCol), posexplode(
        graft.functions.TokenizeFunctions.ws_ngrams(col(textCol), windowTokens)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("s"),
        HashFunctions.md5_pair(col("col")).as("hp"))
      .select(col(idCol), col("s"),
        col("hp").getItem(0).as("h1"), col("hp").getItem(1).as("h2"))
      .join(dupKeys, Seq("h1", "h2"), "left_semi")
      .select(col(idCol), col("s"),
        (col("s") + lit(windowTokens.toLong) - 1L).as("e"))
  }

  /** Streaming DSIR quality screen: every arriving document's
    * importance weight under the PINNED model of the static corpus —
    * (idCol, n_feats, logweight), one row per document with ≥1 token,
    * the ingest-time "is this page target-like enough to keep?" gate
    * (Xie et al., NeurIPS 2023).
    *
    * The model is ≤B rows by construction and folds into the plan as
    * one array literal at stream-definition time
    * ([[graft.operators.Dsir.modelArraySelf]]), so scoring is
    * entirely ROW-LOCAL ([[graft.operators.Dsir.rowScore]]): no
    * explode, no join, no shuffle, no state — the streaming-legal
    * shape by construction, and numerically identical to the batch
    * and stored serving forms (suite-pinned).
    */
  def dsirScoreScreen(docsStream: DataFrame, corpus: DataFrame,
      targetPred: Column, buckets: Int = 8192,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val qArr = graft.operators.Dsir
      .modelArraySelf(corpus, targetPred, buckets, textCol)
    docsStream
      .select(col(idCol),
        graft.operators.Dsir.rowScore(col(textCol), qArr, buckets).as("__sc"))
      .filter(col("__sc.n_feats") > 0)
      .select(col(idCol), col("__sc.n_feats").as("n_feats"),
        (col("__sc.qsum").cast("double") / lit(1e9)).as("logweight"))
  }

  /** Candidates of each arriving document against the corpus:
    * (new_id, corpus_id, band_idx, est_jaccard) per shared band.
    *
    * CONVENIENCE form: the corpus side re-runs tokenize + signature +
    * banding inline, and a stream-static join re-evaluates its static
    * side EVERY micro-batch — fine for tests and one-off streams.
    * Production ingest uses [[nearDupAgainstCorpusPrebuilt]], which
    * re-reads only the compact stored index per trigger and escapes
    * the copies² band-bucket blowup on copy-heavy corpora.
    */
  def nearDupAgainstCorpus(docsStream: DataFrame, corpus: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val corpusIndex = Dedup
      .minHashSignatures(corpus, textCol, idCol, n, numHashes)
      .select(col(idCol).as("corpus_id"), col("sig").as("sig_b"),
        posexplode(Dedup.lshBandKeys(col("sig"), bands, r)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
    val streamBanded = docsStream
      .select(col(idCol).as("new_id"),
        rowSignature(col(textCol), n, numHashes).as("sig_a"))
      .filter(col("sig_a").isNotNull)
      .select(col("new_id"), col("sig_a"),
        posexplode(Dedup.lshBandKeys(col("sig_a"), bands, r)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
    streamBanded
      .join(corpusIndex, Seq("band_idx", "band_key"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"), col("band_idx"),
        Dedup.sigAgreement(numHashes).as("est_jaccard"))
  }

  /** [[nearDupAgainstCorpus]] served from the STORED index — the
    * production ingest screen, and the streaming twin of
    * [[Dedup.incrementalMinHashCandidatesPrebuilt]]'s serving story
    * (r20): output-identical rows (suite-pinned), but the static join
    * side is compact store bytes, re-read (not re-derived) per
    * trigger, and the route between the raw and the collapsed v2
    * index is decided ONCE at stream definition by the duplicate-mass
    * fraction STAMPED at build time ([[Dedup.storedDupFraction]] —
    * zero probe jobs, read from column metadata). Endpoints pin the
    * route without touching the stamp ([[graft.operators.DupCollapse.worthIt]]): a
    * negative gate forces the collapsed index, 1 or more the raw one.
    *
    * Why the v2 route matters HERE: a stream-static join re-evaluates
    * its static side every micro-batch, so on a copy-heavy corpus the
    * raw band index pays |batch-in-bucket| × bucket-size — copies of
    * the arriving text × copies in the corpus — per duplicated
    * content PER TRIGGER: exactly the copy-quadratic probe the batch
    * serving path escaped in r19, multiplied by trigger count. The
    * collapsed route probes one representative band row per DISTINCT
    * corpus content ([[Dedup.storedMinHashRepIndex]]) and restores
    * per-copy rows by exploding the membership table
    * ([[Dedup.storedMinHashMembers]]) AFTER the band match — output
    * rows are identical because a copy's signature (hence its band
    * keys and every pair estimate) is byte-equal to its
    * representative's.
    *
    * Same per-pair at-least-once contract and division of labour as
    * the inline form (exact-once dedup and new-vs-new pairs belong to
    * batch compaction). All joins are stateless stream-static; the
    * only stream state is source offsets.
    */
  def nearDupAgainstCorpusPrebuilt(docsStream: DataFrame,
      corpus: DataFrame, corpusPath: String,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      variant: String = "", force: Boolean = false,
      dupGate: Double = Dedup.DefaultDupGate): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val collapsed = graft.operators.DupCollapse.worthIt(dupGate)(
      Dedup.storedDupFraction(corpus, corpusPath, textCol, idCol, variant,
        force))
    val streamBanded = docsStream
      .select(col(idCol).as("new_id"),
        rowSignature(col(textCol), n, numHashes).as("sig_a"))
      .filter(col("sig_a").isNotNull)
      .select(col("new_id"), col("sig_a"),
        posexplode(Dedup.lshBandKeys(col("sig_a"), bands, r)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
    val out = Seq(col("new_id"), col("corpus_id"), col("band_idx"),
      Dedup.sigAgreement(numHashes).as("est_jaccard"))
    if (!collapsed) {
      val index = Dedup.storedMinHashIndex(corpus, corpusPath, textCol,
        idCol, n, numHashes, bands, variant, force)
      return streamBanded
        .join(index.select(col("band_idx"), col("band_key"),
          col(idCol).as("corpus_id"), col("sig").as("sig_b")),
          Seq("band_idx", "band_key"))
        .filter(col("new_id") =!= col("corpus_id"))
        .select(out: _*)
    }
    // the membership entry is built ONCE and the rep index over it
    val members = Dedup.storedMinHashMembers(corpus, corpusPath, textCol,
      idCol, n, variant, force)
    val repIdx = Dedup.storedMinHashRepIndexOver(corpus, corpusPath,
      members, textCol, idCol, n, numHashes, bands, variant, force)
    streamBanded
      .join(repIdx.select(col("band_idx"), col("band_key"),
        col(idCol).as("__rep"), col("sig").as("sig_b")),
        Seq("band_idx", "band_key"))
      .join(members.select(col("rep_id").as("__rep"), col("ids")),
        Seq("__rep"))
      .select(col("new_id"), col("band_idx"), col("sig_a"), col("sig_b"),
        explode(col("ids")).as("corpus_id"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(out: _*)
  }
}
