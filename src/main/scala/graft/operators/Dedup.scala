package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for large-scale corpus pipelines.
  *
  * Scale notes (the 100 TB shapes):
  * - exact: one shuffle keyed by the 128-bit content hash (window over
  *   the hash partition), never by the raw text.
  * - minhash: signatures are computed per-row with higher-order array
  *   functions (zero shuffle), candidates come from one shuffle keyed
  *   by (band index, band hash); only candidate pairs — a tiny
  *   fraction of n^2 — are verified. All-pairs n-gram Jaccard exists
  *   for small inputs / verification, not as the scale path.
  */
object Dedup {

  /** Default duplicate-mass gate for the exact-dup collapse forms
    * ([[neardupComponents]], [[simHashPairsCollapsed]]): collapse only
    * when more than this fraction of non-null-text rows are duplicate
    * copies. Below it the collapse's two extra stage waves cost more
    * than the C(g,2) pair inflation they remove (measured sf0.1,
    * 8 duplicates in 6k docs: simhash_pairs 0.58 → 1.17 s collapsed;
    * the 10×/skew corpora at 90%/50% duplicate mass win 17×/13×).
    * 5% is conservative: at that mass the inflation is still ≤ ~1.1×
    * for uniform copy counts, so the direct form stays cheap.
    */
  val DefaultDupGate = 0.05

  /** Approximate fraction of non-null `textCol` rows that are exact
    * duplicate copies: (n − distinct(text)) / n, with distinct
    * estimated by HLL++ over a 64-bit text hash — one cheap
    * DETERMINISTIC aggregate job (sketches merge map-side; no
    * distinct-value shuffle, unlike an exact count_distinct whose
    * exchange would carry every distinct hash — at 100 TB that is
    * billions of rows for a yes/no answer). Deterministic because
    * HLL++ is a pure function of the input value set, so gate
    * decisions are reproducible run-to-run. Clamped at 0: the
    * estimator's ±2% error can put the estimate above n on
    * duplicate-free corpora.
    */
  private[graft] def duplicateMassFraction(docs: DataFrame,
      textCol: String): Double =
    dupMassProbe(docs, col(textCol), lit(1))._2

  /** max(0, (n − d) / n), 0 when n == 0 — the duplicate-mass fraction
    * of `n` key-bearing rows with `d` (estimated) distinct keys. The
    * single definition every gate variant shares, including fused
    * probes that run their own aggregate shape.
    */
  private[graft] def dupFraction(n: Long, d: Long): Double =
    if (n == 0L) 0.0 else math.max(0.0, (n - d).toDouble / n)

  /** THE fused duplicate-mass probe — the one aggregate every collapse
    * gate runs, factored here because three hand-maintained copies of
    * it (text fraction, embedding gate+centroid-count, batch-union
    * gate) drifted once already (the r18 count-vs-non-null bug appeared
    * at two sites independently). One job returns
    * `(count(extra), fraction)`:
    *  - `count(extra)` is whatever row count the caller needs from the
    *    same pass (all rows via `lit(1)` for autoCentroids — which
    *    must match `df.count()` on every route — or a conditional
    *    `when(...)` count for union frames); and
    *  - `fraction` = [[dupFraction]] over NON-NULL `key` rows, with
    *    distinct estimated by HLL++ over `xxhash64(key)` (sketches
    *    merge map-side — no distinct-value shuffle, deterministic, so
    *    gate decisions reproduce run-to-run). The `when` null guard
    *    matters: `xxhash64(null)` is the seed constant, not null, so
    *    an unguarded sketch would count null keys as one distinct.
    */
  private[graft] def dupMassProbe(df: DataFrame, key: Column,
      extra: Column): (Long, Double) = {
    val r = df.agg(count(extra).as("n"),
      count(key).as("nk"),
      approx_count_distinct(when(key.isNotNull, xxhash64(key))).as("d"))
      .head()
    (r.getLong(0), dupFraction(r.getLong(1), r.getLong(2)))
  }

  /** Exact duplicate clustering by full-content hash: every doc mapped
    * to (fingerprint, cluster keeper = min id, cluster size, is_dup).
    * One shuffle (window over fp).
    */
  def exactClusters(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs
      .select(col(idCol), md5(col(textCol)).as("fp"))
      .withColumn("keeper", min(col(idCol)).over(w))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_dup", (col(idCol) =!= col("keeper")).cast("int"))
  }

  /** Keeps exactly one document per identical-content cluster (the
    * min id). NOT [[exactClusters]] filtered: the window there ships
    * every (id, fp) row through a sort-within-partitions to annotate
    * ALL rows, while the keeper set only needs min(id) per fp — a
    * map-side-combined groupBy whose exchange carries one partial row
    * per distinct fingerprint per task. Same survivors by definition.
    */
  def dedupExact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keepers = docs
      .select(md5(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** MinHash signatures over word n-gram shingles as a DataFrame
    * (id, sig: array<long>).
    *
    * One md5 per shingle, split into two exact 48-bit integers
    * (h1, h2); the hash family is Carter-Wegman h_i = h1 + i*h2
    * (i < 16 keeps every value under 2^52 — exact in any engine, no
    * overflow).
    *
    * Shape: explode shingles -> hash in whole-stage codegen ->
    * groupBy(id) with `numHashes` min aggregates (map-side partial
    * aggregation; one shuffle keyed by id). This deliberately avoids
    * nested higher-order array functions: a lambda that embeds the
    * shingle pipeline re-evaluates it per signature element —
    * measured 16x slower at sf0.1.
    */
  def minHashSignatures(docs: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
    // native md5_pair == conv(substring(md5_hex, 1|13, 12), 16, 10)
    // numerically, without materializing/parsing the hex string
    val hashed = sh.select(col(idCol),
        graft.functions.HashFunctions.md5_pair(col("s")).as("hp"))
      .select(col(idCol),
        col("hp").getItem(0).as("h1"), col("hp").getItem(1).as("h2"))
    val minCols = (0 until numHashes).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"_m$i"))
    hashed.groupBy(col(idCol)).agg(minCols.head, minCols.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** LSH band keys from a minhash signature: md5 of each contiguous
    * `rowsPerBand`-slice. Docs sharing any band key are candidates.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|",
        transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string")))))

  /** Shared banded-LSH candidate skeleton: self-join `banded` on
    * (band_idx, `bandCol`) carrying ONLY (band_idx, band value, id),
    * distinct the bare (id_a, id_b) pairs, then join `signed`'s
    * signatures back once per pair. The band shuffle never ships
    * signatures and each pair is verified exactly once — the 100 TB
    * shuffle discipline, written once for both the minhash and the
    * simhash path. Returns (id_a, id_b, sig_a, sig_b).
    */
  private[operators] def bandedCandidatePairs(banded: DataFrame,
      signed: DataFrame, idCol: String, bandCol: String): DataFrame = {
    val pairs = banded
      .select(col("band_idx"), col(bandCol), col(idCol).as("id_a"))
      .join(banded.select(
        col("band_idx"), col(bandCol), col(idCol).as("id_b")),
        Seq("band_idx", bandCol))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(signed.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(signed.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
  }

  /** Benchmark contamination check: documents sharing at least one
    * word n-gram with a benchmark/eval corpus, with the count of
    * distinct matched n-grams — the decontamination step a
    * pretraining pipeline runs so evaluation data never leaks into
    * training data (n = 8 is the conventional overlap window).
    *
    * Scale shape: the benchmark side is distinct n-grams, broadcast
    * (eval sets are tiny next to the corpus — at extreme benchmark
    * sizes swap the broadcast for a bloom-filter pre-pass in front of
    * the same join); the corpus tokenizes once, the join prunes
    * map-side, and the count aggregates with map-side combine. Output
    * is only flagged documents.
    */
  def contaminatedDocs(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 8): DataFrame = {
    val bench = benchmark
      .select(explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
      .distinct()
    docs
      .select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
      .join(broadcast(bench), Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"))
  }

  /** [[contaminatedDocs]] with a BLOOM-FILTER pre-pass — the
    * extreme-benchmark-size path its Scaladoc promises: when the
    * benchmark's distinct n-gram set is too large to broadcast-join
    * comfortably, a bloom filter over the grams (built by Spark's own
    * mergeable BloomFilterAggregate, collected once as a literal)
    * prunes the corpus's exploded gram stream MAP-SIDE before the
    * exact join. False positives only ever ADD rows to the exact
    * join's probe side, so the result is identical to
    * [[contaminatedDocs]] (unit-pinned, and the registered query
    * shares its oracle). At `fpp` ~1% the filter is ~1.2 bytes per
    * gram versus ~50+ for the gram strings — a 100x smaller
    * task-shipped structure, and the join itself then touches only
    * the pruned survivors.
    *
    * `expectedGrams <= 0` (the default) sizes the filter from the
    * benchmark's ACTUAL distinct-gram count — one `count()` on the
    * already-persisted gram set, which the bloom build and the exact
    * join then read from cache. A fixed guess wastes both ways: too
    * big ships a megabyte-scale literal with every task for a
    * few-thousand-gram eval set; too small blows the false-positive
    * rate and the pre-pass stops pruning. Pass a positive value only
    * when the caller already knows the count (e.g. a stored gram
    * index with metadata) and wants to skip the counting job.
    */
  def contaminatedDocsBloom(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 8, expectedGrams: Long = -1L): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bench = benchmark
      .select(explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
      .distinct()
      .transform(graft.core.OpCaches.persistTracked)
    val sizedGrams =
      if (expectedGrams > 0) expectedGrams
      else math.max(bench.count(), 1L)
    val bloomBytes = bench
      .select(column(new BloomFilterAggregate(
        expression(xxhash64(col("s"))), sizedGrams).toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    // empty benchmark -> null sketch; nothing can match
    val grams = docs
      .select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
    val pruned =
      if (bloomBytes == null) grams.filter(lit(false))
      else grams.filter(column(BloomFilterMightContain(
        Literal(bloomBytes,
          org.apache.spark.sql.types.BinaryType),
        expression(xxhash64(col("s"))))))
    pruned
      .join(broadcast(bench), Seq("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched"))
  }

  /** Fraction of agreeing signature rows — the banded paths' shared
    * Jaccard estimate.
    */
  private[graft] def sigAgreement(numHashes: Int): Column =
    aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
      .cast("double") / numHashes

  /** Incremental near-dup candidates for a batch ingest: every pair
    * with at least one NEW document — new-vs-corpus and new-vs-new,
    * never corpus-vs-corpus (pairs an up-to-date pipeline has already
    * resolved). Same signatures/banding/estimate as
    * [[minHashCandidates]], so the union of this result with the
    * corpus's own historical pairs equals a from-scratch run.
    *
    * Scale shape: the band join probes the (small) new batch's band
    * keys against the combined band index instead of self-joining the
    * full corpus — per-band cost is |new-in-bucket| x bucket size,
    * not bucket-size², which is the difference between a daily ingest
    * and a full recluster at 100 TB. Pairs travel as bare normalized
    * (id_a, id_b) and are distinct'd before signatures join back. In
    * production the corpus side's (id, sig) pairs come from a stored
    * signature index; signatures are deterministic content hashes, so
    * recomputing them here from the corpus frame is byte-identical to
    * reading that index.
    */
  def incrementalMinHashCandidates(newDocs: DataFrame, corpus: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val tagged = newDocs.select(col(idCol), col(textCol), lit(true).as("__new"))
      .union(corpus.select(col(idCol), col(textCol), lit(false).as("__new")))
    val signed = minHashSignatures(tagged, textCol, idCol, n, numHashes)
      .join(tagged.select(col(idCol), col("__new")), Seq(idCol))
      .transform(graft.core.OpCaches.persistTracked)
    val banded = bandRows(signed, bands, r, col(idCol), col("__new"))
    // every batch band row joined to its bucket, the pairs distinct'd as
    // bare normalized (id_a < id_b), then the signatures joined back
    // once per pair for the agreement estimate
    banded.filter(col("__new")).select(col("band_idx"), col("band_key"),
        col(idCol).as("id_x"))
      .join(banded.select(col("band_idx"), col("band_key"), col(idCol).as("id_y")),
        Seq("band_idx", "band_key"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .distinct()
      .join(signed.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(signed.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), sigAgreement(numHashes).as("est_jaccard"))
  }

  /** `signed`'s rows exploded to one row per LSH band: the `carry`
    * columns plus (band_idx, band_key).
    */
  private def bandRows(signed: DataFrame, bands: Int, r: Int,
      carry: Column*): DataFrame =
    signed.select(carry :+ posexplode(lshBandKeys(col("sig"), bands, r)): _*)
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")

  /** [[incrementalMinHashCandidates]] with exact duplicates contracted
    * across batch ∪ corpus before signing/banding — the incremental
    * member of the r17/r18 collapse family. Purity argument as
    * [[minHashCandidatesCollapsed]]: identical texts share every band
    * and every agreement estimate, so the rep-level incremental probe
    * (reps of groups containing ≥ 1 NEW doc play the batch side)
    * generates a rep pair iff the direct form generates any member
    * pair, and the expansion restores exactly the pairs TOUCHING the
    * batch: within-group (x.id < y.id, x or y new, estimate 1.0) and
    * cross-group (every member pair of a matched rep pair with x or y
    * new, the reps' estimate). Members ride per-group as (id, new)
    * struct arrays — group-sized, never C(g,2) combination arrays.
    * Shingle-less and null-text docs never sign and are excluded
    * symmetrically. Same disjoint-id contract as the direct form.
    *
    * Why: the direct form's probe is |new-in-bucket| × bucket size
    * per band bucket — batch AND corpus copies of one text multiply,
    * so a copy-heavy corpus pays (batch copies × corpus copies) per
    * duplicated text. The r18 100× replica corpus (100 copies of
    * every text, batch = the doc_id%5 slice) measured the direct
    * form at 22 s; banding distinct content bounds the probe by
    * DISTINCT batch content × distinct-bucket size.
    *
    * EAGERNESS: the default `dupGate` probes duplicate mass over
    * batch ∪ corpus at call time; endpoints (< 0 collapse / >= 1
    * direct) skip the probe — streaming callers and the suites pin
    * routes through them.
    */
  def incrementalMinHashCandidatesCollapsed(newDocs: DataFrame,
      corpus: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      dupGate: Double = DefaultDupGate): DataFrame = {
    val tagged = newDocs
      .select(col(idCol), col(textCol), lit(true).as("__new"))
      .union(corpus.select(col(idCol), col(textCol), lit(false).as("__new")))
    if (!DupCollapse.worthIt(dupGate)(duplicateMassFraction(tagged, textCol)))
      return incrementalMinHashCandidates(newDocs, corpus, textCol, idCol,
        n, numHashes, bands)
    // one keyed pass over batch ∪ corpus; consumed three times below
    // (rep split, within-group expansion, cross-group expansion)
    val groups = DupCollapse.contract(
        tagged.filter(DupCollapse.shingled(textCol, n))
          .select(col(idCol), col("__new"), DupCollapse.fp(textCol)),
        Seq("fp"), idCol, ids = "members",
        member = Some(struct(col(idCol).as("id"), col("__new").as("nw"))),
        extra = Seq(max(col("__new")).as("has_new")))
      .transform(graft.core.OpCaches.persistTracked)
    // rep-level probe: has-new groups' reps are the "batch", the rest
    // the "corpus" — a rep pair appears iff ≥ 1 side has a new member,
    // exactly when the direct form emits ≥ 1 touching member pair
    def repTexts(g: DataFrame) =
      DupCollapse.reps(tagged, g, idCol).select(col(idCol), col(textCol))
    DupCollapse.touching(groups, incrementalMinHashCandidates(
      repTexts(groups.filter(col("has_new"))),
      repTexts(groups.filter(!col("has_new"))),
      textCol, idCol, n, numHashes, bands))
  }

  /** [[minHashCandidates]] with exact duplicates contracted to one
    * representative before signing/banding and the FULL candidate-pair
    * set reconstructed afterward — output-identical (suite-pinned),
    * by the same purity argument as [[simHashPairsCollapsed]]: the
    * minhash signature is a pure function of the text, so identical
    * texts share every band and every signature-agreement estimate.
    * (x ∈ group A, y ∈ group B) is a candidate iff (rep_A, rep_B) is,
    * at the same est_jaccard, and within-group pairs estimate exactly
    * 1.0 (16/16 positions agree). Shingle-less docs (< n tokens, or
    * null text) produce no signature and no pairs in either form, so
    * they are excluded from the collapse symmetrically.
    *
    * Why: the band self-join is quadratic PER BUCKET in duplicate
    * copies — the r18 100× corpus (100 copies of every sf0.1 text)
    * measured the direct form at 87.7 s while the same corpus' gated
    * simhash twin ran 3.9 s; collapsing makes banding work a function
    * of DISTINCT content and the expansion streams output-sized rows
    * through two chained explodes (never a C(g,2) combination array —
    * the postings-form hazard the simhash scaladoc documents).
    *
    * EAGERNESS: as [[simHashPairsCollapsed]] — the default `dupGate`
    * runs the duplicate-mass probe as a job at call time; endpoint
    * gates (< 0 collapse / >= 1 direct) skip the probe for lazy or
    * streaming callers.
    */
  def minHashCandidatesCollapsed(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, numHashes: Int = 16,
      bands: Int = 4, dupGate: Double = DefaultDupGate): DataFrame =
    // shingle-less docs never pair in the direct form, so they are
    // dropped from the contraction rather than carried
    DupCollapse.textPairs(docs, DupCollapse.shingled(textCol, n), textCol,
        idCol, dupGate, "est_jaccard", lit(1.0))(
      minHashCandidates(_, textCol, idCol, n, numHashes, bands))

  /** The banded minhash signature index of `corpus` persisted through
    * the [[graft.core.IndexStore]]: (idCol, sig, band_idx, band_key),
    * one row per (document, band). Signatures are deterministic
    * content hashes, so the stored rows are byte-identical to an
    * inline recompute — this is the "stored signature index" the
    * [[incrementalMinHashCandidates]] scaladoc promises a production
    * ingest reads. `variant` is REQUIRED non-empty and must name the
    * corpus frame — in particular any slicing of the file (store
    * entries fingerprint the FILE, so two slices over one path would
    * silently share an entry otherwise — the round-12 collision
    * lesson; same contract as [[Dsir.storedModelSelf]]).
    */
  def storedMinHashIndex(corpus: DataFrame, corpusPath: String,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      numHashes: Int = 16, bands: Int = 4, variant: String = "",
      force: Boolean = false): DataFrame = {
    require(variant.nonEmpty,
      "variant must name the corpus frame (store entries fingerprint the file only)")
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val name = s"mhidx-n$n-h$numHashes-b$bands-$textCol-$idCol" +
      (if (variant.isEmpty) "" else s"-$variant") + "-v1-" +
      graft.core.IndexStore.md5hex(corpusPath)
    // per-document rows: new parts append their own band rows
    def build(frame: DataFrame) =
      bandRows(minHashSignatures(frame, textCol, idCol, n, numHashes),
        bands, r, col(idCol), col("sig"))
    graft.core.IndexStore.readOrExtend(corpus, corpusPath, name, force)(build)(
      (delta, _) => Some(graft.core.IndexStore.Part(build(delta))))
  }

  /** The corpus' duplicate-mass fraction ([[duplicateMassFraction]],
    * the same HLL probe the inline gate runs) stamped once at build
    * time as the `mhroute-` store entry ([[DupCollapse.storedFraction]])
    * — the serving-route stamp behind the prebuilt collapsed index,
    * read back with zero jobs per serving call.
    */
  private[graft] def storedDupFraction(corpus: DataFrame,
      corpusPath: String, textCol: String, idCol: String,
      variant: String, force: Boolean): Double =
    DupCollapse.storedFraction(corpus, corpusPath, "mhroute", textCol,
      idCol, variant, force)(_.select(col(textCol)))

  /** Exact-duplicate membership of the corpus persisted through the
    * store: one row per DISTINCT shingle-able content —
    * (fp = md5(text), rep_id = group min id, ids = sorted member
    * ids). The contraction half of the prebuilt v2 collapsed index:
    * group structure is a pure function of the corpus, so the stored
    * rows are byte-identical to an inline recompute. Shingle-less and
    * null-text docs never sign or pair in any form and are excluded
    * symmetrically (hence the `n` in the key).
    *
    * An appended source part adds one row per content of the part:
    * under the stored `rep_id` when the content is already stored,
    * else as a new group (its min id). A group may so span several
    * rows of one `rep_id`; its members are the union of their `ids`
    * (readers merge per `rep_id`). A part id below its content's
    * stored rep would change the group's rep: that rebuilds the entry.
    */
  def storedMinHashMembers(corpus: DataFrame, corpusPath: String,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      variant: String = "", force: Boolean = false): DataFrame = {
    require(variant.nonEmpty,
      "variant must name the corpus frame (store entries fingerprint the file only)")
    graft.core.IndexStore.readOrExtend(corpus, corpusPath,
        membersEntry(corpusPath, textCol, idCol, n, variant), force)(
        DupCollapse.byText(_, DupCollapse.shingled(textCol, n), textCol, idCol)) {
      (delta, stored) =>
        // the part's contents, grouped on the driver from one map-only
        // pass in (fp, id) order (byText's rows; a null id is no
        // member), and the rep each content already has in the store,
        // fetched by key: a stored content keeps its rep, a new one
        // heads a new group. A part id below its content's stored rep
        // (or a stored group without one) would change the rep: no
        // part, the entry rebuilds
        val docs = delta.filter(DupCollapse.shingled(textCol, n))
          .select(DupCollapse.fp(textCol), col(idCol))
          .sortWithinPartitions(col("fp"), col(idCol)).collect()
        val groups = docs.toSeq.groupBy(_.get(0)).toSeq.map { case (fp, rs) =>
          val ids = rs.map(_.get(1)).filter(_ != null)
          Row(fp, ids.headOption.orNull, ids)
        }
        val old = if (groups.isEmpty) Map.empty[Any, Any]
          else stored.filter(col("fp").isin(groups.map(_.get(0)): _*))
            .select(col("fp"), col("rep_id")).collect().map(r => r.get(0) -> r.get(1)).toMap
        // ids compare in Spark's order for their type
        val order = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(stored.schema("rep_id").dataType)
        def below(a: Any, b: Any) = order.lt(CatalystTypeConverters.convertToCatalyst(a),
          CatalystTypeConverters.convertToCatalyst(b))
        Option.when(groups.forall { case Row(fp, first, _) => old.get(fp).forall(rep =>
            rep != null && (first == null || !below(first, rep))) })(
          graft.core.IndexStore.Part.local(groups.map { case Row(fp, first, ids) =>
            Row(fp, old.getOrElse(fp, first), ids) }))
    }
  }

  private def membersEntry(corpusPath: String, textCol: String,
      idCol: String, n: Int, variant: String): String =
    s"mhmembers-n$n-$textCol-$idCol-$variant-v1-" +
      graft.core.IndexStore.md5hex(corpusPath)

  /** The banded signature index over DISTINCT corpus content only —
    * the v2 collapsed twin of [[storedMinHashIndex]]: same
    * (idCol, sig, band_idx, band_key) schema, but one signature per
    * [[storedMinHashMembers]] representative instead of one per copy.
    * On a copy-heavy corpus this is both smaller to store and — the
    * point — immune to the copies² band-bucket blowup at probe time.
    */
  def storedMinHashRepIndex(corpus: DataFrame, corpusPath: String,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      numHashes: Int = 16, bands: Int = 4, variant: String = "",
      force: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    storedMinHashRepIndexOver(corpus, corpusPath,
      storedMinHashMembers(corpus, corpusPath, textCol, idCol, n, variant, force),
      textCol, idCol, n, numHashes, bands, variant, force)
  }

  /** [[storedMinHashRepIndex]] over a membership frame the caller
    * already holds: a call that also serves `members` must build it
    * ONCE — under `force` a second [[storedMinHashMembers]] call
    * rewrites the entry and deletes the files the first frame reads.
    */
  private[graft] def storedMinHashRepIndexOver(corpus: DataFrame,
      corpusPath: String, members: DataFrame, textCol: String,
      idCol: String, n: Int, numHashes: Int, bands: Int, variant: String,
      force: Boolean): DataFrame = {
    val r = numHashes / bands
    val name = s"mhrepidx-n$n-h$numHashes-b$bands-$textCol-$idCol-$variant-v1-" +
      graft.core.IndexStore.md5hex(corpusPath)
    // a new part's reps are the part docs that head a NEW group (a
    // stored content keeps its stored rep), each signed row-locally
    // (the values `minHashSignatures` gives, with no shuffle); the
    // membership entry is an input, so a rebuilt membership rebuilds
    // this entry too
    graft.core.IndexStore.readOrExtend(corpus, corpusPath, name, force,
        Seq(membersEntry(corpusPath, textCol, idCol, n, variant)))(frame =>
        bandRows(minHashSignatures(DupCollapse.reps(frame, members, idCol),
          textCol, idCol, n, numHashes), bands, r, col(idCol), col("sig"))) {
      (delta, _) =>
        val reps = DupCollapse.reps(delta, org.apache.spark.sql.graft.DatasetBridge
          .transplant(members, delta.sparkSession).hint("shuffle_hash"), idCol)
        Some(graft.core.IndexStore.Part(bandRows(reps.select(col(idCol),
            graft.streaming.DocsStream.rowSignature(col(textCol), n, numHashes).as("sig"))
          .filter(col("sig").isNotNull), bands, r, col(idCol), col("sig"))))
    }
  }

  /** [[incrementalMinHashCandidates]] served from the stored band
    * index — the steady-state ingest gate: the corpus tokenize +
    * signature + banding pass runs ZERO times per batch. Per call the
    * BATCH signs itself row-locally and probes the stored band rows
    * with its own (band_idx, band_key) set ([[storedBandProbe]]): the
    * batch side is broadcast, every stored row is matched map-side,
    * and a matched row carries the signature the estimate needs, so
    * no corpus-sized data is shuffled, merged or aggregated per call.
    * The batch is the broadcast side (on the collapsed route, rows the
    * driver holds), so it must be batch-sized. Output-identical to the
    * inline form at the same knobs (suite-pinned); same disjoint-id
    * contract as the inline form.
    *
    * ROUTING (r19): the raw band index carries the copy-quadratic
    * probe the inline form escaped in r18 — |new-in-bucket| × bucket
    * size multiplies batch copies × corpus copies per duplicated
    * text. `dupGate` routes a copy-heavy corpus to the COLLAPSED v2
    * stored index ([[storedMinHashRepIndex]] + [[storedMinHashMembers]]
    * via [[incrementalMinHashCandidatesPrebuiltCollapsed]]); the
    * fraction is stamped once at build time ([[storedDupFraction]])
    * and read back with zero jobs, so duplicate-light serving keeps
    * exactly the direct path and its floor. Endpoints skip the route
    * entry ([[DupCollapse.worthIt]]): a negative gate forces the
    * collapsed index, one of 1 or more the raw one (how the suites pin
    * both serving paths output-identical).
    */
  def incrementalMinHashCandidatesPrebuilt(corpus: DataFrame,
      corpusPath: String, newDocs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, numHashes: Int = 16,
      bands: Int = 4, variant: String = "",
      force: Boolean = false,
      dupGate: Double = DefaultDupGate): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    if (DupCollapse.worthIt(dupGate)(storedDupFraction(corpus, corpusPath,
        textCol, idCol, variant, force)))
      return incrementalMinHashCandidatesPrebuiltCollapsed(corpus,
        corpusPath, newDocs, textCol, idCol, n, numHashes, bands,
        variant, force)
    val index = storedMinHashIndex(corpus, corpusPath, textCol, idCol,
      n, numHashes, bands, variant, force)
    val batch = newDocs.select(col(idCol),
        graft.streaming.DocsStream.rowSignature(col(textCol), n, numHashes).as("sig"))
      .filter(col("sig").isNotNull).transform(graft.core.OpCaches.persistTracked)
    storedBandProbe(bandRows(batch, bands, numHashes / bands, col(idCol),
      col("sig")), index, idCol, numHashes, bands)
  }

  /** The collapsed-index serving path behind
    * [[incrementalMinHashCandidatesPrebuilt]] — the prebuilt member of
    * the r17–r19 exact-dup collapse family. Purity argument as
    * [[incrementalMinHashCandidatesCollapsed]]: the signature is a
    * pure function of the text, so a stored REP band row stands for
    * every copy of its content. The batch contracts by content
    * ([[DupCollapse.byText]]) and each distinct batch content is
    * signed once; its rep band rows probe the stored rep band rows
    * ([[storedBandProbe]]), and only the stored reps that matched
    * fetch their member ids. Batch and corpus groups stay apart: batch
    * content equal to stored content needs no merge, since identical
    * signatures agree on every band and the probe finds that rep pair
    * at estimate 1.0. The expansion ([[DupCollapse.touching]], batch
    * members `nw`) then restores exactly the pairs TOUCHING the batch
    * — within a batch group (estimate 1.0) and every member pair of a
    * matched rep pair (the reps' estimate); rep ids are only join
    * keys, so which member represents a group cannot change the
    * output.
    *
    * EAGER and driver-held: the signed contents, the rep pairs and the
    * matched groups are each collected at call time (one job apiece,
    * none for an empty batch), and every later step reads them as
    * local rows on the caller's AQE-off session
    * ([[graft.core.SessionTuning.boundedPlan]]), whose broadcasts of
    * local rows run no job. The returned frame lives there too: its
    * action is one job, the expansion. Per batch that is four jobs
    * over batch-sized data and two filtered store scans, where merging
    * the batch into the stored groups and deduplicating the stored
    * signatures took ~22 jobs over the whole index.
    */
  private def incrementalMinHashCandidatesPrebuiltCollapsed(
      corpus: DataFrame, corpusPath: String, newDocs: DataFrame,
      textCol: String, idCol: String, n: Int, numHashes: Int,
      bands: Int, variant: String, force: Boolean): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val members = storedMinHashMembers(corpus, corpusPath, textCol, idCol,
      n, variant, force)
    val repIdx = storedMinHashRepIndexOver(corpus, corpusPath, members,
      textCol, idCol, n, numHashes, bands, variant, force)
    val bounded = graft.core.SessionTuning.boundedPlan(newDocs.sparkSession)
    def there(df: DataFrame) =
      org.apache.spark.sql.graft.DatasetBridge.transplant(df, bounded)
    def local(rows: Seq[Row], fields: StructField*) =
      bounded.createDataFrame(rows.asJava, StructType(fields))
    // the batch's distinct contents, each signed once; every copy of a
    // content carries the same text, so first() is deterministic
    val signedDf = DupCollapse.byText(there(newDocs),
        DupCollapse.shingled(textCol, n), textCol, idCol,
        Seq(first(col(textCol)).as("text")))
      .select(col("rep_id"), col("ids"), graft.streaming.DocsStream
        .rowSignature(col("text"), n, numHashes).as("sig"))
      .withColumn("keys", lshBandKeys(col("sig"), bands, numHashes / bands))
    val batch = signedDf.collect().toSeq
    val Seq(rep, ids, sig) = Seq("rep_id", "ids", "sig").map(signedDf.schema(_))
    val fresh = local(batch.flatMap(r => r.getSeq[String](3)
        .zipWithIndex.map { case (k, b) => Row(b, k, r.get(0), r.get(2)) }),
      StructField("band_idx", IntegerType, nullable = false),
      StructField("band_key", StringType), rep.copy(name = idCol), sig)
    val probe = storedBandProbe(fresh, there(repIdx), idCol, numHashes, bands)
    val repPairs = probe.collect().toSeq
    // the stored groups a batch rep paired with, fetched by key (batch
    // rep ids are disjoint from the stored ones, so they match none);
    // a group appended to over several source parts spans several
    // rows of its rep, merged here (member order is immaterial to the
    // expansion)
    val corpusGroups = there(members).select(col("rep_id"), col("ids"))
      .filter(col("rep_id").isin(repPairs.flatMap(p => Seq(p.get(0), p.get(1))).distinct: _*))
      .collect().toSeq.groupBy(_.get(0)).toSeq
      .map { case (rep, rows) => Row(rep, rows.flatMap(_.getSeq[Any](1))) }
    // batch groups (every member new) and the matched stored groups
    val groups = local(batch.map(r => Row(r.get(0), r.get(1), true)) ++
        corpusGroups.map(r => Row(r.get(0), r.get(1), false)),
        rep, ids, StructField("has_new", BooleanType, nullable = false))
      .select(col("rep_id"), transform(col("ids"),
        x => struct(x.as("id"), col("has_new").as("nw"))).as("members"),
        col("has_new"))
    DupCollapse.touching(groups, local(repPairs, probe.schema.fields: _*))
  }

  /** The band probe of the stored forms: the batch's `fresh` band rows
    * (idCol, sig, band_idx, band_key), broadcast, matched map-side
    * against themselves and every `stored` row of a shared
    * (band_idx, band_key) bucket. Each row carries its signature, and
    * a pair is kept only at the first band whose keys agree (a batch
    * pair only from its lower id), so the (id_a < id_b, est_jaccard)
    * pairs come out unique with no shuffle or aggregate.
    */
  private def storedBandProbe(fresh: DataFrame, stored: DataFrame,
      idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val keys = (sig: String) => lshBandKeys(col(sig), bands, numHashes / bands)
    val rows = Seq(col("band_idx"), col("band_key"), col(idCol), col("sig"))
    broadcast(fresh.select(col("band_idx"), col("band_key"),
        col(idCol).as("id_x"), col("sig").as("sig_a"), keys("sig").as("keys_a")))
      .join(fresh.select(rows :+ lit(false).as("stored"): _*)
        .union(stored.select(rows :+ lit(true).as("stored"): _*))
        .select(col("band_idx"), col("band_key"), col(idCol).as("id_y"),
          col("sig").as("sig_b"), col("stored")), Seq("band_idx", "band_key"))
      .filter(col("id_x") =!= col("id_y") &&
        (col("stored") || col("id_x") < col("id_y")) &&
        array_position(zip_with(col("keys_a"), keys("sig_b"), (a, b) => a === b),
          true) === col("band_idx") + 1)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"),
        sigAgreement(numHashes).as("est_jaccard"))
  }

  /** Candidate near-duplicate pairs via MinHash + LSH banding, with
    * the estimated Jaccard (fraction of agreeing signature rows).
    * Pipeline: per-row signature -> explode band keys ->
    * [[bandedCandidatePairs]] -> score.
    *
    * Cache lifecycle: the (id, sig) projection is persisted
    * MEMORY_AND_DISK because it is consumed three times (banding + two
    * signature fetches), registered with [[graft.core.OpCaches]] —
    * release after materializing via `OpCaches.release()` or
    * `OpCaches.materializeAndRelease(result)`.
    */
  def minHashCandidates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // docs with < n tokens have no shingles and drop out naturally
    val signed = minHashSignatures(docs, textCol, idCol, n, numHashes)
      .transform(graft.core.OpCaches.persistTracked)
    bandedCandidatePairs(bandRows(signed, bands, r, col(idCol)), signed,
        idCol, "band_key")
      .select(col("id_a"), col("id_b"), sigAgreement(numHashes).as("est_jaccard"))
  }

  /** Near-duplicate component label for EVERY document: (id, label)
    * where label = the minimum id of the doc's transitive minhash/LSH
    * near-dup cluster (docs in no cluster are their own label) — the
    * [[minHashCandidates]] → connected-components composition with
    * EXACT duplicates collapsed to one representative first.
    *
    * Why the collapse is free of semantic risk: the minhash signature
    * is a pure function of the text, so identical texts match on
    * every band — a duplicate GROUP is a clique in the candidate
    * graph a priori, and contracting it to its min-id representative
    * changes no component and no component minimum. Docs with no
    * shingles (< n tokens, or null text) never enter the pair graph,
    * so they bypass the collapse too and stay singletons even when
    * textually identical — exactly the uncollapsed behavior.
    *
    * Why it matters at scale: duplicate-heavy corpora are the NORM
    * (crawl snapshots repeat boilerplate millions of times), and a
    * g-copy group contributes C(g,2) candidate pairs — the round-17
    * adversarial-skew corpus (100-copy hot domain) pushed the pair
    * list to 2.58M edges and the component resolution from the driver
    * fast path into 13 distributed label rounds (3.3 → 24.4 s).
    * Collapsing first makes the pair graph size a function of DISTINCT
    * content, which is what the near-dup machinery is for; signature,
    * banding, and pair work all shrink with it.
    */
  def neardupComponents(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, numHashes: Int = 16,
      bands: Int = 4, dupGate: Double = DefaultDupGate): DataFrame = {
    // duplicate-mass gate: on duplicate-LIGHT corpora the collapse's
    // keyed pass + expansion are two extra stage waves buying nothing
    // (sf0.1, 8 dups: 0.96 → 1.57 s), so route them to the direct
    // composition — pinned output-identical to the collapsed path in
    // TextDedupSuite, so the gate changes cost only, never results
    if (!DupCollapse.worthIt(dupGate)(duplicateMassFraction(docs, textCol)))
      return DupCollapse.directLabels(docs, idCol,
        Components.connectedComponents(
          minHashCandidates(docs, textCol, idCol, n, numHashes, bands)))
    // ONE keyed pass over the corpus text, contracted by (content,
    // `can`) and persisted because it is consumed three times below
    // (rep docs, rep expansion, singleton remainder) — unpersisted,
    // the tokenize+hash pass would re-run per consumer, the exact
    // corpus-pass multiplication this operator exists to avoid.
    // `can` marks docs that can enter the pair graph at all (>= 1
    // word shingle); evaluated per doc, pre-collapse, so a group of
    // identical shingle-less docs stays one singleton PER DOC,
    // exactly as the uncollapsed composition leaves it.
    val groups = DupCollapse.contract(
        docs.select(col(idCol), DupCollapse.fp(textCol),
          DupCollapse.shingled(textCol, n).as("can")),
        Seq("fp", "can"), idCol)
      .transform(graft.core.OpCaches.persistTracked)
    // one representative per distinct content: the group min id —
    // also the group's component-minimum contribution by construction
    val comp = Components.connectedComponents(minHashCandidates(
      DupCollapse.reps(docs, groups.filter(col("can")), idCol),
      textCol, idCol, n, numHashes, bands))
    DupCollapse.labels(groups, comp, col("can"))
  }

  /** Exact n-gram Jaccard for every pair sharing at least one shingle.
    * Small-input / verification path: explode distinct shingles, self-
    * join on the shingle, count intersections, derive |union| from the
    * per-doc distinct-shingle counts. O(pairs-sharing-a-shingle); use
    * [[minHashCandidates]] to pre-filter at scale.
    *
    * `maxDocFreq` drops shingles appearing in more than that many
    * documents BEFORE pair generation (the "stop-shingle" cap): hot
    * shingles contribute df^2 join rows while carrying no
    * discriminative signal, so the cap both tames the worst-case join
    * blowup and sharpens the similarity. Jaccard is then defined over
    * the filtered shingle universe on both sides of the ratio.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, minJaccard: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val shAll = docs
      .select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
    val shUncached = maxDocFreq match {
      case Some(cap) =>
        // ONE tokenize pass + ONE shuffle: df as a window count over
        // the shingle partition, filtered in place. (The earlier
        // groupBy + left_semi form fed the un-persisted explode into
        // both the df aggregation and the join — two full corpus
        // tokenization passes; at 100 TB that doubles the scan.)
        // Shingles are distinct per doc, so count(*) == doc freq.
        shAll.withColumn("__df",
            count(lit(1)).over(Window.partitionBy(col("s"))))
          .filter(col("__df") <= cap).drop("__df")
      case None => shAll
    }
    // consumed three times (counts + both self-join sides); the cache
    // retains the hash(s) partitioning, which the self-join reuses
    val sh = shUncached.transform(graft.core.OpCaches.persistTracked)
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    // hint: exploded-shingle sides are uniform post-explode rows — a
    // shuffled hash join skips the two 1.5M-row sorts a sort-merge
    // join would do
    val inter = sh.as("a").hint("shuffle_hash").join(sh.as("b"),
        col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[ngramJaccardPairs]] in POSTING-LIST form: one tokenize pass
    * feeds a per-shingle posting list (`groupBy(s).agg(sort_array(
    * collect_list(id)))`), pairs are emitted by expanding each list's
    * i<j combinations in codegen, and the intersection count is one
    * shuffle keyed by the bare pair. Output-identical to
    * [[ngramJaccardPairs]] (suite-pinned).
    *
    * Trade vs the self-join form: each (shingle, id) row ships across
    * the wire ONCE (the self-join form shuffles the exploded stream
    * for the df window and probes it twice more from cache), and
    * nothing is sorted wider than one posting list — the shape you
    * want when the exploded stream dwarfs memory. The cost is
    * `collect_list`'s ObjectHashAggregate, which falls back to
    * sort-based aggregation past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * (default 128) distinct keys per task. The round-11 interleaved
    * A/B (SCALING.md) splits that cleanly: at the default threshold
    * the fallback sort makes this form LOSE to the self-join (1.72 vs
    * 1.61 s median), with the threshold above the per-task
    * distinct-shingle count it WINS (1.30 s) — so this is the
    * registered form, the bench session raises the threshold
    * (df-capped posting lists are <= cap ids each, so the hash map
    * stays small per group), and the self-join form remains the
    * documented alternative for deployments that cannot afford the
    * per-task group map.
    */
  /* SCALE WARNING: a shingle's posting row materializes ALL C(df,2)
   * candidate pairs inside one array value, so an uncapped hot
   * shingle (df ~ 100k -> ~5e9 structs) blows up a single row where
   * the self-join form would merely produce many join rows.
   * `maxDocFreq = None` exists for the suite's output-parity check;
   * every production call and the registered query MUST pass a cap
   * (the cap is also what makes hot shingles uninformative noise —
   * see the df-cap rationale above). */
  def ngramJaccardPairsPostings(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, minJaccard: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val sh = docs
      .select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), n)).as("s"))
    // shingles are distinct per doc, so size(ids) == doc freq; the
    // sort makes every emitted pair (id_a < id_b)-ordered for free
    val posts0 = sh.groupBy(col("s"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    val posts = maxDocFreq.fold(posts0)(cap =>
        posts0.filter(size(col("ids")) <= cap))
      .select(col("ids"))
    // ONE pass over the posting lists feeds BOTH aggregates: each
    // list explodes to its i<j pairs PLUS one (id, NULL) count
    // marker per member, and a single (id_a, id_b) shuffle counts
    // them together — real pairs become n_inter, NULL-marked rows
    // become each doc's surviving-shingle total n_sh. (The earlier
    // three-branch shape — pair expansion + two count joins, all
    // reading a lazily persisted posts — triple-computed the shingle
    // aggregation when AQE materialized the consumer exchanges
    // concurrently against the cold cache, and still paid three
    // stage rounds warm; JobGapProbe round 13. Fusing leaves posts
    // with ONE consumer, so no cache at all.)
    val pairCombos = flatten(transform(col("ids"), (x, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids"))),
        y => struct(x.as("id_a"), y.as("id_b")))))
    val markers = transform(col("ids"),
      x => struct(x.as("id_a"), lit(null).cast("long").as("id_b")))
    val agg = posts
      .select(explode(concat(pairCombos, markers)).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("cnt"))
      // consumed by the pair stream AND both count joins; the frame
      // is pairs + docs sized (FAR smaller than the posting stream)
      // and the three consumers would otherwise race the whole
      // pipeline three ways under AQE's concurrent stage
      // materialization — eager, so exactly one pass computes it
      .transform(graft.core.OpCaches.persistTrackedEager)
    val inter = agg.filter(col("id_b").isNotNull)
      .select(col("id_a"), col("id_b"), col("cnt").as("n_inter"))
    val counts = agg.filter(col("id_b").isNull)
      .select(col("id_a").as(idCol), col("cnt").as("n_sh"))
    // counts is one row per doc — small here but corpus-sized at
    // scale, so no broadcast hint: AQE picks broadcast when it fits
    inter
      .join(counts.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[simHashPairs]] with exact duplicates contracted to one
    * representative before banding and the FULL pair set reconstructed
    * afterward — output-identical (suite-pinned), because the
    * signature is a pure function of the text: identical texts share
    * every band and every pairwise distance, so (x ∈ group A, y ∈
    * group B) is a result pair iff (rep_A, rep_B) is, at the same
    * hamming, and within-group pairs sit at hamming 0. Null-text docs
    * are excluded from grouping — a null signature never band-matches,
    * so they produce no pairs in either form.
    *
    * Why: the band self-join is quadratic PER BUCKET in duplicate
    * copies — a g-copy group inflates its buckets' join products g²
    * and the distinct that follows by the same factor, while the
    * RESULT only needs the content-level pairs plus a streamed
    * expansion (two chained explodes, output-proportional rows, no
    * combination arrays). The r17 10× corpus (10 copies of every
    * text): 26 s banded-over-copies vs the collapsed form's
    * distinct-content banding. Same insight as [[neardupComponents]],
    * with expansion instead of contraction because this operator's
    * contract is the pair LIST, not the clusters.
    *
    * EAGERNESS: the default `dupGate` runs the duplicate-mass probe as
    * a job at CALL time (this function was fully lazy before r18);
    * batch-only as a result. A streaming or strictly-lazy caller
    * passes an endpoint gate (negative: collapse / 1 or more: direct)
    * to skip the probe. [[neardupComponents]] was already eager
    * (component resolution runs driver-side actions), so its gate
    * changes nothing there.
    */
  def simHashPairsCollapsed(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      signature: Column => Column = graft.functions.HashFunctions.simhash64,
      dupGate: Double = DefaultDupGate): DataFrame =
    // duplicate-mass gate: duplicate-light corpora keep the direct
    // banded form — the collapse pass + pair expansion cost ~2 stage
    // waves for nothing when the band buckets carry no copy inflation
    // (sf0.1, 8 dups: 0.58 → 1.17 s). Output-identical either way
    // (suite-pinned), cost-only gate. A null signature never
    // band-matches, so null-text docs stay out of the contraction.
    DupCollapse.textPairs(docs, col(textCol).isNotNull, textCol, idCol,
        dupGate, "hamming", lit(0))(
      simHashPairs(_, textCol, idCol, maxHamming, signature))

  /** SimHash near-duplicate pairs: 64-bit signatures, candidates
    * blocked on 16-bit sub-bands (signatures within Hamming distance
    * k < 4 must agree on at least one of 4 bands), verified by exact
    * Hamming distance.
    *
    * Same shuffle discipline as [[minHashCandidates]]: the band
    * self-join carries only (band, id), pairs are distinct'd bare,
    * and signatures join back once per pair for the Hamming verify.
    *
    * `signature` picks the signature expression: the default FNV
    * kernel ([[graft.functions.HashFunctions.simhash64]]) or the
    * MD5-token variant (`simhash_md5`) whose bits a SQL oracle can
    * reproduce.
    *
    * Recall guarantee: with 4 bands of 16 bits, any pair within
    * Hamming distance 3 differs in at most 3 bands (pigeonhole), so at
    * least one band agrees and the pair is generated — `maxHamming <=
    * 3` makes the banded result EXACTLY the all-pairs filter. At
    * `maxHamming = 4` a pair can spread one flipped bit into each
    * band and be missed.
    *
    * Saturation limit (measured r17): a 16-bit band key has 65k
    * possible values, so bucket sizes grow LINEARLY with distinct-
    * content count and the per-bucket join products quadratically —
    * [[simHashPairsCollapsed]] removes the duplicate-copy factor (the
    * dominant term on real corpora), but a corpus with ≳10^7 distinct
    * documents saturates the band space itself. The billion-scale
    * shape is Manku/Jain/Das Sarma's multi-table prefix blocking
    * (WWW 2007): b blocks with keys formed from k-block combinations
    * (t ≤ b−k errors tolerated), e.g. 7 blocks / 4-block 36-bit keys
    * / C(7,4)=35 tables for hamming ≤ 3 — 35n emitted rows buy
    * near-unique buckets. Not implemented here: at every corpus this
    * engine benches, the 4-band form with collapse wins outright, and
    * the wider scheme is a mechanical generalization of this same
    * band-explode + [[bandedCandidatePairs]] skeleton.
    *
    * Cache lifecycle: as [[minHashCandidates]] — the (id, sig)
    * projection is registered with [[graft.core.OpCaches]] for
    * caller release.
    */
  def simHashPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      signature: Column => Column = graft.functions.HashFunctions.simhash64): DataFrame = {
    import graft.functions.HashFunctions.hamming64
    // narrow per-row expression, but consumed three times (banding +
    // two signature fetches) — cache the tiny (id, sig) projection
    val signed = docs.select(col(idCol), signature(col(textCol)).as("sig"))
      .transform(graft.core.OpCaches.persistTracked)
    val banded = signed.select(col(idCol),
      posexplode(array((0 until 4).map(b =>
        (col("sig").bitwiseAND(lit(0xffffL << (16 * b)))).cast("long")): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    bandedCandidatePairs(banded, signed, idCol, "band_val")
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
