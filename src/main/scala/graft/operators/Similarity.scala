package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Numerics: embeddings are quantized to exact integers
  * (`round(x * 1000)` as long) so dot products and norms are exact
  * integer sums — identical in any engine and any evaluation order —
  * and the final cosine is a single double division. This makes ANN
  * results hash-comparable across engines, which raw float math is not.
  *
  * Scale notes: brute force is the correctness baseline (the corpus
  * side streams; the query side is broadcast; cost O(|Q| x |corpus|)).
  * The scale path is IVF: the corpus is blocked by nearest centroid
  * (data-adaptive cells, unlike fixed sign-LSH cells, which skew as
  * the corpus grows) and queries score only their probed cells, so
  * the whole pipeline stays expressible as relational algebra.
  */
object Similarity {

  val QuantScale = 1000

  /** Exact-integer quantization of a float vector. The multiply MUST
    * happen in double: a float-precision `x * 1000` lands on the
    * other side of .5 for some values and flips the round — found as
    * a real cross-engine mismatch at sf0.1.
    */
  def quantize(c: Column): Column =
    transform(c, x => round(x.cast("double") * QuantScale).cast("long"))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen'd kernel ([[graft.functions.VectorFunctions.dot_long]]):
    * the higher-order `aggregate(zip_with(...))` form is interpreted
    * (CodegenFallback) and allocates per evaluation, which dominated
    * the near-dup verify at millions of candidate pairs.
    */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_long(a, b)

  /** Exact integer squared norm. */
  def norm2Q(a: Column): Column =
    graft.functions.VectorFunctions.dot_long(a, a)

  /** Cosine from exact integer parts (one double division at the
    * end). A zero-norm side yields NaN EXPLICITLY: under ANSI mode
    * (Spark 4 default) even a double division raises DIVIDE_BY_ZERO,
    * so the bare `dot / sqrt(na2 * nb2)` form crashed the entire IVF
    * family the moment a degenerate vector entered a corpus — the
    * NaN contract [[assignCos]] documents (and every threshold
    * filter relies on: NaN >= t is false) never held on the error
    * path. Found by the r18 zero-vector collapse pins.
    */
  def cosineQ(dot: Column, na2: Column, nb2: Column): Column = {
    val den = sqrt((na2 * nb2).cast("double"))
    when(den === 0.0d, lit(Double.NaN))
      .otherwise(dot.cast("double") / den)
  }

  /** NaN-REJECTING threshold test for the near-dup family: Spark's
    * `>=` ranks NaN ABOVE every value, so a bare `cosine >= t` would
    * pass a zero-norm vector's NaN cosine and glue degenerate
    * vectors to every cell-mate. Degenerate vectors never pair —
    * the same admission rule the bounded top-k aggregate applies to
    * NaN scores, so k-NN and threshold results agree on them.
    */
  private[operators] def thresholdPass(cosine: Column, t: Double): Column =
    cosine >= t && !isnan(cosine)

  /** [[cosineQ]] for centroid ASSIGNMENT scoring: a zero-norm vector's
    * 0/0 = NaN cosine becomes -Infinity, so every assignment path
    * (literal argmin, bounded heap, driver mirror) ranks degenerate
    * vectors identically — worst against every centroid, ties to the
    * lowest cent_id — instead of NaN ordering differing between
    * struct-compare and primitive-compare code paths.
    */
  private[operators] def assignCos(dot: Column, na2: Column, nb2: Column): Column =
    nanvl(cosineQ(dot, na2, nb2), lit(Double.NegativeInfinity))

  /** id + quantized vector + squared norm. */
  def prepared(df: DataFrame, embCol: String, idCol: String): DataFrame =
    df.select(col(idCol), quantize(col(embCol)).as("v"))
      .withColumn("n2", norm2Q(col("v")))

  /** Finisher A — bounded top-k AGGREGATE (`top_k`): each map task
    * ships at most k rows per query across the shuffle (partial
    * aggregation); the default and the 100 TB path.
    */
  private def finishTopKAgg(scored: DataFrame, k: Int, idCol: String): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKFunctions.top_k(col("cosine"), col(idCol), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.id").as(idCol),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Finisher B — window row_number: shuffles every scored row; kept
    * for equivalence testing against the aggregate form.
    */
  private def finishWindow(scored: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("cosine"), col("rank"))
  }

  private def scoredAgainst(corpus: DataFrame, queries: DataFrame,
      embCol: String, idCol: String): DataFrame = {
    val c = prepared(corpus, embCol, idCol)
    val q = prepared(queries, embCol, idCol).select(col(idCol).as("query_id"),
      col("v").as("qv"), col("n2").as("qn2"))
    c.join(broadcast(q), col("query_id") =!= c(idCol))
      .select(col("query_id"), c(idCol),
        cosineQ(dotQ(col("qv"), col("v")), col("qn2"), col("n2")).as("cosine"))
  }

  /** Brute-force cosine top-k: every query row scored against the full
    * corpus (minus itself), per-query top-k by (cosine desc, id).
    * `useWindow = true` switches to the window finisher (testing).
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      embCol: String = "embedding", idCol: String = "vec_id",
      useWindow: Boolean = false): DataFrame = {
    val scored = scoredAgainst(corpus, queries, embCol, idCol)
    if (useWindow) finishWindow(scored, k, idCol)
    else finishTopKAgg(scored, k, idCol)
  }

  // ----- IVF: the ANN scale path ------------------------------------

  /** Deterministic coarse quantizer: the `numCentroids` lowest-id
    * corpus vectors as centroids (an arbitrary-but-reproducible
    * sample — ids carry no signal — so the DuckDB oracle can rebuild
    * the identical index). The fitted alternative is
    * [[graft.operators.KMeans.kmeansCentroids]] (seeded k-means||),
    * which plugs into [[ivfTopK]] / [[ivfNearDupPairs]] through their
    * `centroids` parameter via the same (cent_id, cv, cn2) contract —
    * the sample stays on oracle-checked paths, the fit is the quality
    * path for clustered corpora (comparison in SCALING.md).
    */
  private[graft] def centroidSample(cp: DataFrame, numCentroids: Int,
      idCol: String): DataFrame =
    // null prepared vectors (a null embedding survives prepared with
    // v null) can never act as centroids: one reaching the sample
    // NPE'd the driver in collectCentroidRows — at any corpus size.
    // The filter is part of the sample's definition, applied
    // identically by the stored twin ([[storedPreparedSample]]), so
    // every route sees the same cell structure.
    cp.filter(col("v").isNotNull).orderBy(col(idCol)).limit(numCentroids)
      .select(col(idCol).as("cent_id"), col("v").as("cv"), col("n2").as("cn2"))

  /** Centroid tables at or below this row count run the assignment as
    * a map-side fused-kernel argmin ([[litNearestCells]] →
    * [[graft.functions.NearestCellsK]]): no broadcast build, no
    * bounded-agg shuffle, no per-vector heap. Past it assignment
    * falls back to the broadcast-join + bounded-top-k shape.
    *
    * r21 re-measurement: the old 256-row cap and the 8192-dot codegen
    * budget guarded the least(struct)-chain form, whose generated
    * code grew with C and LOST past C=128 (1.26 s at C=179, 3x
    * variance). The kernel expression has O(1) codegen, so the cliff
    * is gone — the fresh TwoLevelProbe sweep has literal WINNING at
    * every C through 179 (0.118-0.152 s vs 0.436-0.487 s joined,
    * take 1/4, tight spreads). What remains bounded is the DRIVER
    * COLLECT and the table shipped inside the expression — the dot
    * budget below now prices that payload, and this row cap tracks
    * it at dim 64.
    */
  private[operators] val MaxLiteralCentroids = 4096

  /** Literal-table payload budget in total dot terms (C x dim) — 8
    * bytes per term, so 262144 = 2 MiB of shipped centroid table (and
    * C = 4096 at dim 64). Not a codegen limit since the r21 kernel;
    * it bounds driver collect size and per-task reference weight.
    * Tables past it use the joined heap (or two-level) shape.
    */
  private[operators] val LiteralDotBudget = 262144

  /** A collected table runs the fused-kernel argmin only when its
    * total dot terms fit [[LiteralDotBudget]] — otherwise the joined
    * shape bounds driver and task memory (outputs are pinned
    * identical either way, so the gate changes cost only).
    */
  private[graft] def literalEligible(cents: Array[CentRow]): Boolean =
    cents.isEmpty || cents.length.toLong * cents.head.cv.length <= LiteralDotBudget

  /** A collected centroid row: (cent_id, quantized vector, norm2). */
  private[graft] final case class CentRow(id: Long, cv: Array[Long], cn2: Long)

  /** The centroid table collected for literal compilation, or None if
    * it exceeds `max` rows (the collect probes max + 1 rows, so an
    * over-limit table never materializes on the driver).
    */
  private[graft] def collectCentroidRows(cent: DataFrame,
      max: Int = MaxLiteralCentroids): Option[Array[CentRow]] = {
    val rows = cent
      .select(col("cent_id").cast("long"), col("cv"), col("cn2").cast("long"))
      .orderBy(col("cent_id")).limit(max + 1).collect()
    if (rows.length > max) None
    else Some(rows.map(r =>
      CentRow(r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2))))
  }

  /** `array<bigint>` of the row's `take` nearest centroid ids by
    * (cosine desc, cent_id asc), computed map-side against literal
    * centroids. Ordering matches the bounded-top-k path exactly:
    * struct comparison on (-cosine, cent_id) equals (score desc,
    * id asc) for the non-NaN cosines quantized integer dots produce
    * (a zero dot yields -0.0 on every branch, so zero-cosine ties
    * still fall through to the id tiebreak). The one NaN source — a
    * ZERO-NORM vector, whose cosine is 0/0 against every centroid —
    * is normalized to -Infinity ([[assignCos]]) so degenerate vectors
    * land deterministically in the lowest-id probed cell on BOTH the
    * literal and the heap path, at any partitioning.
    */
  private[operators] def litNearestCells(cents: Array[CentRow], take: Int,
      v: Column = col("v"), n2: Column = col("n2")): Column =
    // r21: one fused-kernel expression instead of a C-entry
    // least(struct)/array_sort literal chain — the chain's ~15 x C
    // node tree cost 0.4-0.5 s of Catalyst transforms plus ~0.35 s of
    // Janino PER CALL on the PQ/IVF rows (R21GapProf); the kernel is
    // the driverNearestCells arithmetic (already suite-pinned
    // bit-identical to the chain) behind ~3 nodes. An empty table
    // still assigns nothing (empty array -> explode yields no rows);
    // null-v rows now get NULL (no cells) like the joined heap path —
    // unobservable downstream, see the NearestCellsK scaladoc.
    graft.functions.VectorFunctions.nearest_cells(v, n2,
      cents.map(_.id), cents.map(_.cv), cents.map(_.cn2), take)

  /** [[nearestCentroids]] against pre-collected literal centroids:
    * one map-side projection, no join, no (data-dependent) shuffle.
    *
    * r21: [[graft.core.Parallelism.kernelFloor]] on the vector frame —
    * the argmin is C x dim dots PER ROW fused into the consumer's map
    * stage, and a corpus whose scan (or cache) arrives in one split
    * ran the whole pass single-task (OPTIMIZATION_r21.md: the
    * embedding family's twin 0.6-0.7 s one-task assignment jobs). A no-op at
    * cluster scale, like every other kernelFloor site.
    */
  private[graft] def nearestCentroidsFromRows(p: DataFrame,
      cents: Array[CentRow], take: Int, idCol: String): DataFrame =
    graft.core.Parallelism.kernelFloor(p)
      .select(col(idCol), col("v"), col("n2"),
        explode(litNearestCells(cents, take)).as("cent_id"))

  /** A collected prepared-vector row: (id, quantized vector, norm2). */
  private[operators] final case class VecRow(id: Long, v: Array[Long], n2: Long)

  /** Collect a SMALL prepared frame (query sets, centroid tables) to
    * the driver — one tiny job; the caller guarantees boundedness.
    *
    * Null prepared vectors are DROPPED at this boundary: a null
    * embedding survives [[prepared]] with a null `v`, which NPE'd
    * every literal-regime collect (query sets, PQ codebook/centroid
    * samples). Dropping mirrors the joined/relational paths, where a
    * null vector's null score never enters the bounded top-k — so a
    * degenerate query returns no rows on every dispatch path, and a
    * degenerate corpus row never seeds a codebook or centroid
    * (matching [[centroidSample]]'s filter).
    */
  private[operators] def collectVecRows(prep: DataFrame,
      idCol: String): Array[VecRow] =
    prep.filter(col("v").isNotNull)
      .select(col(idCol).cast("long"), col("v"), col("n2").cast("long"))
      .orderBy(col(idCol)).collect()
      .map(r => VecRow(r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))

  /** Driver-side mirror of [[litNearestCells]] for a collected vector:
    * the `take` nearest centroid ids by (cosine desc, cent_id asc).
    * Bit-identical to the in-engine form — the cosine is the same one
    * double division/sqrt over exact integer parts (IEEE ops are
    * deterministic across JVM and engine), and the comparator is
    * java.lang.Double.compare, Spark's own double ordering.
    */
  private[operators] def driverNearestCells(vr: VecRow,
      cents: Array[CentRow], take: Int): Array[Long] = {
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    cents.map { c =>
      val raw = dot(vr.v, c.cv).toDouble /
        math.sqrt(graft.functions.VectorKernels.normProduct(vr.n2, c.cn2))
      // mirror assignCos: zero-norm 0/0 -> -Infinity, not NaN
      val cos = if (raw.isNaN) Double.NegativeInfinity else raw
      (-cos, c.id)
    }.sortWith { case ((n1, i1), (n2_, i2)) =>
      val c = java.lang.Double.compare(n1, n2_)
      c < 0 || (c == 0 && i1 < i2)
    }.take(take).map(_._2)
  }

  /** The `take` nearest centroids of every vector in `p`, vector
    * columns carried through: (idCol, v, n2, cent_id) with `take`
    * rows per input vector.
    *
    * Small centroid tables (≤ [[MaxLiteralCentroids]]) compile into a
    * literal map-side argmin — see [[litNearestCells]]. Otherwise:
    * broadcast the centroid table, score every (vector, centroid)
    * in-task, keep the top `take` with the bounded
    * [[graft.functions.TopKAggregate]] — partial aggregation collapses
    * each vector's |centroids| scored rows to ONE k-heap row before
    * the shuffle, so the exchange ships one row per vector (the
    * index-build shuffle; at query time nothing larger than the probe
    * list moves).
    *
    * Assignment cost is n x C dot products; with the
    * [[autoCentroids]] law C = sqrt(n x targetCell) that is
    * ~n^1.5 x sqrt(targetCell) total — already scale-safe. For very
    * large C, [[nearestCentroidsTwoLevel]] cuts it to ~n x sqrt(C).
    */
  private[graft] def nearestCentroids(p: DataFrame, cent: DataFrame, take: Int,
      idCol: String): DataFrame = collectCentroidRows(cent) match {
    case Some(cents) if literalEligible(cents) =>
      nearestCentroidsFromRows(p, cents, take, idCol)
    case _ => nearestCentroidsJoined(p, cent, take, idCol)
  }

  /** The broadcast-join + bounded-heap assignment shape — called
    * directly by callers that already know the centroid table is
    * over the literal limit (saves re-probing it per call).
    */
  private[graft] def nearestCentroidsJoined(p: DataFrame, cent: DataFrame,
      take: Int, idCol: String): DataFrame =
    // r21: kernelFloor — see nearestCentroidsFromRows; the joined
    // heap's n x C dot pass has the same one-split single-task hazard
    graft.core.Parallelism.kernelFloor(p).join(broadcast(cent))
      .select(col(idCol), col("v"), col("n2"), col("cent_id"),
        assignCos(dotQ(col("v"), col("cv")), col("n2"), col("cn2")).as("ccos"))
      .groupBy(col(idCol), col("v"), col("n2"))
      .agg(graft.functions.TopKFunctions.top_k(col("ccos"), col("cent_id"), take).as("top"))
      .select(col(idCol), col("v"), col("n2"),
        explode(col("top").getField("id")).as("cent_id"))

  /** Two-level (coarse-then-fine) nearest-centroid assignment: the
    * `numSuper` lowest-id centroids act as super-centroids; each
    * centroid lives in its nearest super-cell; a vector first ranks
    * the supers (n x S dots), then scores ONLY the centroids of its
    * `superProbes` nearest super-cells (expected superProbes x C/S
    * each). Per-vector work falls from C to S + superProbes x C/S —
    * minimized at S ~ sqrt(superProbes x C), i.e. ~2 sqrt(C) dots —
    * while everything stays relational: two broadcast joins and two
    * bounded top-k aggregations, one shuffled row per vector.
    *
    * Approximation: a vector near a super-cell boundary can miss its
    * true nearest centroid when that centroid's super-cell is not
    * probed; `superProbes` = 2-4 recovers almost all of it (recall
    * measured in SCALING.md via [[graft.examples.AnnRecall]]).
    * Same (idCol, v, n2, cent_id) output contract as
    * [[nearestCentroids]], so it swaps into both IVF operators.
    *
    * The coarse level compiles to literals whenever the super table
    * fits the [[LiteralDotBudget]] (S ~ 2 sqrt(C) stays under the
    * dim-64 budget of 128 rows up to C ~ 4k): both the per-vector super
    * ranking and the per-centroid super assignment become map-side
    * codegen'd projections. Payload-exchange count is UNCHANGED at
    * one either way (in the joined form the fine aggregation reuses
    * the coarse aggregation's (id, v, n2) partitioning — PlanSuite
    * pins this); what the literal form removes is the n x S
    * intermediate row expansion of the coarse
    * BroadcastNestedLoopJoin and the two heap-aggregation passes
    * over it, per assigned frame. The heap and literal forms rank
    * identically (pinned by the suite), so the fallback above the
    * literal limit changes cost only.
    */
  def nearestCentroidsTwoLevel(p: DataFrame, cent: DataFrame, take: Int,
      idCol: String, numSuper: Int, superProbes: Int = 2): DataFrame = {
    val supRows = collectSuperRows(cent, numSuper)
    nearestCentroidsTwoLevelShared(p, cent, take, idCol, numSuper,
      superProbes, supRows,
      if (supRows.isDefined) collectCentroidRows(cent).filter(literalEligible)
      else None)
  }

  /** The super-centroid table collected for literal coarse
    * compilation — exposed so [[ivfTopK]] can collect ONCE and share
    * it between the corpus and query assignments. None means EITHER
    * over the row cap or over the [[LiteralDotBudget]] — callers must
    * treat it as "use the joined coarse shape", never as a size
    * statement.
    */
  private[graft] def collectSuperRows(cent: DataFrame,
      numSuper: Int): Option[Array[CentRow]] =
    collectCentroidRows(cent.orderBy(col("cent_id")).limit(numSuper))
      .filter(literalEligible)

  private[graft] def nearestCentroidsTwoLevelShared(p: DataFrame,
      cent: DataFrame, take: Int, idCol: String, numSuper: Int,
      superProbes: Int, supRowsOpt: Option[Array[CentRow]],
      centRowsOpt: Option[Array[CentRow]] = None): DataFrame = {
    // r22 fused route: when the FULL centroid table also fits the
    // literal payload gate (caller-collected, like the super table),
    // both levels compile into ONE map-side kernel projection
    // ([[graft.functions.TwoLevelCellsK]]): per assigned frame this
    // removes the n x superProbes coarse explode, the centroid
    // broadcast join, and the bounded-top-k aggregation exchange —
    // while ranking EXACTLY as the composed shape (the per-centroid
    // super assignment below is the same driverNearestCells
    // arithmetic the coarse projection evaluated per row; suite- and
    // oracle-pinned). Past the gate the composed shapes below remain
    // the scale path.
    (supRowsOpt, centRowsOpt) match {
      case (Some(supRows), Some(cents)) =>
        val supOf = cents.map(c =>
          driverNearestCells(VecRow(c.id, c.cv, c.cn2), supRows, 1).head)
        return p.select(col(idCol), col("v"), col("n2"),
          explode(graft.functions.VectorFunctions.two_level_cells(
            col("v"), col("n2"),
            supRows.map(_.id), supRows.map(_.cv), supRows.map(_.cn2),
            superProbes,
            cents.map(_.id), cents.map(_.cv), cents.map(_.cn2),
            supOf, take)).as("cent_id"))
      case _ => ()
    }
    def sup = cent.orderBy(col("cent_id")).limit(numSuper)
      .select(col("cent_id").as("sup_id"), col("cv").as("sv"),
        col("cn2").as("sn2"))
    val (centInSup, vecSup) = supRowsOpt match {
      case Some(supRows) =>
        // literal coarse level: one map-side projection each — no
        // broadcast build, no vector-payload shuffle
        (cent.select(col("cent_id"), col("cv"), col("cn2"),
          element_at(litNearestCells(supRows, 1, col("cv"), col("cn2")), 1)
            .as("sup_id")),
          p.select(col(idCol), col("v"), col("n2"),
            explode(litNearestCells(supRows, superProbes)).as("sup_id")))
      case None =>
        // centroid -> its one super-cell (C x S dots, index-build only)
        (cent.join(broadcast(sup))
          .select(col("cent_id"), col("cv"), col("cn2"),
            col("sup_id"),
            assignCos(dotQ(col("cv"), col("sv")), col("cn2"), col("sn2")).as("scos"))
          .groupBy(col("cent_id"), col("cv"), col("cn2"))
          .agg(graft.functions.TopKFunctions.top_k(col("scos"), col("sup_id"), 1).as("top"))
          .select(col("cent_id"), col("cv"), col("cn2"),
            explode(col("top").getField("id")).as("sup_id")),
          // vector -> its superProbes nearest super-cells (n x S dots)
          p.join(broadcast(sup))
            .select(col(idCol), col("v"), col("n2"), col("sup_id"),
              assignCos(dotQ(col("v"), col("sv")), col("n2"), col("sn2")).as("scos"))
            .groupBy(col(idCol), col("v"), col("n2"))
            .agg(graft.functions.TopKFunctions.top_k(col("scos"), col("sup_id"), superProbes).as("top"))
            .select(col(idCol), col("v"), col("n2"),
              explode(col("top").getField("id")).as("sup_id")))
    }
    // vector scores only its probed super-cells' centroids; a centroid
    // lives in exactly one super-cell, so candidates are distinct
    vecSup.join(broadcast(centInSup), Seq("sup_id"))
      .select(col(idCol), col("v"), col("n2"), col("cent_id"),
        assignCos(dotQ(col("v"), col("cv")), col("n2"), col("cn2")).as("ccos"))
      .groupBy(col(idCol), col("v"), col("n2"))
      .agg(graft.functions.TopKFunctions.top_k(col("ccos"), col("cent_id"), take).as("top"))
      .select(col(idCol), col("v"), col("n2"),
        explode(col("top").getField("id")).as("cent_id"))
  }

  /** IVF approximate top-k: corpus vectors live in their nearest
    * centroid's cell (the inverted lists); each query scores only the
    * cells of its `nprobe` nearest centroids.
    *
    * Scale shape: cells are corpus-size/numCentroids balanced (no
    * fixed-cell skew bomb — the quantizer adapts to the data), the
    * probe list is |queries| x nprobe and broadcast, and recall/cost
    * trade off on the nprobe knob — the recall curve for this corpus
    * is measured in SCALING.md. Exact integer quantized math
    * end-to-end, so results are engine-portable.
    *
    * Cache lifecycle: the prepared corpus persists MEMORY_AND_DISK
    * (consumed by the centroid sample and the assignment), registered
    * with [[graft.core.OpCaches]] — release after materializing via
    * `OpCaches.release()` or `OpCaches.materializeAndRelease(result)`.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numCentroids: Int = 64, nprobe: Int = 8,
      embCol: String = "embedding", idCol: String = "vec_id",
      centroids: Option[DataFrame] = None,
      superCells: Int = 0, superProbes: Int = 2): DataFrame = {
    val cp = prepared(corpus, embCol, idCol)
      .transform(graft.core.OpCaches.persistTracked)
    // numCentroids <= 0 scales the index with the corpus via the
    // autoCentroids sqrt law (scale nprobe with it to hold recall)
    val cent = centroids.getOrElse {
      val c = if (numCentroids > 0) numCentroids else autoCentroids(cp.count())
      centroidSample(cp, c, idCol)
    }
    // superCells > 0: coarse-then-fine assignment (~2 sqrt(C) dots per
    // vector instead of C) — the very-large-C path; the super table
    // collects ONCE and is shared by the corpus and query
    // assignments. The fallback uses the joined shape DIRECTLY (the
    // literal probe already decided the table is over-limit — no
    // per-call re-probe).
    lazy val supRowsOpt =
      if (superCells > 0) collectSuperRows(cent, superCells) else None
    // the full table is collected ONCE (bounded by the literal gate)
    // and shared by the corpus and query assignments, so both ride
    // the fused two-level kernel when admitted (r22)
    lazy val centRowsOpt =
      if (superCells > 0 && supRowsOpt.isDefined)
        collectCentroidRows(cent).filter(literalEligible)
      else None
    def assignTo(df: DataFrame, take: Int): DataFrame =
      if (superCells > 0)
        nearestCentroidsTwoLevelShared(df, cent, take, idCol, superCells,
          superProbes, supRowsOpt, centRowsOpt)
      else nearestCentroidsJoined(df, cent, take, idCol)
    // literal-centroid regime: the query side is broadcast-small BY
    // CONTRACT, so collect it once and compute the probe list in
    // driver scala ([[driverNearestCells]] — bit-identical ordering);
    // the probes then broadcast as a LocalRelation. That broadcast runs
    // no job on the AQE-off session the ann_* rows use
    // ([[graft.core.SessionTuning.boundedPlan]] plans local relations
    // as jobless scans); on a caller's own session it still runs one
    // job of min(rows, cores) tasks.
    // The query collect and the centroid collect are independent
    // driver jobs — overlap them (graft.core.Builds) so the build
    // pays one round of job latency; over-limit centroid tables
    // cancel the in-flight query collect and fall back to the
    // distributed query-side plan.
    val qrowsB =
      if (superCells > 0) None
      else Some(graft.core.Builds.buildCollect(queries)(
        collectVecRows(prepared(queries, embCol, idCol), idCol)))
    val centsOpt =
      if (superCells > 0) None
      else graft.core.Builds.withBuild(qrowsB.get)(
        collectCentroidRows(cent).filter(literalEligible))
    val (assign, probes) = centsOpt match {
      case Some(cents) =>
        val spark = corpus.sparkSession
        import spark.implicits._
        val qrows = qrowsB.get.await()
        val probeRows = qrows.toSeq.flatMap(q =>
          driverNearestCells(q, cents, nprobe)
            .map(c => (q.id, q.v.toSeq, q.n2, c)))
        (nearestCentroidsFromRows(cp, cents, 1, idCol),
          probeRows.toDF("query_id", "qv", "qn2", "cent_id"))
      case None =>
        qrowsB.foreach(_.cancel())
        (assignTo(cp, 1),
          assignTo(prepared(queries, embCol, idCol), nprobe)
            .select(col(idCol).as("query_id"), col("v").as("qv"),
              col("n2").as("qn2"), col("cent_id")))
    }
    // one row per (query, candidate): the vector's single cell meets
    // each probing query once, so no dedup is needed before top-k
    val scored = assign.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        cosineQ(dotQ(col("qv"), col("v")), col("qn2"), col("n2")).as("cosine"))
    finishTopKAgg(scored, k, idCol)
  }

  /** The plain-IVF index frame: every corpus vector with its single
    * nearest-centroid cell and its quantized payload —
    * (idCol, v, n2, cent_id), the inverted file a serving deployment
    * builds once. Literal-eligible centroid tables assign map-side;
    * over-limit tables use the joined shape (output-identical).
    */
  def ivfIndex(corpus: DataFrame, numCentroids: Int = 64,
      embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cp = prepared(corpus, embCol, idCol)
    val cent = centroidSample(cp, numCentroids, idCol)
    ivfAssigned(cp, cent, collectCentroidRows(cent), numCentroids, embCol, idCol)
  }

  /** The prepared rows `cp` in their nearest `cent` cell, stamped as an
    * [[ivfIndex]]: map-side against the collected `cents` when they
    * are literal-eligible, else the joined shape (output-identical).
    */
  private def ivfAssigned(cp: DataFrame, cent: DataFrame,
      cents: Option[Array[CentRow]], numCentroids: Int, embCol: String,
      idCol: String): DataFrame = {
    val assigned = cents.filter(literalEligible) match {
      case Some(c) => nearestCentroidsFromRows(cp, c, 1, idCol)
      case None => nearestCentroidsJoined(cp, cent, 1, idCol)
    }
    graft.core.IndexMeta.tag(assigned, "cent_id",
      "kind" -> "ivf", "numCentroids" -> numCentroids,
      "embCol" -> embCol, "idCol" -> idCol)
  }

  /** [[ivfIndex]] behind the metadata-versioned store
    * ([[graft.core.IndexStore]]): rebuilt only when the source
    * parquet fingerprint or the build parameters change.
    *
    * An appended source part is assigned to the stored centroids and
    * its rows appended: the index holds every non-null prepared
    * vector, so its `numCentroids` lowest ids ARE the centroid sample,
    * and the sample stays the same while the sample is full and every
    * new non-null id sorts above it (checked at the append; otherwise
    * the entry is rebuilt).
    */
  def storedIvfIndex(corpus: DataFrame, corpusPath: String,
      numCentroids: Int = 64,
      embCol: String = "embedding", idCol: String = "vec_id",
      force: Boolean = false): DataFrame = {
    // v3: the centroid sample definition changed in r19 (null prepared
    // vectors excluded) — every stored entry whose BUILD consumed the
    // sample is bumped with it, so a stale pre-filter index can never
    // be served against the post-filter sample (r19 ADVICE #1)
    val name = s"ivf-c$numCentroids-$embCol-$idCol-v3-" +
      graft.core.IndexStore.md5hex(corpusPath)
    graft.core.IndexStore.readOrExtend(corpus, corpusPath, name, force)(
        ivfIndex(_, numCentroids, embCol, idCol)) { (delta, stored) =>
      val cent = centroidSample(stored.select(col(idCol), col("v"), col("n2")),
        numCentroids, idCol)
      val cents = collectCentroidRows(cent, numCentroids).get
      // a null id sorts first, into the sample
      val seen = org.apache.spark.sql.Observation()
      val cp = prepared(delta, embCol, idCol).filter(col("v").isNotNull)
        .observe(seen, count(lit(1)).as("n"), count(col(idCol)).as("ids"),
          min(col(idCol).cast("long")).as("lo"))
      Some(graft.core.IndexStore.Part(
        ivfAssigned(cp, cent, Some(cents).filter(_.length <= MaxLiteralCentroids),
          numCentroids, embCol, idCol),
        () => seen.get("n") == 0L || (cents.length == numCentroids &&
          seen.get("ids") == seen.get("n") &&
          seen.get("lo").asInstanceOf[Long] > cents.last.id)))
    }
  }

  /** The `n` lowest-id prepared rows (idCol, v, n2) persisted behind
    * the metadata-versioned store. The deterministic low-id sample is
    * what every index family derives its centroid table and codebook
    * from; persisting it beside the index removes the LAST corpus
    * touch from the serving paths — a prebuilt top-k reads index
    * bytes plus this n-row frame and never scans the source again.
    * Keyed by n alone (plus columns), so families sharing a sample
    * size share the entry. `variant` disambiguates different corpus
    * FRAMES over the same source path (the storedIvfMultiIndex
    * collision class): a filtered slice's low-id sample differs from
    * the full table's, and a shared entry would silently serve
    * whichever built first.
    */
  private[operators] def storedPreparedSample(corpus: DataFrame,
      corpusPath: String, n: Int,
      embCol: String = "embedding", idCol: String = "vec_id",
      variant: String = "", force: Boolean = false): DataFrame = {
    // v2: null prepared vectors excluded, matching centroidSample's
    // definition (the version bump orphans pre-filter v1 entries
    // rather than serving a sample the inline form can't produce)
    val name = s"sample-n$n-$embCol-$idCol" +
      (if (variant.isEmpty) "" else s"-$variant") + "-v2-" +
      graft.core.IndexStore.md5hex(corpusPath)
    def nonNull(frame: DataFrame) =
      prepared(frame, embCol, idCol).filter(col("v").isNotNull)
    // an appended part leaves a full sample as it is when every new
    // row sorts after the sample's last one (ids ascending, nulls
    // first): the ids of both, from one map-only pass, compared in
    // Spark's order for their type
    graft.core.IndexStore.readOrExtend(corpus, corpusPath, name, force)(
        nonNull(_).orderBy(col(idCol)).limit(n)) { (delta, stored) =>
      val (was, now) = stored.select(col(idCol), lit(true).as("s"))
        .unionByName(nonNull(delta).select(col(idCol), lit(false).as("s")))
        .collect().partition(_.getBoolean(1))
      val order = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(stored.schema(idCol).dataType)
      def ids(rows: Array[org.apache.spark.sql.Row]) = rows.filterNot(_.isNullAt(0))
        .map(r => org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(r.get(0)))
      val last = ids(was).maxOption(order)
      Option.when(now.isEmpty || was.length == n && ids(now).length == now.length &&
          last.forall(l => ids(now).forall(order.gt(_, l))))(
        graft.core.IndexStore.Part.local(Nil))
    }
  }

  /** The IVF query phase against an already-built index frame and an
    * explicit centroid table: the per-call work is the centroid and
    * query collects (tiny, overlapped — [[graft.core.Builds]]) plus
    * the probed-cell scan over index bytes; the corpus-wide
    * assignment pass happens zero times per query.
    */
  private def serveIvfIndex(index: DataFrame, cent: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      embCol: String, idCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qrowsB = graft.core.Builds.buildCollect(queries)(
      collectVecRows(prepared(queries, embCol, idCol), idCol))
    val centsOpt = graft.core.Builds.withBuild(qrowsB)(
      collectCentroidRows(cent).filter(literalEligible))
    val probes = centsOpt match {
      case Some(cents) =>
        qrowsB.await().toSeq.flatMap(q =>
          driverNearestCells(q, cents, nprobe)
            .map(c => (q.id, q.v.toSeq, q.n2, c)))
          .toDF("query_id", "qv", "qn2", "cent_id")
      case None =>
        qrowsB.cancel()
        nearestCentroidsJoined(prepared(queries, embCol, idCol), cent,
          nprobe, idCol)
          .select(col(idCol).as("query_id"), col("v").as("qv"),
            col("n2").as("qn2"), col("cent_id"))
    }
    val scored = index.join(broadcast(probes), Seq("cent_id"))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        cosineQ(dotQ(col("qv"), col("v")), col("qn2"), col("n2")).as("cosine"))
    finishTopKAgg(scored, k, idCol)
  }

  /** [[serveIvfIndex]] with the centroid table re-derived from the
    * passed corpus (a hand-held index frame's serving entry point).
    * Output-identical to [[ivfTopK]] at the same knobs — the
    * assignment is a deterministic function of the corpus.
    */
  def ivfTopKFromIndex(index: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int,
      numCentroids: Int = 64, nprobe: Int = 8,
      embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    graft.core.IndexMeta.validate(index, "cent_id", "ivfTopKFromIndex",
      "kind" -> "ivf", "numCentroids" -> numCentroids,
      "embCol" -> embCol, "idCol" -> idCol)
    val cent = centroidSample(prepared(corpus, embCol, idCol),
      numCentroids, idCol)
    serveIvfIndex(index, cent, queries, k, nprobe, embCol, idCol)
  }

  /** [[ivfTopK]] served from the stored index — the
    * build-once/query-many shape (mirrors
    * [[graft.operators.Pq.ivfPqTopKPrebuilt]]). Centroids come from
    * the stored low-id sample, so steady-state serving touches index
    * bytes and the n-row sample ONLY — no source scan of any kind.
    */
  def ivfTopKPrebuilt(corpus: DataFrame, corpusPath: String,
      queries: DataFrame, k: Int,
      numCentroids: Int = 64, nprobe: Int = 8,
      embCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val index = storedIvfIndex(corpus, corpusPath, numCentroids, embCol, idCol)
    graft.core.IndexMeta.validate(index, "cent_id", "ivfTopKPrebuilt",
      "kind" -> "ivf", "numCentroids" -> numCentroids,
      "embCol" -> embCol, "idCol" -> idCol)
    val cent = storedPreparedSample(corpus, corpusPath, numCentroids,
        embCol, idCol)
      .select(col(idCol).as("cent_id"), col("v").as("cv"),
        col("n2").as("cn2"))
    serveIvfIndex(index, cent, queries, k, nprobe, embCol, idCol)
  }

  /** Auto centroid count: C = ceil(sqrt(n x targetCell)), floor 16.
    *
    * The growth law balances the two quadratics that kill the naive
    * choices at scale: assignment scores n x C pairs (C ~ n makes that
    * n^2 and the centroid broadcast unbounded), while per-cell pair
    * generation is bounded by n^2/C candidates (fixed C makes THAT
    * n^2). C = sqrt(n x targetCell) equalizes them — assignment
    * n^1.5 x sqrt(targetCell), candidates n^1.5/sqrt(targetCell),
    * cells of ~sqrt(n/targetCell) vectors — so total work grows as
    * n^1.5 and the broadcast as sqrt(n). Beyond ~10^9 vectors the
    * n x C assignment constant matters too: feed the same centroids
    * through [[nearestCentroidsTwoLevel]] to cut per-vector work to
    * ~2 sqrt(C) dots (cost table in SCALING.md).
    *
    * The DuckDB oracle rebuilds the same count via
    * `greatest(16, CAST(ceil(sqrt(n * 16.0)) AS BIGINT))` — sqrt and
    * ceil are IEEE-exact, so both engines agree for any n.
    */
  def autoCentroids(n: Long, targetCell: Int = 16): Int =
    math.max(16L, math.ceil(math.sqrt((n * targetCell).toDouble)).toLong).toInt

  /** Embedding near-duplicate pairs at scale: every vector is
    * multi-assigned to its `assignments` nearest centroids; pairs
    * sharing at least `minSharedCells` cells are candidates (bare ids
    * aggregated BEFORE the vectors join back — the same shuffle
    * discipline as [[graft.operators.Dedup.bandedCandidatePairs]]),
    * then verified by exact cosine against `threshold`.
    *
    * `minSharedCells = 2` is the cost knob that makes multi-assignment
    * affordable: two near-uniform random vectors rarely agree on 2+ of
    * their `assignments` nearest centroids (P(shared>=2) falls
    * superlinearly vs P(shared>=1)), while genuinely similar vectors
    * rank centroids almost identically and co-occur in several cells —
    * measured recall/cost curve in SCALING.md.
    *
    * `numCentroids <= 0` (the default) derives the centroid count from
    * the corpus size via [[autoCentroids]] — the count() is one job
    * over the already-persisted projection, the standard index-build
    * scalar.
    */
  def ivfNearDupPairs(corpus: DataFrame, threshold: Double,
      numCentroids: Int = 0, assignments: Int = 8, minSharedCells: Int = 2,
      embCol: String = "embedding", idCol: String = "vec_id",
      centroids: Option[DataFrame] = None,
      superCells: Int = 0, superProbes: Int = 2): DataFrame =
    ivfScoredPairs(corpus, numCentroids, assignments, minSharedCells,
      embCol, idCol, centroids, superCells, superProbes)
      .filter(thresholdPass(col("cosine"), threshold))

  /** [[ivfNearDupPairs]] with exact-duplicate VECTORS contracted to
    * one representative before cell assignment and the full pair set
    * reconstructed afterward — the embedding member of the r17/r18
    * exact-dup collapse family ([[graft.operators.Dedup.minHashCandidatesCollapsed]]
    * is the text twin). The contraction key is the PREPARED
    * representation (quantized `v`, `n2`): everything downstream —
    * centroid assignment, shared-cell counts, exact cosine — is a
    * pure function of (v, n2) and the shared centroid frame, so
    * members of a group behave identically to their rep and the
    * expanded output is bit-identical to the direct form
    * (suite-pinned). The centroid COUNT and SAMPLE come from the
    * FULL corpus exactly as the direct form computes them, so the
    * cell structure itself is unchanged.
    *
    * Within-group pairs share all `assignments` cells, so they are
    * candidates iff assignments >= minSharedCells (both forms), at
    * the rep's self-cosine — computed through the same
    * cosineQ(dotQ(v,v), n2, n2) expression the direct form would
    * evaluate, so degenerate zero-norm vectors yield the same NaN
    * and drop at the threshold filter identically.
    *
    * Why: the cell self-join is quadratic PER CELL in duplicate
    * copies — g identical vectors co-occupy all their cells and
    * contribute g² join rows per cell before the shared-cell
    * aggregate. The r18 100× replica embeddings corpus (100 copies
    * of every vector, A=24) ran the direct form into tens of
    * minutes; the collapsed form bounds cell work by DISTINCT
    * vectors and streams the output-proportional expansion.
    *
    * EAGERNESS: the default `dupGate` probes duplicate mass at call
    * time, FUSED with the autoCentroids count into one driver job
    * ([[gatedScoredPairs]] — the gate keys on the collapse key `v`);
    * endpoint gates (< 0 / >= 1) skip the distinct estimate.
    */
  def ivfNearDupPairsCollapsed(corpus: DataFrame, threshold: Double,
      numCentroids: Int = 0, assignments: Int = 8, minSharedCells: Int = 2,
      embCol: String = "embedding", idCol: String = "vec_id",
      centroids: Option[DataFrame] = None,
      superCells: Int = 0, superProbes: Int = 2,
      dupGate: Double = graft.operators.Dedup.DefaultDupGate): DataFrame = {
    val (_, groups, scored) = gatedScoredPairs(corpus, numCentroids,
      assignments, minSharedCells, embCol, idCol, centroids, superCells,
      superProbes, dupGate)
    val pairs = scored.filter(thresholdPass(col("cosine"), threshold))
    // within-group pairs sit at the rep's self-cosine and are candidates
    // in both forms iff the shared assignment count clears the vote
    groups.fold(pairs)(g => DupCollapse.undirected(g, pairs, "cosine",
      selfCosine, lit(assignments >= minSharedCells) &&
        thresholdPass(selfCosine, threshold)))
  }

  /** The cosine of a group's prepared vector with itself — what the
    * direct form scores for two identical vectors (NaN for zero-norm).
    */
  private def selfCosine: Column =
    cosineQ(dotQ(col("v"), col("v")), col("n2"), col("n2"))

  /** The IVF-blocked scored pairs (id_a < id_b, cosine; UNFILTERED by
    * any threshold — callers apply their own) behind the undirected
    * embedding forms, gated: `(cp, groups, scored)` with `cp` the
    * persisted prepared corpus, and `groups` = its [[DupCollapse.contract]]
    * on the prepared (v, n2) key (persisted; rep split and both
    * expansions read it) when collapsing, in which case `scored` is
    * over the representatives only.
    *
    * The centroid COUNT and SAMPLE always come from the FULL corpus,
    * exactly as the direct form computes them, so the cell structure
    * is the same on both routes. The gate decision and the
    * [[autoCentroids]] count share at most ONE driver job: the
    * duplicate-mass probe rides the count's aggregate (non-null
    * vector count + approx distinct of the collapse key `v`) instead
    * of paying its own job round — a separate probe job measured
    * +0.43 s per registered row at sf0.1 (SemDedupFloorProbe). An
    * explicit numCentroids or caller centroid frame plus an endpoint
    * gate runs no job at all. The gate keys on `v` — exactly what
    * the collapse merges — rather than the raw embedding bytes.
    */
  private def gatedScoredPairs(corpus: DataFrame, numCentroids: Int,
      assignments: Int, minSharedCells: Int, embCol: String, idCol: String,
      centroids: Option[DataFrame], superCells: Int, superProbes: Int,
      dupGate: Double): (DataFrame, Option[DataFrame], DataFrame) = {
    val cp = prepared(corpus, embCol, idCol)
      .transform(graft.core.OpCaches.persistTracked)
    var n = -1L
    val collapse = DupCollapse.worthIt(dupGate) {
      // the count rides lit(1) — ALL rows, not non-null `v`:
      // autoCentroids must see the same corpus count on every route
      // (the direct forms derive it from cp.count(), so a
      // null-embedding row counting differently here would shift the
      // centroid count and break the bit-identical cross-route
      // contract), while the fraction keys on non-null `v` inside the
      // shared probe — one definition for every gate, see
      // [[graft.operators.Dedup.dupMassProbe]]
      val (cnt, f) = graft.operators.Dedup.dupMassProbe(cp, col("v"), lit(1))
      n = cnt
      f
    }
    val cent = centroids.getOrElse {
      val c = if (numCentroids > 0) numCentroids
        else autoCentroids(if (n >= 0) n else cp.count())
      centroidSample(cp, c, idCol)
    }
    val groups =
      if (!collapse) None
      else Some(DupCollapse.contract(cp, Seq("v", "n2"), idCol)
        .transform(graft.core.OpCaches.persistTracked))
    val p = groups.fold(cp)(DupCollapse.reps(cp, _, idCol))
    val multi =
      if (superCells > 0)
        nearestCentroidsTwoLevel(p, cent, assignments, idCol, superCells, superProbes)
      else nearestCentroids(p, cent, assignments, idCol)
    (cp, groups, ivfScoredPairsFrom(p, multi, minSharedCells, idCol))
  }

  /** Near-dup COMPONENT label for every vector — the collapsed
    * composition [[ivfNearDupPairsCollapsed]] → connected components
    * → member labels, without ever materializing the member-level
    * pair list (the [[graft.operators.Dedup.neardupComponents]]
    * shape, over vectors). Output: (id, label) where label is the
    * component minimum id (vectors in no cluster label themselves).
    *
    * A duplicate group is a clique a priori only when its members
    * can pair at all: self-cosine >= threshold (identical vectors
    * score exactly cosineQ(dotQ(v,v), n2, n2) — NaN for zero-norm
    * vectors, which never pair in the direct form) and
    * assignments >= minSharedCells. INELIGIBLE groups stay one
    * singleton PER MEMBER, exactly as the uncollapsed composition
    * leaves them; their reps still enter the rep pair stage, where
    * the same cosine filter silences them identically.
    */
  def ivfNearDupComponentsCollapsed(corpus: DataFrame, threshold: Double,
      numCentroids: Int = 0, assignments: Int = 8, minSharedCells: Int = 2,
      embCol: String = "embedding", idCol: String = "vec_id",
      centroids: Option[DataFrame] = None,
      superCells: Int = 0, superProbes: Int = 2,
      dupGate: Double = graft.operators.Dedup.DefaultDupGate): DataFrame = {
    val (cp, groups, scored) = gatedScoredPairs(corpus, numCentroids,
      assignments, minSharedCells, embCol, idCol, centroids, superCells,
      superProbes, dupGate)
    val comp = graft.operators.Components.connectedComponents(
      scored.filter(thresholdPass(col("cosine"), threshold))
        .select(col("id_a"), col("id_b")))
    groups match {
      case None => DupCollapse.directLabels(cp, idCol, comp)
      case Some(g) => DupCollapse.labels(g, comp,
        lit(assignments >= minSharedCells) &&
          thresholdPass(selfCosine, threshold))
    }
  }

  /** The shared IVF-blocked candidate + exact-cosine stage behind
    * [[ivfNearDupPairs]] (threshold verify) and [[knnJoin]] (top-k
    * finish): undirected scored pairs (id_a < id_b, cosine) — the
    * direct route of [[gatedScoredPairs]].
    */
  private def ivfScoredPairs(corpus: DataFrame,
      numCentroids: Int, assignments: Int, minSharedCells: Int,
      embCol: String, idCol: String, centroids: Option[DataFrame],
      superCells: Int, superProbes: Int): DataFrame =
    gatedScoredPairs(corpus, numCentroids, assignments, minSharedCells,
      embCol, idCol, centroids, superCells, superProbes, dupGate = 1.0)._3

  /** The cell self-join + exact-cosine verify over an existing
    * (idCol, v, n2)-vector frame and (idCol, cent_id) multi-assign
    * frame — shared by the inline [[ivfScoredPairs]] and the
    * index-served [[knnJoinPrebuilt]].
    *
    * r21: the (cent_id, id) projection is repartitioned by cent_id to
    * the session's parallelism BEFORE the id_a/id_b aliasing, for two
    * reasons measured on the sf0.1 board (OPTIMIZATION_r21.md):
    *
    *  - REUSE: with the aliasing below the exchange, the two join
    *    legs were distinct subtrees and the entire multi-assign pass
    *    (the n x C encode) planned and RAN twice per call; with the
    *    aliasing above a shared exchange, ReuseExchange computes it
    *    once.
    *  - WIDTH: the legs are ~16 bytes/row, so AQE's advisory-size
    *    coalescing squeezed the join inputs to 1-2 partitions — and
    *    the per-cell pair EXPLOSION (sum m_c^2: 6.4M rows from 48k
    *    input rows at sf0.1, the dominant job of every row in this
    *    family) ran effectively single-threaded. Byte-based advisory
    *    sizing cannot see output explosion; the explicit width pins
    *    the explode + vote stage to the session's cores. The width
    *    follows defaultParallelism (no local[32] constant), so the
    *    pair work per task stays pairs/width under the sqrt-law at
    *    any scale.
    */
  private def ivfScoredPairsFrom(cp: DataFrame, multi: DataFrame,
      minSharedCells: Int, idCol: String): DataFrame = {
    val width = math.max(2,
      multi.sparkSession.sparkContext.defaultParallelism)
    val slim = multi.select(col("cent_id"), col(idCol))
      .repartition(width, col("cent_id"))
    val pairs = slim.select(col("cent_id"), col(idCol).as("id_a"))
      .join(slim.select(col("cent_id"), col(idCol).as("id_b")), Seq("cent_id"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minSharedCells)
      .select(col("id_a"), col("id_b"))
    pairs
      .join(cp.select(col(idCol).as("id_a"), col("v").as("va"), col("n2").as("na2")), Seq("id_a"))
      .join(cp.select(col(idCol).as("id_b"), col("v").as("vb"), col("n2").as("nb2")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineQ(dotQ(col("va"), col("vb")), col("na2"), col("nb2")).as("cosine"))
  }

  /** Incremental-ingest embedding near-dup: an incoming `batch` of
    * vectors probed against the existing `corpus` — the semantic twin
    * of [[graft.operators.Dedup.incrementalMinHashCandidates]], and
    * the ingest-time gate of a deduplicated corpus ("is this new
    * document a near-duplicate of anything we already hold?").
    *
    * The corpus NEVER self-joins: centroids derive from the corpus
    * (its deterministic low-id sample, so results are reproducible
    * run-to-run), both sides multi-assign to their `assignments`
    * nearest cells, and candidates are batch x corpus co-occupants
    * sharing >= `minSharedCells` cells — bounded by the batch, not
    * the corpus. Bare ids aggregate before vectors join back (the
    * [[ivfScoredPairs]] shuffle discipline). Pairs with EQUAL ids are
    * reported too (a re-ingested id is the strongest duplicate);
    * disjoint id spaces simply never produce them. This is the direct
    * route of [[ivfNearDupBatchCollapsed]] (its endpoint gate 1.0
    * runs no probe).
    *
    * @return (batch_id, corpus_id, cosine) with cosine >= threshold
    */
  def ivfNearDupBatch(corpus: DataFrame, batch: DataFrame, threshold: Double,
      numCentroids: Int = 0, assignments: Int = 8, minSharedCells: Int = 2,
      embCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    ivfNearDupBatchCollapsed(corpus, batch, threshold, numCentroids,
      assignments, minSharedCells, embCol, idCol, dupGate = 1.0)

  /** The batch × corpus candidate + exact-cosine stage behind every
    * IVF batch form: batch vectors assigned to cells (`batchCells`)
    * meet the corpus rows of the same cells (`corpusCells`, idCol +
    * cent_id), bare (batch_id, corpus_id) pairs sharing at least
    * `minSharedCells` cells aggregate BEFORE the vectors join back
    * (the [[ivfScoredPairs]] shuffle discipline), and the exact
    * cosine is checked against `threshold`. Batch vectors come from
    * `bp`; corpus vectors from `cp` (one row per id) when given, else
    * from the `corpusCells` rows themselves (a stored index: each
    * vector's assignment rows carry its (v, n2)), deduplicated AFTER
    * the candidate semi-join so only candidate ids — batch-bounded —
    * pass through that aggregate, never the whole index.
    */
  private def batchVerified(batchCells: DataFrame, corpusCells: DataFrame,
      bp: DataFrame, cp: Option[DataFrame], minSharedCells: Int,
      threshold: Double, idCol: String): DataFrame = {
    val cand0 = batchCells.select(col("cent_id"), col(idCol).as("batch_id"))
      .join(corpusCells.select(col("cent_id"), col(idCol).as("corpus_id")),
        Seq("cent_id"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minSharedCells)
      .select(col("batch_id"), col("corpus_id"))
    val (cand, corpusVecs) = cp match {
      case Some(c) => (cand0, c.select(col(idCol).as("corpus_id"),
        col("v").as("vb"), col("n2").as("nb2")))
      case None =>
        val c = cand0.transform(graft.core.OpCaches.persistTracked)
        (c, corpusCells
          .select(col(idCol).as("corpus_id"), col("v").as("vb"),
            col("n2").as("nb2"))
          .join(c.select(col("corpus_id")).distinct(),
            Seq("corpus_id"), "left_semi")
          .groupBy(col("corpus_id"))
          // every assignment row of a vector carries identical
          // (v, n2) — first() is content-deterministic here
          .agg(first(col("vb")).as("vb"), first(col("nb2")).as("nb2")))
    }
    cand
      .join(bp.select(col(idCol).as("batch_id"), col("v").as("va"),
        col("n2").as("na2")), Seq("batch_id"))
      .join(corpusVecs, Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        cosineQ(dotQ(col("va"), col("vb")), col("na2"), col("nb2")).as("cosine"))
      .filter(thresholdPass(col("cosine"), threshold))
  }

  /** [[ivfNearDupBatch]] with exact-duplicate vectors contracted on
    * BOTH sides before assignment — the incremental member of the
    * embedding collapse family. The directed (batch_id, corpus_id)
    * contract makes the expansion simpler than the undirected form:
    * a rep-level batch-vs-corpus probe (centroid count and sample
    * STILL resolved from the full corpus, so the cell structure is
    * the direct form's) yields (batch_rep, corpus_rep, cosine), and
    * each matched rep pair expands to its member cross product at
    * the same cosine — generated exactly once per (batch group,
    * corpus group), no orientation or dedup step. Identical
    * batch-vs-corpus vectors share all cells, so they surface iff
    * assignments >= minSharedCells, in both forms; NaN cosines are
    * already rejected at the rep filter. Output pinned identical to
    * the direct form (SimilaritySuite).
    *
    * Why: the direct candidate join pays batch copies × corpus
    * copies per duplicated vector per shared cell — the same
    * quadratic the r18 100× corpus caught in [[ivfNearDupPairs]],
    * on the ingest path that runs PER BATCH in production.
    */
  def ivfNearDupBatchCollapsed(corpus: DataFrame, batch: DataFrame,
      threshold: Double, numCentroids: Int = 0, assignments: Int = 8,
      minSharedCells: Int = 2, embCol: String = "embedding",
      idCol: String = "vec_id",
      dupGate: Double = graft.operators.Dedup.DefaultDupGate): DataFrame = {
    val cp = prepared(corpus, embCol, idCol)
      .transform(graft.core.OpCaches.persistTracked)
    val bp = prepared(batch, embCol, idCol)
      .transform(graft.core.OpCaches.persistTracked)
    // gate + corpus count in ONE job over the union of the prepared
    // frames — the direct path needs the corpus count for
    // autoCentroids anyway (the gatedScoredPairs fusion, two-frame
    // flavor); the gate keys on the collapse key `v` over batch ∪
    // corpus, since copies on EITHER side multiply the probe
    var nc = -1L
    val collapse = DupCollapse.worthIt(dupGate) {
      val u = cp.select(col("v"), lit(false).as("__b"))
        .union(bp.select(col("v"), lit(true).as("__b")))
      // the count conditions on corpus-side rows (ALL of them, not
      // non-null v) so autoCentroids sees exactly what cp.count()
      // would on the direct/endpoint routes — see gatedScoredPairs;
      // the fraction keys on non-null v inside the shared probe
      val (cnt, f) = graft.operators.Dedup.dupMassProbe(
        u, col("v"), when(!col("__b"), lit(1)))
      nc = cnt
      f
    }
    // the direct form's centroid resolution, from the FULL corpus
    val c = if (numCentroids > 0) numCentroids
      else autoCentroids(if (nc >= 0) nc else cp.count())
    val cent = centroidSample(cp, c, idCol)
    def verified(bq: DataFrame, cq: DataFrame) =
      batchVerified(nearestCentroids(bq, cent, assignments, idCol),
        nearestCentroids(cq, cent, assignments, idCol), bq, Some(cq),
        minSharedCells, threshold, idCol)
    if (!collapse) return verified(bp, cp)
    def grouped(p: DataFrame) = DupCollapse.contract(p, Seq("v", "n2"), idCol)
      .transform(graft.core.OpCaches.persistTracked)
    val gb = grouped(bp)
    val gc = grouped(cp)
    DupCollapse.directed(verified(DupCollapse.reps(bp, gb, idCol),
      DupCollapse.reps(cp, gc, idCol)), gb, gc)
  }

  /** The IVF MULTI-assignment index behind the near-dup family:
    * (idCol, v, n2, cent_id) with `assignments` rows per vector —
    * what [[ivfNearDupPairs]]/[[ivfNearDupBatch]] derive inline per
    * call. Stamped with both the passed and the RESOLVED centroid
    * count so a prebuilt serving path can recover an auto-derived C
    * without touching the source.
    */
  def ivfMultiIndex(corpus: DataFrame, numCentroids: Int = 0,
      assignments: Int = 8, embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val cp = prepared(corpus, embCol, idCol)
      .transform(graft.core.OpCaches.persistTracked)
    val c = if (numCentroids > 0) numCentroids else autoCentroids(cp.count())
    val cent = centroidSample(cp, c, idCol)
    graft.core.IndexMeta.tag(
      nearestCentroids(cp, cent, assignments, idCol), "cent_id",
      "kind" -> "ivfmulti", "numCentroidsArg" -> numCentroids,
      "numCentroidsResolved" -> c, "assignments" -> assignments,
      "embCol" -> embCol, "idCol" -> idCol)
  }

  /** Validate a multi-assign index's build stamp against the serving
    * call's knobs and return the RESOLVED centroid count stored at
    * build time.
    */
  private def multiStampResolvedC(index: DataFrame, what: String,
      numCentroids: Int, assignments: Int,
      embCol: String, idCol: String,
      kind: String = "ivfmulti"): Int = {
    val stamp = graft.core.IndexMeta.get(index, "cent_id").getOrElse(
      throw new IllegalStateException(
        s"$what: stored index carries no build stamp"))
    for ((k, v) <- Seq("kind" -> kind,
        "numCentroidsArg" -> numCentroids.toString,
        "assignments" -> assignments.toString,
        "embCol" -> embCol, "idCol" -> idCol))
      require(stamp.get(k).contains(v.toString),
        s"$what: index built with ${stamp.get(k)} for $k, " +
          s"served with $v — rebuild the index or match the knobs")
    stamp("numCentroidsResolved").toInt
  }

  /** [[ivfMultiIndex]] behind the metadata-versioned store.
    *
    * `variant` disambiguates DIFFERENT corpus frames built over the
    * SAME source path (e.g. a filtered slice vs the full table): the
    * store entry is keyed by (knobs, variant, path) and fingerprinted
    * by the path's files, so two frames sharing a path but not a
    * variant string would silently reuse each other's index — the
    * collision the r12 sf0.01 verify actually caught between the
    * incremental gate's `vec_id >= 40` corpus and the knn join's
    * full corpus.
    */
  def storedIvfMultiIndex(corpus: DataFrame, corpusPath: String,
      numCentroids: Int = 0, assignments: Int = 8,
      embCol: String = "embedding", idCol: String = "vec_id",
      variant: String = "", force: Boolean = false): DataFrame = {
    // v3: bumped with the r19 centroid-sample null filter — see
    // storedIvfIndex's v3 note
    val name = s"ivfmulti-c$numCentroids-a$assignments-$embCol-$idCol" +
      (if (variant.isEmpty) "" else s"-$variant") + "-v3-" +
      graft.core.IndexStore.md5hex(corpusPath)
    graft.core.IndexStore.readOrBuild(corpus.sparkSession, name,
      graft.core.IndexStore.sourceFingerprint(corpusPath), force)(
      ivfMultiIndex(corpus, numCentroids, assignments, embCol, idCol))
  }

  /** The corpus' duplicate-VECTOR-mass fraction over the prepared
    * collapse key `v` (the same HLL probe [[gatedScoredPairs]] fuses
    * inline) stamped once at build time as the `ivfroute-` store entry
    * ([[DupCollapse.storedFraction]]) — the embedding twin of
    * [[graft.operators.Dedup.storedDupFraction]], read back with zero
    * jobs per serving call.
    */
  private[graft] def storedVecDupFraction(corpus: DataFrame,
      corpusPath: String, embCol: String, idCol: String,
      variant: String, force: Boolean): Double =
    DupCollapse.storedFraction(corpus, corpusPath, "ivfroute", embCol, idCol,
      variant, force)(prepared(_, embCol, idCol).select(col("v")))

  /** Exact-duplicate vector membership of the corpus persisted
    * through the store: one row per DISTINCT prepared vector —
    * (v, n2, rep_id = group min id, ids = sorted member ids). The
    * contraction half of the prebuilt v2 collapsed serving index; a
    * pure function of the corpus, byte-identical to an inline
    * recompute. Null-embedding rows group under the null key and
    * expand like any other group — their cosines are NaN and never
    * pair, in every form.
    */
  def storedIvfGroups(corpus: DataFrame, corpusPath: String,
      embCol: String = "embedding", idCol: String = "vec_id",
      variant: String = "", force: Boolean = false): DataFrame = {
    require(variant.nonEmpty,
      "variant must name the corpus frame (store entries fingerprint the file only)")
    val name = s"ivfgroups-$embCol-$idCol-$variant-v1-" +
      graft.core.IndexStore.md5hex(corpusPath)
    graft.core.IndexStore.readOrBuild(corpus.sparkSession, name,
      graft.core.IndexStore.sourceFingerprint(corpusPath), force)(
      DupCollapse.contract(prepared(corpus, embCol, idCol), Seq("v", "n2"),
        idCol))
  }

  /** The IVF multi-assign index over DISTINCT prepared vectors only —
    * the v2 collapsed twin of [[ivfMultiIndex]]: same
    * (idCol, v, n2, cent_id) schema, one representative per
    * [[storedIvfGroups]] group instead of one row-set per copy. The
    * centroid COUNT is resolved from the FULL corpus size (recovered
    * as sum of group sizes — no corpus scan) and the SAMPLE from the
    * full corpus's stored low-id sample, so the cell structure is
    * bit-identical to the raw index's; only the assignment pass
    * shrinks to distinct vectors. Stamped `kind=ivfrepmulti` with the
    * resolved C like the raw index.
    *
    * `groups` is the caller's [[storedIvfGroups]] frame for the same
    * corpus and variant: a call that also serves it must build it
    * ONCE — under `force` a second [[storedIvfGroups]] call rewrites
    * the entry and deletes the files the first frame reads. A forced
    * build also rebuilds the centroid sample entry, so a caller that
    * reads the sample afterwards reads it unforced.
    */
  def storedIvfRepMultiIndex(corpus: DataFrame, corpusPath: String,
      groups: DataFrame, numCentroids: Int = 0, assignments: Int = 8,
      embCol: String = "embedding", idCol: String = "vec_id",
      variant: String = "", force: Boolean = false): DataFrame = {
    require(variant.nonEmpty,
      "variant must name the corpus frame (store entries fingerprint the file only)")
    // v2: bumped with the r19 centroid-sample null filter — see
    // storedIvfIndex's v3 note (this family postdates the filter, so
    // no stale entry can exist; the bump keeps the invariant mechanical
    // rather than argued per family)
    val name = s"ivfrepmulti-c$numCentroids-a$assignments-$embCol-$idCol" +
      s"-$variant-v2-" + graft.core.IndexStore.md5hex(corpusPath)
    graft.core.IndexStore.readOrBuild(corpus.sparkSession, name,
      graft.core.IndexStore.sourceFingerprint(corpusPath), force) {
      val c =
        if (numCentroids > 0) numCentroids
        else {
          // full corpus size as sum of group sizes — the autoCentroids
          // input the raw index derives from cp.count(), recovered
          // from the membership entry without a corpus scan
          val r = groups.agg(sum(size(col("ids")))).head()
          autoCentroids(if (r.isNullAt(0)) 0L else r.getLong(0))
        }
      val cent = storedPreparedSample(corpus, corpusPath, c, embCol,
        idCol, variant, force)
        .select(col(idCol).as("cent_id"), col("v").as("cv"),
          col("n2").as("cn2"))
      val repPrepared = groups
        .select(col("rep_id").as(idCol), col("v"), col("n2"))
      graft.core.IndexMeta.tag(
        nearestCentroids(repPrepared, cent, assignments, idCol), "cent_id",
        "kind" -> "ivfrepmulti", "numCentroidsArg" -> numCentroids,
        "numCentroidsResolved" -> c, "assignments" -> assignments,
        "embCol" -> embCol, "idCol" -> idCol)
    }
  }

  /** [[ivfNearDupBatch]] served from the stored multi-assign index —
    * the steady-state ingest gate: the corpus's assignment pass runs
    * ZERO times per batch; each call reads index bytes plus the
    * stored centroid sample, assigns only the BATCH, and candidates
    * stay batch-bounded. Output-identical to the inline form at the
    * same knobs (suite-pinned) — the assignment is a deterministic
    * function of the corpus.
    *
    * Corpus vectors for the exact-cosine verify come from the index
    * rows themselves (each vector's `assignments` rows carry its
    * (v, n2)), deduplicated AFTER the candidate semi-join so only
    * candidate ids — batch-bounded — pass through that aggregate,
    * never the whole index.
    *
    * ROUTING (r19): the raw index carries the copy-quadratic cell
    * probe the inline form escaped in r18 — batch copies × corpus
    * copies join rows per duplicated vector per shared cell, the
    * exact shape that ran the emb100 inline family into
    * did-not-finish. `dupGate` routes a copy-heavy corpus to the
    * collapsed v2 serving index ([[storedIvfRepMultiIndex]] +
    * [[storedIvfGroups]]); the corpus' duplicate-vector fraction is
    * stamped once at build time ([[storedVecDupFraction]]) and read
    * back with zero jobs, so duplicate-light serving keeps exactly
    * the direct path and its floor. Endpoints skip the route entry
    * ([[DupCollapse.worthIt]]): a negative gate forces the collapsed
    * index, one of 1 or more the raw one (how the suites pin both
    * serving paths output-identical).
    *
    * The collapsed route is the same serving call over DISTINCT
    * vectors: the batch contracts on the prepared key per call
    * (batch-bounded), batch reps are assigned against the stored
    * full-corpus centroid sample and probe the stored rep index, and
    * the rep pairs expand through the stored membership — once per
    * (batch group, corpus group), no orientation step. Identical
    * (v, n2) vectors behave identically to their rep at every stage
    * (assignment, shared-cell vote, cosine), so the expanded output
    * is the direct serving form's bit-for-bit (suite-pinned).
    */
  def ivfNearDupBatchPrebuilt(corpus: DataFrame, corpusPath: String,
      batch: DataFrame, threshold: Double,
      numCentroids: Int = 0, assignments: Int = 8, minSharedCells: Int = 2,
      embCol: String = "embedding", idCol: String = "vec_id",
      variant: String = "", force: Boolean = false,
      dupGate: Double = graft.operators.Dedup.DefaultDupGate): DataFrame = {
    val collapsed = DupCollapse.worthIt(dupGate)(storedVecDupFraction(
      corpus, corpusPath, embCol, idCol, variant, force))
    // the collapsed route builds its membership entry ONCE: under
    // `force` a second build would delete the files the rep index
    // build and the expansion read
    val groups =
      if (collapsed) Some(storedIvfGroups(corpus, corpusPath, embCol, idCol,
        variant, force))
      else None
    val index = groups.fold(storedIvfMultiIndex(corpus, corpusPath,
        numCentroids, assignments, embCol, idCol, variant, force))(g =>
      storedIvfRepMultiIndex(corpus, corpusPath, g, numCentroids,
        assignments, embCol, idCol, variant, force))
    val resolvedC = multiStampResolvedC(index,
      if (collapsed) "ivfNearDupBatchPrebuilt(collapsed)"
      else "ivfNearDupBatchPrebuilt",
      numCentroids, assignments, embCol, idCol,
      kind = if (collapsed) "ivfrepmulti" else "ivfmulti")
    // unforced on the collapsed route: a forced rep-index build has
    // just rebuilt this entry
    val cent = storedPreparedSample(corpus, corpusPath, resolvedC,
        embCol, idCol, variant, force && !collapsed)
      .select(col(idCol).as("cent_id"), col("v").as("cv"),
        col("n2").as("cn2"))
    val bp = prepared(batch, embCol, idCol)
      .transform(graft.core.OpCaches.persistTracked)
    def verified(bq: DataFrame) =
      batchVerified(nearestCentroids(bq, cent, assignments, idCol), index, bq,
        None, minSharedCells, threshold, idCol)
    groups match {
      case None => verified(bp)
      case Some(g) =>
        val gb = DupCollapse.contract(bp, Seq("v", "n2"), idCol)
          .transform(graft.core.OpCaches.persistTracked)
        DupCollapse.directed(verified(DupCollapse.reps(bp, gb, idCol)), gb, g)
    }
  }

  /** Corpus-wide approximate k-NN SELF-join: every vector's k
    * cosine-nearest neighbors within the corpus, via the same IVF
    * multi-assign cell blocking as [[ivfNearDupPairs]] — the scale
    * path where [[cosineTopK]]'s broadcast-queries form does not
    * apply because the query set IS the corpus (retrieval
    * augmentation, SemDeDup neighborhoods, corpus-wide label
    * propagation).
    *
    * Each undirected candidate pair is scored ONCE, then flipped into
    * both directions for the per-vector bounded top-k aggregate — at
    * most k (cosine, id) pairs per vector per map task cross the
    * final shuffle, never the candidate set. Approximation is in
    * candidate RECALL only (a vector whose true neighbor shares
    * < `minSharedCells` cells misses it; vectors with few candidates
    * return fewer than k rows); every returned cosine is exact, and
    * rank order (cosine desc, id asc) is total.
    *
    * Output: (idCol, neighbor_id, cosine, rank), corpus-sized (≤ n·k
    * rows) — keeps the scalable range sort, not the bounded
    * presentation sort.
    */
  def knnJoin(corpus: DataFrame, k: Int,
      numCentroids: Int = 0, assignments: Int = 8, minSharedCells: Int = 2,
      embCol: String = "embedding", idCol: String = "vec_id",
      centroids: Option[DataFrame] = None,
      superCells: Int = 0, superProbes: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    knnFinish(ivfScoredPairs(corpus, numCentroids, assignments,
      minSharedCells, embCol, idCol, centroids, superCells, superProbes),
      k, idCol)
  }

  /** [[knnJoin]] served from the stored multi-assign index: the
    * n × C corpus assignment pass (the encode half of the cost) runs
    * ZERO times per call — vectors AND cell assignments both read
    * from index bytes (one narrow dedup aggregate rebuilds the
    * (id, v, n2) frame from the index's duplicated rows); the cell
    * self-join, vote, exact-cosine verify, and bounded top-k are the
    * per-call work. Output-identical to the inline form at the same
    * knobs (suite-pinned).
    */
  def knnJoinPrebuilt(corpus: DataFrame, corpusPath: String, k: Int,
      numCentroids: Int = 0, assignments: Int = 8, minSharedCells: Int = 2,
      embCol: String = "embedding", idCol: String = "vec_id",
      variant: String = "", force: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val index = storedIvfMultiIndex(corpus, corpusPath, numCentroids,
      assignments, embCol, idCol, variant, force)
    multiStampResolvedC(index, "knnJoinPrebuilt",
      numCentroids, assignments, embCol, idCol)
    val cpFromIndex = index
      .groupBy(col(idCol))
      // duplicate rows of a vec carry identical (v, n2) — first() is
      // content-deterministic here
      .agg(first(col("v")).as("v"), first(col("n2")).as("n2"))
      .transform(graft.core.OpCaches.persistTracked)
    val multi = index.select(col(idCol), col("cent_id"))
    knnFinish(ivfScoredPairsFrom(cpFromIndex, multi, minSharedCells, idCol),
      k, idCol)
  }

  /** The per-vector top-k finish over undirected scored pairs: both
    * directions in ONE pass (a self-union would re-run the whole
    * candidate + score stage per branch), bounded top-k aggregate,
    * (id, rank) presentation sort.
    */
  private def knnFinish(scored: DataFrame, k: Int, idCol: String): DataFrame = {
    val directed = scored.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("cosine")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("cosine"))))
        .as("e"))
      .select(col("e.src").as(idCol), col("e.dst").as("neighbor_id"),
        col("e.cosine").as("cosine"))
    directed.groupBy(col(idCol))
      .agg(graft.functions.TopKFunctions
        .top_k(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col(idCol), posexplode(col("top")))
      .select(col(idCol),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col(idCol).asc, col("rank").asc)
  }

  /** k-NN majority-vote label propagation: predict each query
    * vector's label from its k cosine-nearest labeled neighbors —
    * the label-transfer / weak-supervision step of an embedding
    * pipeline (e.g. propagating curated topic labels onto an
    * unlabeled corpus slice). Vote ties break (votes desc,
    * label asc), neighbor selection inherits [[cosineTopK]]'s
    * deterministic (cosine desc, id asc) rank.
    *
    * Scale shape: the neighbor frame is |queries| x k rows —
    * broadcast onto the corpus for the label join, so the corpus
    * streams through once unshuffled; the vote aggregate is map-side
    * combined on (query, label); the argmax window partitions are
    * bounded by the label-set size per query, never corpus-sized.
    *
    * @return (query_id, pred_label, votes)
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label", embCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val nn = cosineTopK(corpus, queries, k, embCol, idCol)
    val voted = corpus.select(col(idCol), col(labelCol))
      .join(broadcast(nn.select(col("query_id"), col(idCol))), Seq(idCol))
      .groupBy(col("query_id"), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col(labelCol).asc)
    voted.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("query_id"), col(labelCol).as("pred_label"), col("votes"))
  }
}
