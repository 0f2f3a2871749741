package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded, deterministic k-means|| coarse quantizer for the IVF
  * operators (Bahmani et al., "Scalable k-means++", VLDB 2012).
  *
  * Produces centroids through the same (cent_id, cv, cn2) contract as
  * `Similarity.centroidSample`, so it swaps into `ivfTopK` /
  * `ivfNearDupPairs` via their `centroids` parameter. The registered
  * oracle-checked queries keep the deterministic lowest-id sample
  * (a SQL oracle can rebuild that index; rebuilding a k-means fit in
  * SQL is not practical) — this is the quality path for clustered
  * corpora, measured against the sample in SCALING.md.
  *
  * Determinism without RNG state on executors:
  * - every "random" draw is a pure function of (seed, vec id) via
  *   xxhash64, so sampling decisions are stable under any partitioning
  *   or retry;
  * - distributed reductions are exact integer sums (quantized
  *   vectors), so Lloyd updates don't depend on float reduction order;
  * - the final weighted k-means++ reduction of the oversampled
  *   candidate set runs on the driver (candidates are O(l * rounds),
  *   a few hundred rows) with a seeded JVM RNG.
  *
  * Scale shape: each round is one broadcast of the current candidate
  * set + one corpus scan (distance-to-nearest via the codegen'd
  * dot_long kernel); nothing wider than (id, d2) ever shuffles, and
  * the Lloyd update ships one (cent_id, component-sum) row per
  * (cell, dimension) thanks to map-side partial aggregation.
  */
object KMeans {

  import graft.functions.VectorFunctions.dot_long

  /** Squared L2 distance between quantized vectors via exact integer
    * parts: |a|^2 + |b|^2 - 2<a,b>.
    */
  private def d2(va: org.apache.spark.sql.Column, na2: org.apache.spark.sql.Column,
      vb: org.apache.spark.sql.Column, nb2: org.apache.spark.sql.Column) =
    na2 + nb2 - lit(2L) * dot_long(va, vb)

  /** min_{c in cent} d2(x, c) for every corpus row; cent is broadcast.
    * Returns (idCol, v, n2, best_d2).
    */
  private def minD2(cp: DataFrame, cent: Seq[(Array[Long], Long)],
      idCol: String): DataFrame = {
    val spark = cp.sparkSession
    import spark.implicits._
    val centDf = broadcast(cent.toDF("cv", "cn2"))
    cp.crossJoin(centDf)
      .groupBy(col(idCol), col("v"), col("n2"))
      .agg(min(d2(col("v"), col("n2"), col("cv"), col("cn2"))).as("best_d2"))
  }

  /** Uniform-in-[0,1) pure function of (seed, id): the top 53 bits of
    * xxhash64 — the per-point "coin" for the oversampling rounds.
    */
  private def coin(idc: org.apache.spark.sql.Column, seed: Long) =
    (shiftrightunsigned(xxhash64(lit(seed), idc), 11).cast("double") /
      lit((1L << 53).toDouble))

  /** Vector count at or below which the fit runs as a single
    * driver-side loop over one collected projection instead of the
    * iterative job sequence — the same size-gated fast path as
    * `Components`' union-find. A k-means fit is ~(rounds + iters) x 2
    * jobs distributed; under the gate that is all floor (the data is
    * a few MB), and index fits at 100 TB typically run on a bounded
    * SAMPLE anyway (the faiss `train` convention), which lands under
    * the gate by construction. 65536 x dim-64 longs ≈ 34 MB on the
    * driver. The driver loop reproduces the distributed arithmetic
    * bit-for-bit (exact integer distances, xxhash64 coins,
    * java.lang.Double ops in the same order), pinned by a cross-path
    * equality test.
    */
  val DefaultDriverMaxFitVectors: Long = 65536

  /** k-means|| centroids over a prepared corpus (`Similarity.prepared`
    * output: idCol, v, n2). Returns (cent_id, cv, cn2) with cent_id =
    * 0..k-1 in a deterministic order.
    *
    * @param rounds  oversampling rounds (the paper's ~5 suffice)
    * @param factor  oversampling factor l = factor * k per round
    * @param iters   Lloyd refinement iterations after init
    * @param driverMaxVectors corpora at or below this row count (with
    *   a bigint id) fit on the driver — see
    *   [[DefaultDriverMaxFitVectors]]; 0 forces the distributed loop
    */
  def kmeansCentroids(cpIn: DataFrame, k: Int, idCol: String = "vec_id",
      seed: Long = 42L, rounds: Int = 5, factor: Int = 2,
      iters: Int = 5,
      driverMaxVectors: Long = DefaultDriverMaxFitVectors): DataFrame = {
    val spark = cpIn.sparkSession
    import spark.implicits._
    require(k >= 1)
    // a null prepared vector (null embedding through `prepared`)
    // cannot inform a fit on either branch — it NPE'd the driver
    // probe's collect and would null the distributed loop's sums.
    // Filtered here so both branches see the same frame (the r19
    // ANN-family boundary contract).
    val cp = cpIn.filter(col("v").isNotNull)

    // --- size-gated driver fast path (bigint ids only: the coin hash
    // --- must reproduce xxhash64-of-long exactly) ---
    if (driverMaxVectors > 0 &&
        cp.schema(idCol).dataType == org.apache.spark.sql.types.LongType) {
      // clamp before toInt: a Long gate past Int.MaxValue must mean
      // "collect what a driver can hold", not overflow into a
      // negative limit()
      val gate = math.min(driverMaxVectors, Int.MaxValue - 1L).toInt
      val probe = cp.select(col(idCol), col("v"), col("n2"))
        .limit(gate + 1).collect()
      if (probe.length <= gate) {
        val rows = probe
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
          .sortBy(_._1)
        val centers = driverKmeans(rows, k, seed, rounds, factor, iters)
        return centers.zipWithIndex
          .map { case (cv, i) => (i, cv, cv.map(x => x * x).sum) }
          .toDF("cent_id", "cv", "cn2")
      }
    }

    def collectVecs(df: DataFrame): Seq[(Array[Long], Long)] =
      df.select(col("v"), col("n2")).collect().toSeq
        .map(r => (r.getSeq[Long](0).toArray, r.getLong(1)))

    // --- init round 0: the vector with the smallest (hash, id) ---
    val first = collectVecs(
      cp.withColumn("__h", xxhash64(lit(seed), col(idCol)))
        .orderBy(col("__h"), col(idCol)).limit(1))
    var candidates: Seq[(Array[Long], Long)] = first
    val l = factor.toLong * k

    // --- k-means|| oversampling: P(pick x) = min(1, l * d2 / phi) ---
    for (r <- 1 to rounds) {
      val dists = minD2(cp, candidates, idCol)
      val phi = dists.agg(sum(col("best_d2"))).as[Long].head()
      if (phi > 0) {
        // id-ordered collect: the candidate SEQUENCE feeds cand_id and
        // the seeded k-means++ walk downstream, and an unordered
        // filter collect would make the fit depend on partitioning
        val picked = collectVecs(
          dists.filter(
            coin(col(idCol), seed + r) * lit(phi.toDouble) <
              lit(l.toDouble) * col("best_d2"))
            .orderBy(col(idCol)))
        candidates = candidates ++ picked
      }
    }

    // --- weight candidates by |nearest points|, reduce to k on the
    // --- driver with seeded weighted k-means++ ---
    // --- cand_id is the position in the candidate sequence; the
    // --- broadcast table is the build side of the cross join, and the
    // --- per-candidate counts (at most one row per candidate) merge
    // --- back on the driver in sequence order, 0 where none is nearest
    val candDf = broadcast(candidates.zipWithIndex
      .map { case ((cv, cn2), i) => (i.toLong, cv, cn2) }
      .toDF("cand_id", "cv", "cn2"))
    // deterministic argmin: smallest d2, then smallest cand_id
    val weights = cp.crossJoin(candDf)
      .withColumn("d2c", d2(col("v"), col("n2"), col("cv"), col("cn2")))
      .groupBy(col(idCol))
      .agg(min(struct(col("d2c"), col("cand_id"))).as("best"))
      .groupBy(col("best.cand_id").as("cand_id"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val weighted = candidates.zipWithIndex.map { case ((cv, cn2), i) =>
      (cv, cn2, weights.getOrElse(i.toLong, 0L))
    }

    val centers = weightedKMeansPlusPlus(weighted, k, seed)

    // --- Lloyd refinement, fully distributed: the assignment is the
    // --- same broadcast-join argmin; the update aggregates exact
    // --- integer component sums per (cell, dimension) — map-side
    // --- partial, one (cent_id, pos) row each — and rebuilds each
    // --- centroid array IN the engine (sorted collect_list of C x dim
    // --- tiny structs), so the driver never materializes the
    // --- assignment and the fit composes with sqrt-law centroid
    // --- counts. floor(x + 0.5) is bit-for-bit Math.round, keeping
    // --- results identical to the earlier driver-side form; empty
    // --- cells keep their centroid via the left join. Each round
    // --- localCheckpoints (eager) — iterative plans otherwise nest
    // --- and re-analyze exponentially.
    var centDf = centers.zipWithIndex
      .map { case (cv, i) => (i, cv, cv.map(x => x * x).sum) }
      .toDF("cent_id", "cv", "cn2")
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val assigned = cp.crossJoin(broadcast(centDf))
        .withColumn("d2c", d2(col("v"), col("n2"), col("cv"), col("cn2")))
        .groupBy(col(idCol), col("v"))
        .agg(min(struct(col("d2c"), col("cent_id"))).as("best"))
        .select(col("best.cent_id").as("cent_id"), col("v"))
      val sums = assigned
        .select(col("cent_id"), posexplode(col("v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      val updated = sums.groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          x => floor(x.getField("s").cast("double") / x.getField("n") + 0.5)
            .cast("long")).as("cv2"))
      centDf = centDf.join(updated, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("cv2"), col("cv")).as("cv"))
        .withColumn("cn2", aggregate(col("cv"), lit(0L), (a, x) => a + x * x))
        .localCheckpoint()
    }
    centDf
  }

  /** The whole fit as a single driver loop over collected
    * (id, v, n2) rows SORTED BY ID — a bit-for-bit mirror of the
    * distributed path: same xxhash64 coins (via catalyst's XXH64),
    * same exact-integer distances with (d2, index) argmin tiebreaks,
    * same double op order in the sampling comparison and the
    * floor(s/n + 0.5) Lloyd update, same candidate sequence (id
    * order, matching the distributed path's ordered collect).
    * Cross-path equality is pinned in SimilaritySuite.
    */
  private[operators] def driverKmeans(rows: Array[(Long, Array[Long], Long)],
      k: Int, seed: Long, rounds: Int, factor: Int,
      iters: Int): IndexedSeq[Array[Long]] = {
    require(rows.nonEmpty, "empty corpus — no centroids")
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // xxhash64(lit(seed), id): children fold left from the default 42
    def h(id: Long, s: Long): Long =
      XXH64.hashLong(id, XXH64.hashLong(s, 42L))
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var x = 0L; var i = 0
      while (i < a.length) { x += a(i) * b(i); i += 1 }
      x
    }
    def d2(va: Array[Long], na2: Long, vb: Array[Long], nb2: Long): Long =
      na2 + nb2 - 2L * dot(va, vb)
    val n = rows.length
    val dim = rows(0)._2.length

    // init round 0: smallest (hash, id)
    var firstI = 0
    var i = 1
    while (i < n) {
      val (hi, hf) = (h(rows(i)._1, seed), h(rows(firstI)._1, seed))
      if (hi < hf || (hi == hf && rows(i)._1 < rows(firstI)._1)) firstI = i
      i += 1
    }
    val candidates =
      scala.collection.mutable.ArrayBuffer[(Array[Long], Long)](
        (rows(firstI)._2, rows(firstI)._3))
    val l = factor.toLong * k

    // oversampling rounds, candidates appended in id order
    for (r <- 1 to rounds) {
      val best = rows.map { case (_, v, n2) =>
        var b = Long.MaxValue
        candidates.foreach { case (cv, cn2) =>
          val d = d2(v, n2, cv, cn2); if (d < b) b = d
        }
        b
      }
      val phi = best.sum
      if (phi > 0) {
        i = 0
        val fresh = scala.collection.mutable.ArrayBuffer[(Array[Long], Long)]()
        while (i < n) {
          val coin = (h(rows(i)._1, seed + r) >>> 11).toDouble /
            (1L << 53).toDouble
          if (coin * phi.toDouble < l.toDouble * best(i).toDouble)
            fresh += ((rows(i)._2, rows(i)._3))
          i += 1
        }
        candidates ++= fresh
      }
    }

    // weights: points per nearest candidate ((d2, index) argmin)
    val wcount = new Array[Long](candidates.length)
    rows.foreach { case (_, v, n2) =>
      var bi = 0; var bd = Long.MaxValue
      var ci = 0
      while (ci < candidates.length) {
        val (cv, cn2) = candidates(ci)
        val d = d2(v, n2, cv, cn2)
        if (d < bd) { bd = d; bi = ci }
        ci += 1
      }
      wcount(bi) += 1
    }
    val weighted = candidates.toSeq.zipWithIndex
      .map { case ((cv, cn2), ci) => (cv, cn2, wcount(ci)) }
    var cents = weightedKMeansPlusPlus(weighted, k, seed)
      .map(cv => (cv, cv.map(x => x * x).sum))

    // Lloyd: exact integer component sums, floor(s/n + 0.5) update,
    // empty cells keep their centroid
    for (_ <- 1 to iters) {
      val sums = Array.ofDim[Long](cents.length, dim)
      val cnt = new Array[Long](cents.length)
      rows.foreach { case (_, v, n2) =>
        var bi = 0; var bd = Long.MaxValue
        var ci = 0
        while (ci < cents.length) {
          val (cv, cn2) = cents(ci)
          val d = d2(v, n2, cv, cn2)
          if (d < bd) { bd = d; bi = ci }
          ci += 1
        }
        var p = 0
        while (p < dim) { sums(bi)(p) += v(p); p += 1 }
        cnt(bi) += 1
      }
      cents = cents.indices.map { ci =>
        if (cnt(ci) == 0) cents(ci)
        else {
          val cv = Array.tabulate(dim)(p =>
            math.floor(sums(ci)(p).toDouble / cnt(ci).toDouble + 0.5).toLong)
          (cv, cv.map(x => x * x).sum)
        }
      }
    }
    cents.map(_._1).toIndexedSeq
  }

  /** Weighted k-means++ on the driver (Arthur & Vassilvitskii 2007,
    * weighted form): picks k of the candidate (vector, n2, weight)
    * rows, D^2-weighted, with a seeded RNG. Deterministic given
    * (candidates order, seed).
    */
  private[operators] def weightedKMeansPlusPlus(
      cand: Seq[(Array[Long], Long, Long)], k: Int,
      seed: Long): IndexedSeq[Array[Long]] = {
    val rnd = new scala.util.Random(seed)
    val n = cand.size
    if (n <= k) return cand.map(_._1).toIndexedSeq
    def dd(a: Array[Long], b: Array[Long]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = (a(i) - b(i)).toDouble; s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    // first: weight-proportional draw
    val totalW = cand.map(_._3.toDouble).sum.max(1.0)
    var t = rnd.nextDouble() * totalW
    var idx = 0
    while (idx < n - 1 && t > cand(idx)._3.toDouble) { t -= cand(idx)._3; idx += 1 }
    chosen += cand(idx)._1
    val best = Array.fill(n)(Double.MaxValue)
    while (chosen.size < k) {
      var i = 0
      while (i < n) {
        val d = dd(cand(i)._1, chosen.last)
        if (d < best(i)) best(i) = d
        i += 1
      }
      val total = cand.indices.map(i => best(i) * cand(i)._3).sum
      if (total <= 0) {
        // all mass on chosen points: fill with the heaviest unchosen
        val left = cand.indices
          .filterNot(i => chosen.exists(c => c.sameElements(cand(i)._1)))
          .sortBy(i => -cand(i)._3)
        left.take(k - chosen.size).foreach(i => chosen += cand(i)._1)
      } else {
        var t2 = rnd.nextDouble() * total
        var j = 0
        while (j < n - 1 && t2 > best(j) * cand(j)._3) { t2 -= best(j) * cand(j)._3; j += 1 }
        chosen += cand(j)._1
      }
    }
    chosen.toIndexedSeq
  }
}
