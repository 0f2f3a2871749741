package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

class SimilaritySuite extends SparkSuite {
  import spark.implicits._

  def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  val corpus = vecs(
    0L -> Seq(1f, 0f, 0f),
    1L -> Seq(0.9f, 0.1f, 0f),   // close to 0
    2L -> Seq(0f, 1f, 0f),       // orthogonal to 0
    3L -> Seq(-1f, 0f, 0f),      // opposite of 0
    4L -> Seq(0.95f, 0.05f, 0f)) // closest to 0

  test("cosineTopK exact values and ordering") {
    val got = Similarity.cosineTopK(corpus, corpus.filter($"vec_id" === 0L), 4)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(4L, 1L, 2L, 3L))
    assert(math.abs(got(0).getDouble(2) - 0.95 / math.sqrt(0.95 * 0.95 + 0.05 * 0.05)) < 1e-9)
    assert(got(2).getDouble(2) == 0.0)   // orthogonal
    assert(got(3).getDouble(2) == -1.0)  // opposite, exact with quantized ints
  }

  test("top_k aggregate finisher equals the window finisher exactly") {
    val queries = corpus.filter($"vec_id" <= 2L)
    val agg = Similarity.cosineTopK(corpus, queries, 3)
      .orderBy("query_id", "rank").collect().toSeq
    val win = Similarity.cosineTopK(corpus, queries, 3, useWindow = true)
      .orderBy("query_id", "rank").collect().toSeq
    assert(agg == win)
  }

  test("top_k aggregate handles ties, k > group size, and heap overflow order") {
    import graft.functions.TopKFunctions.top_k
    import org.apache.spark.sql.functions._
    // 10 rows, scores with ties; k = 4
    val df = Seq(
      (1L, 5.0, 10L), (1L, 5.0, 9L), (1L, 7.0, 8L), (1L, 1.0, 7L),
      (1L, 7.0, 11L), (1L, 3.0, 1L), (2L, 2.0, 1L)
    ).toDF("g", "score", "id")
    val got = df.groupBy($"g").agg(top_k($"score", $"id", 4).as("top"))
      .orderBy("g").collect()
    val g1 = got(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    // (7.0, 8) before (7.0, 11) — id asc on ties; then 5.0 ids 9, 10
    assert(g1 == Seq((7.0, 8L), (7.0, 11L), (5.0, 9L), (5.0, 10L)))
    val g2 = got(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(g2 == Seq((2.0, 1L))) // k larger than group
  }

  test("ivfTopK with full probing equals brute force exactly") {
    // probing every cell makes IVF exhaustive — results must be
    // bit-identical to cosineTopK (same math, same tiebreaks)
    val queries = corpus.filter($"vec_id" <= 2L)
    val brute = Similarity.cosineTopK(corpus, queries, 3)
      .orderBy("query_id", "rank").collect().toSeq
    val ivf = Similarity.ivfTopK(corpus, queries, 3,
      numCentroids = 5, nprobe = 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ivf == brute)
  }

  test("ivfTopK with narrow probing returns a subset of brute-force candidates") {
    val got = Similarity.ivfTopK(corpus, corpus.filter($"vec_id" === 0L), 4,
      numCentroids = 2, nprobe = 1).collect()
    // centroids are vecs 0 and 1 (lowest ids); everything except vec 3
    // lands in their cells... the query probes one cell only, so the
    // result is a (possibly strict) subset of the brute-force top-4
    assert(got.nonEmpty && got.length <= 4)
    val bruteIds = Similarity.cosineTopK(corpus, corpus.filter($"vec_id" === 0L), 4)
      .collect().map(_.getLong(1)).toSet
    assert(got.map(_.getLong(1)).toSet.subsetOf(bruteIds))
  }

  test("ivfNearDupPairs with full multi-assignment equals all-pairs") {
    // assigning every vector to all cells makes blocking exhaustive
    val ivf = Similarity.ivfNearDupPairs(corpus, threshold = 0.99,
      numCentroids = 5, assignments = 5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // brute-force reference computed inline (all pairs, exact math)
    val p = Similarity.prepared(corpus, "embedding", "vec_id")
    import org.apache.spark.sql.functions._
    val brute = p.select(col("vec_id").as("id_a"), col("v").as("va"), col("n2").as("na2"))
      .join(p.select(col("vec_id").as("id_b"), col("v").as("vb"), col("n2").as("nb2")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineQ(Similarity.dotQ(col("va"), col("vb")),
          col("na2"), col("nb2")).as("cosine"))
      .filter(col("cosine") >= 0.99)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(ivf == brute)
    // 0~(1,0,0), 1~(.9,.1,0), 4~(.95,.05,0) are mutually >= 0.99
    assert(ivf.map(t => (t._1, t._2)).toSet == Set((0L, 1L), (0L, 4L), (1L, 4L)))
  }

  test("ivfNearDupPairsCollapsed / ComponentsCollapsed equal the direct forms") {
    // adversarial frame: two exact-dup VECTOR groups with interleaved
    // ids (5-copy and 3-copy), a near-dup of the first base, an
    // orthogonal vector, and a 2-copy ZERO-vector group (NaN cosine:
    // must produce no pairs and stay per-member singletons)
    val a = Seq(1f, 0f, 0f); val b = Seq(0f, 1f, 0f)
    val docs = vecs(
      1L -> a, 3L -> a, 5L -> a, 7L -> a, 9L -> a,
      2L -> b, 4L -> b, 6L -> b,
      10L -> Seq(0.95f, 0.05f, 0f),
      20L -> Seq(0f, 0f, 1f),
      30L -> Seq(0f, 0f, 0f), 31L -> Seq(0f, 0f, 0f))
    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // full assignment (5 centroids, 5 assignments) = exhaustive
    // blocking; forced collapse vs direct
    val direct = Similarity.ivfNearDupPairs(docs, threshold = 0.9,
      numCentroids = 5, assignments = 5)
    val collapsed = Similarity.ivfNearDupPairsCollapsed(docs,
      threshold = 0.9, numCentroids = 5, assignments = 5, dupGate = -1.0)
    assert(pairSet(collapsed) == pairSet(direct))
    // dup groups pair at exactly 1.0; zero vectors never pair
    assert(pairSet(direct).contains((1L, 3L, 1.0)))
    assert(!pairSet(direct).exists(p => p._1 == 30L || p._2 == 30L
      || p._1 == 31L || p._2 == 31L))
    // components: forced collapse vs the direct composition
    def labels(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val compDirect = Similarity.ivfNearDupComponentsCollapsed(docs,
      threshold = 0.9, numCentroids = 5, assignments = 5, dupGate = 2.0)
    val compCollapsed = Similarity.ivfNearDupComponentsCollapsed(docs,
      threshold = 0.9, numCentroids = 5, assignments = 5, dupGate = -1.0)
    assert(labels(compCollapsed) == labels(compDirect))
    // group A ∪ near-dup 10 share component 1; zero vectors self-label
    assert(labels(compDirect).contains((10L, 1L)))
    assert(labels(compDirect).contains((30L, 30L))
      && labels(compDirect).contains((31L, 31L)))

    // real data equivalence at the registered knobs (sf0.001; the
    // default gate routes this duplicate-light frame direct, so force
    // the collapse for the pin)
    val real = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rd = Similarity.ivfNearDupPairs(real, threshold = 0.3,
      assignments = 24, minSharedCells = 2)
    val rc = Similarity.ivfNearDupPairsCollapsed(real, threshold = 0.3,
      assignments = 24, minSharedCells = 2, dupGate = -1.0)
    assert(pairSet(rc) == pairSet(rd))
    graft.core.OpCaches.release()
  }

  test("collapse routes agree on null-embedding corpora and degenerate configs") {
    // r19 ADVICE fix #1: the fused gate probe must feed autoCentroids
    // the same corpus count the direct forms derive from cp.count() —
    // a null-embedding row (quantize(null) survives prepared with a
    // null v) counted differently would shift the centroid count,
    // hence the cell structure and output, between the probed-gate
    // route and the endpoint/direct routes
    val a = Seq(1f, 0f, 0f); val b = Seq(0f, 1f, 0f)
    val docs = Seq[(Long, Seq[Float])](
      1L -> a, 3L -> a, 5L -> a, 7L -> a,
      2L -> b, 4L -> b, 6L -> b,
      10L -> Seq(0.95f, 0.05f, 0f),
      20L -> null, 21L -> null, 22L -> null)
      .toDF("vec_id", "embedding")
    def pairSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // duplicate mass over non-null v is 5/8 > gate: the probed route
    // collapses; all three must agree (and the probed route's
    // centroid count must match the direct form's)
    val probed = Similarity.ivfNearDupPairsCollapsed(docs,
      threshold = 0.9, assignments = 3)
    val forcedCollapse = Similarity.ivfNearDupPairsCollapsed(docs,
      threshold = 0.9, assignments = 3, dupGate = -1.0)
    val forcedDirect = Similarity.ivfNearDupPairsCollapsed(docs,
      threshold = 0.9, assignments = 3, dupGate = 2.0)
    val direct = Similarity.ivfNearDupPairs(docs,
      threshold = 0.9, assignments = 3)
    assert(pairSet(direct).nonEmpty)
    assert(pairSet(probed) == pairSet(direct))
    assert(pairSet(forcedCollapse) == pairSet(direct))
    assert(pairSet(forcedDirect) == pairSet(direct))
    // same for the two-frame batch flavor: corpus count for
    // autoCentroids is ALL corpus rows on every route
    val batch = Seq[(Long, Seq[Float])](
      101L -> a, 110L -> Seq(0.9f, 0.1f, 0f), 120L -> null)
      .toDF("vec_id", "embedding")
    def pset(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bDirect = Similarity.ivfNearDupBatch(docs, batch, threshold = 0.9,
      assignments = 3)
    assert(pset(bDirect).nonEmpty)
    for (gate <- Seq(graft.operators.Dedup.DefaultDupGate, -1.0, 2.0))
      assert(pset(Similarity.ivfNearDupBatchCollapsed(docs, batch,
        threshold = 0.9, assignments = 3, dupGate = gate)) == pset(bDirect),
        s"batch collapse route (gate=$gate) diverged from direct")
    // r19 ADVICE fix #2: minSharedCells > assignments (every
    // within-group pair ineligible) with an INT id column — the
    // collapsed form's empty `within` frame must keep the id type
    // instead of widening id_a/id_b to bigint via literal placeholders
    val intDocs = Seq[(Int, Seq[Float])](1 -> a, 2 -> a, 3 -> b)
      .toDF("vec_id", "embedding")
    val degCollapsed = Similarity.ivfNearDupPairsCollapsed(intDocs,
      threshold = 0.9, assignments = 1, minSharedCells = 2, dupGate = -1.0)
    val degDirect = Similarity.ivfNearDupPairs(intDocs,
      threshold = 0.9, assignments = 1, minSharedCells = 2)
    // compare (name, type) — nullability flags differ between
    // equivalent Spark plans and are not part of the contract
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    assert(shape(degCollapsed) == shape(degDirect),
      s"${degCollapsed.schema} != ${degDirect.schema}")
    graft.core.OpCaches.release()
  }

  test("null embeddings flow through the whole ANN query family without crashing") {
    // r19: a null embedding survives `prepared` with a null v, which
    // NPE'd every literal-regime driver collect — query sets, PQ
    // codebook/centroid low-id samples (null rows placed at LOW ids
    // here so they land inside every sample window). Contract: a
    // degenerate row never seeds a codebook/centroid, a degenerate
    // query returns no rows, real queries still rank
    import graft.operators.Pq
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 40L).map(i =>
      (i, if (i < 3 || i == 20) null
          else Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = Seq[(Long, Seq[Float])](
      100L -> Seq.fill(8)(0.5f), 101L -> null)
      .toDF("vec_id", "embedding")
    val nullIds = Set(0L, 1L, 2L, 20L)
    def check(df: DataFrame, what: String): Unit = {
      val rows = df.collect()
      val qids = rows.map(_.getLong(0)).toSet
      assert(qids == Set(100L), s"$what: got query ids $qids")
      assert(rows.nonEmpty, s"$what: the real query must still rank")
    }
    check(Similarity.cosineTopK(corpus, queries, 3), "cosineTopK")
    check(Similarity.ivfTopK(corpus, queries, 3, numCentroids = 8),
      "ivfTopK")
    check(Pq.pqTopK(corpus, queries, 3, m = 4, ksub = 8), "pqTopK")
    check(Pq.ivfPqTopK(corpus, queries, 3, numCentroids = 8, nprobe = 8),
      "ivfPqTopK literal")
    // over-limit centroid count exercises the joined branch and
    // collectDistTables
    check(Pq.ivfPqTopK(corpus, queries, 3, numCentroids = 300, nprobe = 300),
      "ivfPqTopK joined")
    check(Pq.ivfPqRerankTopK(corpus, queries, 3, numCentroids = 8,
      nprobe = 8, rerank = 10), "ivfPqRerankTopK")
    // a null vector never appears as a neighbor either (its scores
    // are null/NaN and the bounded top-k rejects both)
    val nbrs = Similarity.cosineTopK(corpus, queries, 10)
      .collect().map(_.getLong(1)).toSet
    assert(nbrs.intersect(nullIds).isEmpty, s"null ids ranked: $nbrs")
    // ...and never on the PQ paths either (ADVICE r21): the kernel's
    // NULL codes are never admitted by the bounded top-k, where the
    // pre-kernel chain gave null rows codes [0,...] whose FINITE ADC
    // distance could rank — this pins the NULL-codes contract
    // output shape is (query_id, rank, vec_id, pq_dist) — the
    // neighbor id is column 2
    val pqNbrs = Pq.pqTopK(corpus, queries, 10, m = 4, ksub = 8)
      .collect().map(_.getLong(2)).toSet
    assert(pqNbrs.intersect(nullIds).isEmpty, s"null ids pq-ranked: $pqNbrs")
    val ivfPqNbrs = Pq.ivfPqTopK(corpus, queries, 10, numCentroids = 8,
      nprobe = 8).collect().map(_.getLong(2)).toSet
    assert(ivfPqNbrs.intersect(nullIds).isEmpty,
      s"null ids ivfpq-ranked: $ivfPqNbrs")
    // the fitted codebook path runs on a null-containing corpus too
    assert(Pq.kmeansCodebook(corpus, m = 4, ksub = 8).length == 4)
    graft.core.OpCaches.release()
  }

  test("ivfNearDupBatchCollapsed equals the direct batch probe") {
    // corpus and batch share duplicated vectors ACROSS the split: the
    // expansion must emit the full member cross product per matched
    // (batch group, corpus group), batch-internal pairs never appear,
    // and zero vectors surface on neither side
    val a = Seq(1f, 0f, 0f); val b = Seq(0f, 1f, 0f)
    val corpus = vecs(
      1L -> a, 3L -> a, 5L -> a,
      2L -> b, 4L -> b,
      20L -> Seq(0f, 0f, 1f),
      30L -> Seq(0f, 0f, 0f))
    val batch = vecs(
      101L -> a, 103L -> a,                 // dups of corpus group A
      110L -> Seq(0.95f, 0.05f, 0f),        // near-dup of A
      131L -> Seq(0f, 0f, 0f),              // zero vector
      140L -> Seq(0.1f, 0.9f, 0.1f))        // near-dup of B
    def pset(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Similarity.ivfNearDupBatch(corpus, batch,
      threshold = 0.9, numCentroids = 5, assignments = 5)
    val collapsed = Similarity.ivfNearDupBatchCollapsed(corpus, batch,
      threshold = 0.9, numCentroids = 5, assignments = 5, dupGate = -1.0)
    assert(pset(collapsed) == pset(direct))
    assert(pset(direct).contains((101L, 1L, 1.0))
      && pset(direct).contains((103L, 5L, 1.0)))
    assert(!pset(direct).exists(p => p._1 == 131L || p._2 == 30L))
    // and the default-gate route on the registered sf0.001 split
    import org.apache.spark.sql.functions.col
    val real = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rNew = real.filter(col("vec_id") < 40)
    val rOld = real.filter(col("vec_id") >= 40)
    assert(pset(Similarity.ivfNearDupBatchCollapsed(rOld, rNew,
        threshold = 0.3, assignments = 24, minSharedCells = 2,
        dupGate = -1.0)) ==
      pset(Similarity.ivfNearDupBatch(rOld, rNew,
        threshold = 0.3, assignments = 24, minSharedCells = 2)))
    graft.core.OpCaches.release()
  }

  test("kmeansCentroids: contract, determinism, and cluster recovery") {
    import graft.operators.KMeans
    // 3 well-separated clusters of 5 vectors each
    val pts = Seq(
      (10.0, 0.0), (10.1, 0.1), (9.9, -0.1), (10.2, 0.0), (9.8, 0.1),
      (0.0, 10.0), (0.1, 10.1), (-0.1, 9.9), (0.0, 10.2), (0.1, 9.8),
      (-10.0, -10.0), (-10.1, -9.9), (-9.9, -10.1), (-10.2, -10.0), (-9.8, -9.9))
    val df = pts.zipWithIndex
      .map { case ((x, y), i) => (i.toLong, Seq(x.toFloat, y.toFloat)) }
      .toDF("vec_id", "embedding")
    val cp = Similarity.prepared(df, "embedding", "vec_id")
    val cent = KMeans.kmeansCentroids(cp, 3, seed = 42L)
      .orderBy("cent_id").collect()
    // contract: k rows, cent_id 0..k-1, cn2 = |cv|^2
    assert(cent.length == 3)
    assert(cent.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    cent.foreach { r =>
      val cv = r.getSeq[Long](1)
      assert(r.getLong(2) == cv.map(x => x * x).sum)
    }
    // determinism: same seed, same fit (bit-identical)
    val again = KMeans.kmeansCentroids(cp, 3, seed = 42L)
      .orderBy("cent_id").collect()
    assert(cent.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // quality: one centroid lands inside each true cluster (Lloyd
    // converges exactly on well-separated data; quantized coords)
    val got = cent.map(_.getSeq[Long](1).toSeq).toSet
    def near(cv: Seq[Long], x: Double, y: Double) =
      math.abs(cv(0) - x * 1000) < 500 && math.abs(cv(1) - y * 1000) < 500
    assert(got.exists(near(_, 10, 0)) && got.exists(near(_, 0, 10)) &&
      got.exists(near(_, -10, -10)), got)
    // swaps into ivfTopK via the centroids parameter: full probing
    // with fitted centroids still equals brute force
    val ivf = Similarity.ivfTopK(df, df.filter($"vec_id" === 0L), 3,
      nprobe = 3, centroids = Some(KMeans.kmeansCentroids(cp, 3, seed = 42L)))
      .collect().map(_.getLong(1)).toSet
    val brute = Similarity.cosineTopK(df, df.filter($"vec_id" === 0L), 3)
      .collect().map(_.getLong(1)).toSet
    assert(ivf == brute)
  }

  test("kmeans driver fast path equals the distributed loop bit-for-bit") {
    import graft.operators.KMeans
    // asymmetric data (no symmetry to hide an ordering bug), 40 rows
    val df = (0 until 40)
      .map(i => (i.toLong, Seq(
        (math.sin(i * 1.7) * 3 + i % 7).toFloat,
        (math.cos(i * 0.9) * 2 - i % 5).toFloat,
        (i % 11 * 0.3).toFloat,
        (math.sin(i * 0.31) - 1.2).toFloat)))
      .toDF("vec_id", "embedding")
    val cp = Similarity.prepared(df, "embedding", "vec_id")
    val driver = KMeans.kmeansCentroids(cp, 5, seed = 7L)
      .orderBy("cent_id").collect().map(_.toSeq).toSeq
    val dist = KMeans.kmeansCentroids(cp, 5, seed = 7L,
      driverMaxVectors = 0) // force the distributed loop
      .orderBy("cent_id").collect().map(_.toSeq).toSeq
    assert(driver == dist)
    // and at a different partitioning (the ordered candidate collect)
    val dist2 = KMeans.kmeansCentroids(cp.repartition(7), 5, seed = 7L,
      driverMaxVectors = 0).orderBy("cent_id").collect().map(_.toSeq).toSeq
    assert(driver == dist2)
  }

  test("kmeans distributed loop plans every hint it gives (no hint-error warning)") {
    import graft.operators.KMeans
    val df = (0 until 40)
      .map(i => (i.toLong, Seq((i % 7).toFloat, (i % 5 - 2).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    val cp = Similarity.prepared(df, "embedding", "vec_id")
    val (cent, warnings) = hintWarningsDuring(
      KMeans.kmeansCentroids(cp, 4, seed = 3L, driverMaxVectors = 0).collect())
    assert(cent.length == 4)
    assert(warnings.isEmpty, warnings.mkString("\n"))
  }

  test("extreme-norm vectors (n2 * cn2 past 2^63) still find the nearest cell") {
    import java.math.{BigDecimal => JBig, MathContext}
    import graft.functions.{NearestCellsK, TwoLevelCellsK}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rng = new scala.util.Random(20)
    val dim = 64
    def vec(): Array[Long] = Array.fill(dim)((rng.nextInt(1 << 21) - (1 << 20)).toLong)
    def n2(v: Array[Long]): Long = v.map(x => x * x).sum
    val cents = Array.fill(12)(vec())
    val ids = cents.indices.map(_.toLong).toArray
    val norms = cents.map(n2)
    val nearest = NearestCellsK(Literal(0L), Literal(0L), ids, cents, norms, take = 1)
    // one super-cell holding every centroid: the fine ranking decides
    val twoLevel = TwoLevelCellsK(Literal(0L), Literal(0L), Array(0L), Array(cents(0)),
      Array(norms(0)), 1, ids, cents, norms, Array.fill(cents.length)(0L), take = 1)
    // exact cosine: dot / sqrt(n2 * cn2) over unbounded integers
    def exactCos(v: Array[Long], j: Int): JBig = {
      val dot = v.zip(cents(j)).map { case (a, b) => BigInt(a) * BigInt(b) }.sum
      val den = (BigInt(n2(v)) * BigInt(norms(j))).bigInteger
      new JBig(dot.bigInteger).divide(new JBig(den).sqrt(MathContext.DECIMAL128),
        MathContext.DECIMAL128)
    }
    (0 until 30).foreach { t =>
      // a perturbed copy of one centroid, so the nearest cell is clear
      val base = cents(t % cents.length)
      val v = base.map(x => x + rng.nextInt(1 << 18) - (1 << 17))
      assert(Math.multiplyHigh(n2(v), norms(0)) != 0, "inputs must pass 2^63")
      val want = cents.indices.maxBy(j => exactCos(v, j)).toLong
      val data = ArrayData.toArrayData(v)
      assert(nearest.kernel(data, n2(v)).getLong(0) == want, s"nearest_cells, query $t")
      assert(twoLevel.kernel(data, n2(v)).getLong(0) == want, s"two_level_cells, query $t")
    }
    // inside the long range the denominator is the exact product,
    // rounded once: bit-identical to cast(n2 * cn2 as double)
    Seq((3L, 5L), (1L << 31, (1L << 31) - 1), (Long.MaxValue, 1L), (-7L, 9L)).foreach {
      case (a, b) => assert(graft.functions.VectorKernels.normProduct(a, b) == (a * b).toDouble)
    }
  }

  test("ivf assignment puts every corpus vector in exactly one cell") {
    val queries = corpus.filter($"vec_id" === 0L)
    // nprobe = all cells => every non-query vector scored exactly once
    val scoredCount = Similarity.ivfTopK(corpus, queries, 10,
      numCentroids = 3, nprobe = 3).count()
    assert(scoredCount == 4) // 5 vectors minus the query itself
  }

  private def pqCorpus(n: Int, dim: Int, seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map(i => (i.toLong,
      Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    rows.toDF("vec_id", "embedding")
  }

  test("pq: codebook vectors encode to their own index (zero quantization error)") {
    val c = pqCorpus(64, 32, seed = 5)
    val cb = graft.operators.Pq.codebook(c, m = 4, ksub = 16)
    assert(cb.length == 4 && cb(0).length == 16 && cb(0)(0).length == 8)
    val codes = graft.operators.Pq.encode(
      Similarity.prepared(c, "embedding", "vec_id"), cb)
      .filter($"vec_id" < 16).orderBy("vec_id").collect()
    codes.foreach { r =>
      val id = r.getLong(0).toInt
      assert(r.getSeq[Int](1) == Seq.fill(4)(id),
        s"vec $id should be its own nearest codebook entry in every subspace")
    }
  }

  test("pq: an exact duplicate ranks first by ADC distance") {
    import org.apache.spark.sql.functions.lit
    val base = pqCorpus(100, 32, seed = 7)
    val dup = base.filter($"vec_id" === 50L)
      .select(lit(999L).as("vec_id"), $"embedding")
    val c = base.union(dup)
    val got = graft.operators.Pq.pqTopK(
      c, c.filter($"vec_id" === 50L), k = 3, m = 4, ksub = 16)
      .orderBy("rank").collect()
    // identical vector -> identical codes -> minimal (equal) ADC
    // distance; no self-match in the result
    assert(got(0).getLong(2) == 999L)
    assert(got.forall(_.getLong(2) != 50L))
    assert(got.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    // deterministic across runs
    val again = graft.operators.Pq.pqTopK(
      c, c.filter($"vec_id" === 50L), k = 3, m = 4, ksub = 16)
      .orderBy("rank").collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("pq: fitted k-means sub-codebooks slot through the same contract") {
    import org.apache.spark.sql.functions.lit
    val base = pqCorpus(80, 32, seed = 13)
    val cb = graft.operators.Pq.kmeansCodebook(base, m = 4, ksub = 8)
    assert(cb.length == 4 && cb.forall(_.length <= 8) && cb(0)(0).length == 8)
    graft.core.OpCaches.release()
    val cb2 = graft.operators.Pq.kmeansCodebook(base, m = 4, ksub = 8)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq == cb2.map(_.map(_.toSeq).toSeq).toSeq,
      "fitted codebook must be deterministic")
    graft.core.OpCaches.release()
    // plugs into the same scan: a planted duplicate still ranks first
    val dup = base.filter($"vec_id" === 30L)
      .select(lit(888L).as("vec_id"), $"embedding")
    val c = base.union(dup)
    val got = graft.operators.Pq.pqTopK(c, c.filter($"vec_id" === 30L),
      k = 3, m = 4, ksub = 8, codebooks = Some(cb))
      .orderBy("rank").collect()
    assert(got(0).getLong(2) == 888L)
  }

  test("pq: chunked CASE dispatch on the joined (over-limit-centroid) path") {
    // numCentroids above MaxLiteralCentroids forces the joined index
    // build whose adcScan routes chunks via InSet probes — pin the
    // multi-chunk result against the single-chunk one
    val c = pqCorpus(60, 32, seed = 29)
    val q = c.filter($"vec_id" < 5)
    val cents = 4100 // > Similarity.MaxLiteralCentroids (4096)
    val one = graft.operators.Pq.ivfPqTopK(c, q, k = 4,
      numCentroids = cents, nprobe = cents).orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    graft.core.OpCaches.release()
    val chunked = graft.operators.Pq.ivfPqTopK(c, q, k = 4,
      numCentroids = cents, nprobe = cents, chunkSize = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(chunked == one)
    assert(one.nonEmpty)
    graft.core.OpCaches.release()
  }

  test("pq: fused multi-codebook distortion equals the per-codebook runs") {
    val c = pqCorpus(50, 32, seed = 31)
    val sCb = graft.operators.Pq.codebook(c, m = 4, ksub = 8)
    val fCb = graft.operators.Pq.kmeansCodebook(c, m = 4, ksub = 8)
    graft.core.OpCaches.release()
    val fused = graft.operators.Pq.codebookDistortions(c, Seq(sCb, fCb))
    val singles = Seq(graft.operators.Pq.codebookDistortion(c, sCb),
      graft.operators.Pq.codebookDistortion(c, fCb))
    assert(fused == singles)
    assert(fused.forall(_ > 0))
    intercept[IllegalArgumentException] {
      graft.operators.Pq.codebookDistortions(c, Seq.empty)
    }
  }

  test("pq: fitted codebook distortion never exceeds the sample's (both fit paths)") {
    // the ann_pq_fitted_bounds invariant: kmeansCodebook returns
    // best-of(fit, sample) per subspace, so regardless of what the
    // k-means|| init drew, total distortion is bounded by the sample
    // codebook's — on the driver-gated path...
    val c = pqCorpus(60, 32, seed = 47)
    val sCb = graft.operators.Pq.codebook(c, m = 4, ksub = 8)
    val fCb = graft.operators.Pq.kmeansCodebook(c, m = 4, ksub = 8)
    graft.core.OpCaches.release()
    val Seq(dS, dF) = graft.operators.Pq.codebookDistortions(c, Seq(sCb, fCb))
    assert(dF <= dS)
    // ...and on the distributed path (a non-bigint id skips the
    // driver gate in both kmeansCodebook and kmeansCentroids)
    val ci = c.withColumn("vec_id", $"vec_id".cast("int"))
    val sCb2 = graft.operators.Pq.codebook(ci, m = 4, ksub = 8)
    val fCb2 = graft.operators.Pq.kmeansCodebook(ci, m = 4, ksub = 8)
    graft.core.OpCaches.release()
    val Seq(dS2, dF2) = graft.operators.Pq.codebookDistortions(ci, Seq(sCb2, fCb2))
    assert(dF2 <= dS2)
    graft.core.OpCaches.release()
  }

  test("pq: empty query set returns an empty frame on every dispatch path") {
    val c = pqCorpus(30, 32, seed = 5)
    val none = c.filter($"vec_id" < 0)
    assert(graft.operators.Pq.pqTopK(c, none, 3).count() == 0)
    graft.core.OpCaches.release()
    assert(graft.operators.Pq.ivfPqTopK(c, none, 3,
      numCentroids = 8, nprobe = 2).count() == 0)
    graft.core.OpCaches.release()
    assert(graft.operators.Pq.ivfPqRerankTopK(c, none, 3,
      numCentroids = 8, nprobe = 2, rerank = 10).count() == 0)
    graft.core.OpCaches.release()
  }

  test("pq: over-limit query sets chunk the literal dispatch, results unchanged") {
    // chunkSize=2 with 5 queries forces 3 chunks through both
    // dispatch shapes (pqTopK's exploded array, ivfPq's CASE chain +
    // InSet routing) — results must equal the single-chunk plan's
    val c = pqCorpus(60, 32, seed = 23)
    val q = c.filter($"vec_id" < 5)
    val one = graft.operators.Pq.pqTopK(c, q, k = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val chunked = graft.operators.Pq.pqTopK(c, q, k = 4, chunkSize = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(chunked == one)
    graft.core.OpCaches.release()
    val oneIvf = graft.operators.Pq.ivfPqTopK(c, q, k = 4,
      numCentroids = 8, nprobe = 3).orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    graft.core.OpCaches.release()
    val chunkedIvf = graft.operators.Pq.ivfPqTopK(c, q, k = 4,
      numCentroids = 8, nprobe = 3, chunkSize = 2).orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(chunkedIvf == oneIvf)
  }

  test("pq: ivfPqTopK with full probing equals the plain PQ scan exactly") {
    val c = pqCorpus(120, 32, seed = 11)
    val q = c.filter($"vec_id" < 4)
    val full = graft.operators.Pq.pqTopK(c, q, k = 5).orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    graft.core.OpCaches.release()
    val ivfpq = graft.operators.Pq.ivfPqTopK(c, q, k = 5,
      numCentroids = 16, nprobe = 16).orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
    assert(ivfpq == full)
    graft.core.OpCaches.release()
    // narrow probing returns a subset of the probed candidates with
    // contiguous re-ranked positions
    val narrow = graft.operators.Pq.ivfPqTopK(c, q, k = 5,
      numCentroids = 16, nprobe = 2).orderBy("query_id", "rank").collect()
    narrow.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).toSeq == (1 to rows.length))
    }
  }

  test("two-level assignment: literal coarse level equals the joined form exactly") {
    // the coarse level compiles to literals when the super table fits
    // the literal limit; forcing the joined fallback (supRowsOpt =
    // None) must produce identical (id, cent_id) assignments — the
    // heap and literal rankings are the same ordering contract
    val c = pqCorpus(120, 32, seed = 37)
    val prep = Similarity.prepared(c, "embedding", "vec_id")
    val cent = Similarity.centroidSample(prep, 16, "vec_id")
    val sup = Similarity.collectSuperRows(cent, 4)
    assert(sup.isDefined)
    def pairs(rows: Option[Array[Similarity.CentRow]]) =
      Similarity.nearestCentroidsTwoLevelShared(prep, cent, 2, "vec_id",
        numSuper = 4, superProbes = 2, rows)
        .select("vec_id", "cent_id").orderBy("vec_id", "cent_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val lit = pairs(sup)
    graft.core.OpCaches.release()
    val joined = pairs(None)
    assert(lit == joined)
    assert(lit.nonEmpty)
  }

  test("two-level fused kernel equals the composed literal and joined forms") {
    // r22: when the FULL centroid table fits the payload gate both
    // levels fuse into one map-side TwoLevelCellsK projection — pin
    // it (id, cent_id)-identical to the composed literal-coarse form
    // AND the joined fallback across probe widths, take > candidate
    // counts, a zero-norm vector (NaN cosine -> lowest-id cells) and
    // a null embedding (no cells on every route)
    val rnd = new scala.util.Random(143)
    val base = (0L until 90L).map(i =>
      (i, if (i == 7L) null
          else if (i == 11L) Seq.fill(16)(0f)
          else Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val prep = Similarity.prepared(base, "embedding", "vec_id")
    val cent = Similarity.centroidSample(prep, 12, "vec_id")
    for ((nSuper, probes, take) <- Seq((4, 2, 2), (3, 1, 5), (4, 9, 1))) {
      val sup = Similarity.collectSuperRows(cent, nSuper)
      assert(sup.isDefined)
      val full = Similarity.collectCentroidRows(cent)
        .filter(Similarity.literalEligible)
      assert(full.isDefined)
      def pairs(supOpt: Option[Array[Similarity.CentRow]],
          centOpt: Option[Array[Similarity.CentRow]]) = {
        val got = Similarity.nearestCentroidsTwoLevelShared(prep, cent,
          take, "vec_id", nSuper, probes, supOpt, centOpt)
          .select("vec_id", "cent_id").orderBy("vec_id", "cent_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        graft.core.OpCaches.release()
        got
      }
      val fused = pairs(sup, full)
      val composed = pairs(sup, None)
      val joined = pairs(None, None)
      assert(fused == composed, s"fused != composed at ($nSuper,$probes,$take)")
      assert(fused == joined, s"fused != joined at ($nSuper,$probes,$take)")
      assert(fused.nonEmpty)
      assert(!fused.exists(_._1 == 7L), "null embedding must assign nowhere")
    }
  }

  test("assignment handles degenerate centroid tables (1 row, 0 rows)") {
    // catalyst's least() rejects single-child calls, so the literal
    // argmin needs explicit 1-row and empty-table branches — the
    // joined shape handles both naturally and the forms must agree
    val c = pqCorpus(10, 32, seed = 41)
    val prep = Similarity.prepared(c, "embedding", "vec_id")
    val one = Similarity.centroidSample(prep, 1, "vec_id")
    val litOne = Similarity.nearestCentroids(prep, one, 1, "vec_id")
      .select("vec_id", "cent_id").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(litOne.size == 10 && litOne.forall(_._2 == litOne.head._2))
    graft.core.OpCaches.release()
    // joined form on the same 1-row table must agree exactly
    val joinedOne = Similarity.nearestCentroidsJoined(prep, one, 1, "vec_id")
      .select("vec_id", "cent_id").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(joinedOne == litOne)
    graft.core.OpCaches.release()
    // two-level with a single super-cell routes everything through it
    val cent = Similarity.centroidSample(prep, 8, "vec_id")
    val tl = Similarity.nearestCentroidsTwoLevel(prep, cent, 1, "vec_id",
      numSuper = 1, superProbes = 1)
      .select("vec_id", "cent_id").orderBy("vec_id", "cent_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val flat = Similarity.nearestCentroids(prep, cent, 1, "vec_id")
      .select("vec_id", "cent_id").orderBy("vec_id", "cent_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // one super probed by everything = full centroid visibility
    assert(tl == flat)
    graft.core.OpCaches.release()
    // empty centroid table: no assignments, not an analysis error —
    // on both forms
    val none = Similarity.centroidSample(prep.filter($"vec_id" < 0), 4,
      "vec_id")
    assert(Similarity.nearestCentroids(prep, none, 1, "vec_id").count() == 0)
    assert(Similarity.nearestCentroidsJoined(prep, none, 1, "vec_id")
      .count() == 0)
  }

  test("pq: concurrent builds from separate threads match serial results") {
    // the index-build collects overlap on a shared daemon pool; two
    // whole builds driven concurrently must neither interfere nor
    // deadlock (multi-threaded drivers are the documented regime)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val c1 = pqCorpus(100, 32, seed = 23)
    val c2 = pqCorpus(80, 32, seed = 29)
    val serial1 = graft.operators.Pq.pqTopK(c1, c1.filter($"vec_id" < 3), k = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val serial2 = graft.operators.Pq.ivfPqTopK(c2, c2.filter($"vec_id" < 3),
      k = 4, numCentroids = 8, nprobe = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    graft.core.OpCaches.release()
    val f1 = Future(graft.operators.Pq.pqTopK(c1, c1.filter($"vec_id" < 3), k = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq)
    val f2 = Future(graft.operators.Pq.ivfPqTopK(c2, c2.filter($"vec_id" < 3),
      k = 4, numCentroids = 8, nprobe = 8)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq)
    assert(Await.result(f1, 120.seconds) == serial1)
    assert(Await.result(f2, 120.seconds) == serial2)
  }

  test("pq: a failing main-thread build surfaces its own error promptly") {
    // empty corpus -> the codebook build throws on the main thread
    // while the query-set collect is in flight; the call must rethrow
    // the codebook error (cancelling the background job), not hang or
    // swallow it
    val q = pqCorpus(10, 32, seed = 31)
    val empty = q.filter($"vec_id" < 0)
    val err = intercept[IllegalArgumentException] {
      graft.operators.Pq.pqTopK(empty, q, k = 3)
    }
    assert(err.getMessage.contains("empty corpus"))
  }

  test("pq: prebuilt index serving equals the inline build, and a changed source rebuilds") {
    import graft.operators.Pq
    // a real parquet source so the store has a metadata fingerprint
    val tmp = java.nio.file.Files.createTempDirectory("graft-prebuilt").toFile
    val src = new java.io.File(tmp, "corpus.parquet").getPath
    pqCorpus(120, 32, seed = 53).write.mode("overwrite").parquet(src)
    val corpus = spark.read.parquet(src)
    val q = corpus.filter($"vec_id" < 4)
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val inline = rows(Pq.ivfPqTopK(corpus, q, 5, numCentroids = 16, nprobe = 4))
    graft.core.OpCaches.release()
    // first prebuilt call builds + stores; the second serves the store
    val pre1 = rows(Pq.ivfPqTopKPrebuilt(corpus, src, q, 5,
      numCentroids = 16, nprobe = 4))
    graft.core.OpCaches.release()
    val pre2 = rows(Pq.ivfPqTopKPrebuilt(corpus, src, q, 5,
      numCentroids = 16, nprobe = 4))
    assert(pre1 == inline && pre2 == inline)
    graft.core.OpCaches.release()
    // rerank parity through the same stored index
    val inlineR = rows(Pq.ivfPqRerankTopK(corpus, q, 3,
      numCentroids = 16, nprobe = 4, rerank = 20))
    graft.core.OpCaches.release()
    val preR = rows(Pq.ivfPqRerankTopKPrebuilt(corpus, src, q, 3,
      numCentroids = 16, nprobe = 4, rerank = 20))
    assert(preR == inlineR)
    graft.core.OpCaches.release()
    // a CHANGED source must invalidate the manifest and rebuild —
    // stale codes served against the new corpus would differ
    pqCorpus(120, 32, seed = 99).write.mode("overwrite").parquet(src)
    val corpus2 = spark.read.parquet(src)
    val q2 = corpus2.filter($"vec_id" < 4)
    val inline2 = rows(Pq.ivfPqTopK(corpus2, q2, 5,
      numCentroids = 16, nprobe = 4))
    graft.core.OpCaches.release()
    val pre3 = rows(Pq.ivfPqTopKPrebuilt(corpus2, src, q2, 5,
      numCentroids = 16, nprobe = 4))
    assert(pre3 == inline2)
    graft.core.OpCaches.release()
  }

  test("pq: plain-PQ prebuilt serving equals the inline full-scan") {
    import graft.operators.Pq
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqpre").toFile
    val src = new java.io.File(tmp, "corpus.parquet").getPath
    pqCorpus(120, 32, seed = 71).write.mode("overwrite").parquet(src)
    val corpus = spark.read.parquet(src)
    val q = corpus.filter($"vec_id" < 4)
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val inline = rows(Pq.pqTopK(corpus, q, 5))
    graft.core.OpCaches.release()
    val pre1 = rows(Pq.pqTopKPrebuilt(corpus, src, q, 5))
    graft.core.OpCaches.release()
    val pre2 = rows(Pq.pqTopKPrebuilt(corpus, src, q, 5))
    assert(pre1 == inline && pre2 == inline)
    graft.core.OpCaches.release()
  }

  test("pq: pinned-codebook prebuilt serving equals the inline override, distinct codebooks never collide") {
    import graft.operators.Pq
    val tmp = java.nio.file.Files.createTempDirectory("graft-pqpin").toFile
    val src = new java.io.File(tmp, "corpus.parquet").getPath
    pqCorpus(120, 32, seed = 83).write.mode("overwrite").parquet(src)
    val corpus = spark.read.parquet(src)
    val q = corpus.filter($"vec_id" < 4)
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // two DIFFERENT "fit artifacts" over the SAME corpus file — the
    // store entry's variant key (codebook md5) must keep them apart
    // (the corpus-frame collision lesson: fingerprints track files)
    val cbSample = Pq.codebook(corpus, m = 4, ksub = 16)
    val cbFitted = Pq.kmeansCodebook(corpus, m = 4, ksub = 16)
    val inlineS = rows(Pq.pqTopK(corpus, q, 5, codebooks = Some(cbSample)))
    val inlineF = rows(Pq.pqTopK(corpus, q, 5, codebooks = Some(cbFitted)))
    graft.core.OpCaches.release()
    // build+store, then serve-from-store, interleaved across the two
    // codebooks so a shared entry would cross-contaminate
    val preS1 = rows(Pq.pqTopKPinnedPrebuilt(corpus, src, q, 5, cbSample))
    val preF1 = rows(Pq.pqTopKPinnedPrebuilt(corpus, src, q, 5, cbFitted))
    graft.core.OpCaches.release()
    val preS2 = rows(Pq.pqTopKPinnedPrebuilt(corpus, src, q, 5, cbSample))
    val preF2 = rows(Pq.pqTopKPinnedPrebuilt(corpus, src, q, 5, cbFitted))
    assert(preS1 == inlineS && preS2 == inlineS)
    assert(preF1 == inlineF && preF2 == inlineF)
    graft.core.OpCaches.release()
  }

  test("ivf: prebuilt index serving equals the inline build") {
    // the plain-IVF twin of the PQ store test: the stored
    // (vec_id, v, n2, cent_id) inverted file served by
    // ivfTopKFromIndex must reproduce ivfTopK exactly
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpre").toFile
    val src = new java.io.File(tmp, "corpus.parquet").getPath
    pqCorpus(120, 32, seed = 67).write.mode("overwrite").parquet(src)
    val corpus = spark.read.parquet(src)
    val q = corpus.filter($"vec_id" < 4)
    def rows(df: DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val inline = rows(Similarity.ivfTopK(corpus, q, 5,
      numCentroids = 16, nprobe = 4))
    graft.core.OpCaches.release()
    val pre1 = rows(Similarity.ivfTopKPrebuilt(corpus, src, q, 5,
      numCentroids = 16, nprobe = 4))
    graft.core.OpCaches.release()
    val pre2 = rows(Similarity.ivfTopKPrebuilt(corpus, src, q, 5,
      numCentroids = 16, nprobe = 4))
    assert(pre1 == inline && pre2 == inline)
    graft.core.OpCaches.release()
  }

  test("pq: withBuild cancels the in-flight background collect when main fails") {
    // the documented failure-cancels-background contract, forced
    // deterministically: the background body is a job whose single
    // task signals arrival and then parks on a latch, the main side
    // throws while that job is provably in flight, and the tagged job
    // must then die from the CANCEL — the latch is still closed, so a
    // successful await would mean the cancel missed and the job ran
    // to an unobserved completion
    import java.util.concurrent.TimeUnit
    BuildCancelFixture.reset()
    val sc = spark.sparkContext
    val bc = graft.core.Builds.buildCollect(spark.range(1).toDF("x")) {
      sc.parallelize(0 until 1, 1).mapPartitions { it =>
        BuildCancelFixture.started.countDown()
        BuildCancelFixture.release.await(60, TimeUnit.SECONDS)
        it
      }.collect()
    }
    assert(BuildCancelFixture.started.await(30, TimeUnit.SECONDS),
      "background job never started")
    val boom = intercept[RuntimeException] {
      graft.core.Builds.withBuild(bc)(throw new RuntimeException("main build failed"))
    }
    assert(boom.getMessage == "main build failed")
    val res = scala.util.Try(bc.await())
    BuildCancelFixture.release.countDown()
    assert(res.isFailure, "background collect completed despite cancellation")
    assert(res.failed.get.getMessage.toLowerCase.contains("cancel"),
      s"expected a cancellation failure, got: ${res.failed.get}")
  }

  test("pq: over-budget cell assignment (joined heap) equals the plain scan") {
    // dim 64 x C=160 = 10240 dot terms exceeds the literal budget, so
    // the index build assigns cells via the joined heap — with full
    // probing the result must still equal the cell-free PQ scan
    val c = pqCorpus(200, 64, seed = 43)
    val q = c.filter($"vec_id" < 3)
    val full = graft.operators.Pq.pqTopK(c, q, k = 5, m = 4, ksub = 16)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    graft.core.OpCaches.release()
    val ivfpq = graft.operators.Pq.ivfPqTopK(c, q, k = 5,
      numCentroids = 160, nprobe = 160, m = 4, ksub = 16)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ivfpq == full)
    graft.core.OpCaches.release()
  }

  test("pq: full-probe rerank with corpus-wide candidates equals brute force exactly") {
    val c = pqCorpus(90, 32, seed = 17)
    val q = c.filter($"vec_id" < 3)
    val brute = Similarity.cosineTopK(c, q, 5).orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    graft.core.OpCaches.release()
    val refined = graft.operators.Pq.ivfPqRerankTopK(c, q, 5,
      numCentroids = 16, nprobe = 16, rerank = 200)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    // same (query, doc, cosine, rank) tuples — the refine step fully
    // recovers the exact ranking when nothing is pruned
    assert(refined.map(t => (t._1, t._3, t._4, t._2)) == brute)
  }
}

/** Latches for the withBuild-cancellation test: a top-level object so
  * the task closure reaches the same instance the test thread holds
  * (local mode, one JVM).
  */
object BuildCancelFixture {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
}
