package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.rand

import graft.core.MissingColumnException
import graft.selectivesearch.{BucketResolver, SelectiveSearch}
import graft.selectivesearch.SelectiveSearch._

/** Ports of the reference's six unit tests with identical fixtures and
  * expected frames (reference: test/unit/test_selectivesearch.py:17-98).
  *
  * The reference's expected row orders rely on pandas' stable sorts
  * breaking ties by input row order; our pipelines use the explicit
  * (shard, bucket) tiebreak, which reproduces every reference expected
  * frame for these fixtures (verified row by row — see FIXTURES.md §1).
  */
class SelectiveSearchSuite extends SparkSuite {
  import spark.implicits._

  // reference: test_selectivesearch.py:17-24
  def results: DataFrame = Seq(
    (0, 0, 0, 3.0), (0, 0, 1, 2.0), (0, 1, 0, 5.0),
    (0, 1, 1, 2.0), (0, 2, 0, 4.0), (0, 2, 1, 1.0),
    (1, 0, 0, 2.0), (1, 0, 1, 2.0), (1, 1, 0, 4.0),
    (1, 1, 1, 3.0), (1, 2, 0, 5.0), (1, 2, 1, 5.0)
  ).toDF("query", "shard", "bucket", "score")

  // reference: test_selectivesearch.py:26-32
  def selection: DataFrame = Seq(
    (0, 0, 0), (0, 1, 2), (0, 2, 1),
    (1, 0, 2), (1, 1, 1), (1, 2, 0)
  ).toDF("query", "shard", "rank")

  // reference: test_selectivesearch.py:34-41
  def bucketSelection: DataFrame = Seq(
    (0, 0, 0, 0), (0, 0, 1, 3), (0, 1, 0, 1),
    (0, 1, 1, 4), (0, 2, 0, 2), (0, 2, 1, 5),
    (1, 0, 0, 2), (1, 0, 1, 0), (1, 1, 0, 3),
    (1, 1, 1, 1), (1, 2, 0, 4), (1, 2, 1, 5)
  ).toDF("query", "shard", "bucket", "rank")

  // reference: test_select_all (test_selectivesearch.py:43-47)
  test("select with t = all shards returns everything, sorted") {
    val selected = SelectiveSearch.select(selection, results, 3)
    assertRowsEqual(selected, Seq(
      Seq(0, 1, 0, 5.0), Seq(0, 2, 0, 4.0), Seq(0, 0, 0, 3.0),
      Seq(0, 0, 1, 2.0), Seq(0, 1, 1, 2.0), Seq(0, 2, 1, 1.0),
      Seq(1, 2, 0, 5.0), Seq(1, 2, 1, 5.0), Seq(1, 1, 0, 4.0),
      Seq(1, 1, 1, 3.0), Seq(1, 0, 0, 2.0), Seq(1, 0, 1, 2.0)))
    assert(selected.columns.toSeq == Seq("query", "shard", "bucket", "score"))
  }

  // reference: test_select_one (test_selectivesearch.py:49-56)
  test("select with t = 1 keeps only the rank-0 shard per query") {
    val selected = SelectiveSearch.select(selection, results.drop("bucket"), 1)
    assertRowsEqual(selected, Seq(
      Seq(0, 0, 3.0), Seq(0, 0, 2.0),
      Seq(1, 2, 5.0), Seq(1, 2, 5.0)))
    assert(selected.columns.toSeq == Seq("query", "shard", "score"))
  }

  // reference: test_decayed_buckets (test_selectivesearch.py:58-66)
  test("decayedBuckets exact sequences and bounds") {
    assert(decayedBuckets(10, 5, 1) == Seq(10, 10, 10, 10, 10))
    assert(decayedBuckets(10, 5, 0.9) == Seq(10, 9, 9, 8, 7))
    assert(decayedBuckets(2, 3, 0.5) == Seq(2, 1, 1))
    assert(decayedBuckets(2, 3, 0.6) == Seq(2, 2, 1))
    intercept[IllegalArgumentException](decayedBuckets(10, 5, 0))
    intercept[IllegalArgumentException](decayedBuckets(10, 5, 1.1))
  }

  // reference: test_select_with_decay (test_selectivesearch.py:68-76)
  test("selectWithDecay t=3 decay=0.5 gives budgets [2,1,1]") {
    val selected = SelectiveSearch.selectWithDecay(selection, results, 3, 0.5)
    assertRowsEqual(selected, Seq(
      Seq(0, 1, 0, 5.0), Seq(0, 2, 0, 4.0), Seq(0, 0, 0, 3.0), Seq(0, 0, 1, 2.0),
      Seq(1, 2, 0, 5.0), Seq(1, 2, 1, 5.0), Seq(1, 1, 0, 4.0), Seq(1, 0, 0, 2.0)))
  }

  test("selectWithDecay decay=1 degenerates to select") {
    val a = SelectiveSearch.selectWithDecay(selection, results, 2, 1.0).collect().toSeq
    val b = SelectiveSearch.select(selection, results, 2).collect().toSeq
    assert(a == b)
  }

  // reference: test_select_buckets (test_selectivesearch.py:78-87)
  test("selectBuckets t=3 selects resolved contiguous buckets") {
    val selected = SelectiveSearch.selectBuckets(bucketSelection, results, 3)
    assertRowsEqual(selected, Seq(
      Seq(0, 1, 0, 5.0), Seq(0, 2, 0, 4.0), Seq(0, 0, 0, 3.0),
      Seq(1, 1, 0, 4.0), Seq(1, 0, 0, 2.0), Seq(1, 0, 1, 2.0)))
  }

  // reference: test_resolve_bucket_selection (test_selectivesearch.py:89-98)
  test("resolveBucketSelection emits contiguous per-shard prefixes") {
    val resolved = BucketResolver.resolveBucketSelection(bucketSelection, 3)
      .orderBy("query", "shard", "bucket")
    assertRowsEqual(resolved, Seq(
      Seq(0, 0, 0), Seq(0, 1, 0), Seq(0, 2, 0),
      Seq(1, 0, 0), Seq(1, 0, 1), Seq(1, 1, 0)))
  }

  test("selectWithDecay on empty results fails loudly, not silently empty") {
    // empty results -> max(bucket) null -> every budget null: without
    // the in-plan guard the output would silently be empty where the
    // reference's driver `first().getAs[Number]` form raised. A
    // statically-KNOWN-empty local input is collapsed whole by
    // PropagateEmptyRelation before the guard can evaluate — and
    // empty output for provably empty input is the right answer — so
    // exercise the guard with a parquet-backed input whose emptiness
    // only materializes at runtime (the 100 TB shape: a filter that
    // happens to match nothing). AQE off so runtime empty-stage
    // pruning cannot race the guard's one-row agg.
    val aqeKey = "spark.sql.adaptive.enabled"
    val origAqe = spark.conf.get(aqeKey)
    val err = intercept[Exception] {
      try {
        spark.conf.set(aqeKey, "false")
        SelectiveSearch.selectWithDecay(
          selection, Tables.results(spark, sf("sf0.001")).filter($"score" < 0),
          3, 0.5).collect()
      } finally spark.conf.set(aqeKey, origAqe)
    }
    val messages = errorChain(err)
    assert(messages.contains("empty results"),
      s"expected the raise_error guard, got: $messages")
  }

  test("selectWithDecay excludes out-of-domain (negative) ranks") {
    // A malformed selection row with rank = -1 must receive NO budget
    // and contribute NO output rows: the pre-inline form inner-joined
    // against a ranks 0..t-1 lookup, so out-of-domain ranks were
    // silently excluded, and the inlined fold keeps that join-era
    // domain explicitly via rank BETWEEN 0 AND t-1 (a bare `rank < t`
    // would feed the fold an empty repeat array and hand such rows the
    // FULL ceil(nb) budget). `select`'s plain `rank < t` path is the
    // documented contrast: there a negative rank still selects the
    // shard, matching the reference's unguarded boolean mask.
    val malformed = selection
      .union(Seq((0, 0, -1)).toDF("query", "shard", "rank"))
    // query 0 shard 0 already holds rank 0, so give the -1 row its own
    // shard to make any leaked budget visible: use a fresh frame where
    // (query 0, shard 1) has ONLY the malformed rank
    val sel2 = Seq((0, 0, 0), (0, 1, -1), (0, 2, 1)).toDF("query", "shard", "rank")
    val out = SelectiveSearch.selectWithDecay(sel2, results, 3, 0.5)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // shard 1 (the negative-rank row) must be absent entirely
    assert(!out.contains((0, 1)), s"negative rank leaked budget: $out")
    // and the well-formed rows still flow (rank 0 -> budget 2 buckets)
    assert(out.contains((0, 0)))
    // the original fixture plus a duplicate-shard malformed row is
    // also unchanged vs the clean fixture (the -1 row adds nothing)
    val a = SelectiveSearch.selectWithDecay(malformed, results, 3, 0.5)
      .collect().toSeq
    val b = SelectiveSearch.selectWithDecay(selection, results, 3, 0.5)
      .collect().toSeq
    assert(a == b)
  }

  /** The three select calls over one experiment, each with the given
    * known query domain.
    */
  private def selectCalls(sel: DataFrame, bucketSel: DataFrame, res: DataFrame,
      domain: Option[Int]): Seq[(String, DataFrame)] = Seq(
    "select" -> SelectiveSearch.select(sel, res, 2, domain),
    "selectWithDecay" -> SelectiveSearch.selectWithDecay(sel, res, 3, 0.5, domain),
    "selectBuckets" -> SelectiveSearch.selectBuckets(bucketSel, res, 3, domain))

  private def errorChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")

  test("queryDomain: a query id outside [0, nq) fails loudly") {
    // query 1 == nq for nq = 1
    for ((name, df) <- selectCalls(selection, bucketSelection, results, Some(1))) {
      val err = intercept[Exception](df.collect())
      assert(errorChain(err).contains("sortByKnownDomain"), s"$name: ${errorChain(err)}")
    }
    // a negative id, with its own selection rows so it reaches the sort
    def negated(df: DataFrame) = df.union(df.filter($"query" === 0)
      .withColumn("query", org.apache.spark.sql.functions.lit(-1)))
    for ((name, df) <- selectCalls(negated(selection), negated(bucketSelection),
        negated(results), Some(2))) {
      val err = intercept[Exception](df.collect())
      assert(errorChain(err).contains("sortByKnownDomain"), s"$name: ${errorChain(err)}")
    }
  }

  test("queryDomain: output is totally ordered for nq = 1, 3, 4, 10") {
    val rnd = new scala.util.Random(11)
    for (nq <- Seq(1, 3, 4, 10)) {
      val cells = for (q <- 0 until nq; s <- 0 until 3; b <- 0 until 2) yield (q, s, b)
      // few distinct scores, so the (shard, bucket, gdocid) tiebreak decides
      val res = cells.flatMap { case (q, s, b) =>
        (0 until 3).map(d => (q, s, b, rnd.nextInt(4).toDouble, ((q * 3 + s) * 2 + b) * 3L + d))
      }.toDF("query", "shard", "bucket", "score", "gdocid").repartition(3)
      val sel = (for (q <- 0 until nq) yield
        rnd.shuffle((0 until 3).toList).zipWithIndex.map { case (s, r) => (q, s, r) })
        .flatten.toDF("query", "shard", "rank")
      val bSel = (for (q <- 0 until nq) yield
        rnd.shuffle(cells.filter(_._1 == q).toList).zipWithIndex
          .map { case ((_, s, b), r) => (q, s, b, r) })
        .flatten.toDF("query", "shard", "bucket", "rank")
      val routed = selectCalls(sel, bSel, res, Some(nq))
      val sampled = selectCalls(sel, bSel, res, None)
      for (((name, got), (_, want)) <- routed.zip(sampled)) {
        val rows = got.collect().toSeq
        assert(rows.nonEmpty && rows == want.collect().toSeq, s"$name nq=$nq")
        // and the order is the (query, score desc, shard, bucket, gdocid) one
        val keys = rows.map(r => (r.getAs[Int]("query"), -r.getAs[Double]("score"),
          r.getAs[Int]("shard"), r.getAs[Int]("bucket"), r.getAs[Long]("gdocid")))
        assert(keys == keys.sorted, s"$name nq=$nq out of order")
      }
    }
  }

  test("sortByKnownDomain: a null key fails the in-plan guard") {
    // the select family's inner joins drop null queries before the
    // sort, so call the sort directly
    import org.apache.spark.sql.functions.col
    val df = Seq(Some(0), None, Some(1)).toDF("query")
    val sorted = graft.core.StaticRange.sortByKnownDomain(
      df, col("query"), 2, Seq(col("query").asc))
    val err = intercept[Exception](sorted.collect())
    assert(errorChain(err).contains("sortByKnownDomain: pid outside [0, 2)"),
      errorChain(err))
  }

  test("missing columns raise MissingColumnException") {
    intercept[MissingColumnException](
      SelectiveSearch.select(selection.drop("rank"), results, 1))
    intercept[MissingColumnException](
      SelectiveSearch.select(selection, results.drop("score"), 1))
  }
}
