package graft

import scala.jdk.CollectionConverters._

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

  test("resolveBucketSelection: a parquet-backed multi-partition input equals the local one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-resolve").toString
    // longer budgets than the reference fixture, so several shards and
    // queries interleave across the partitions
    val sel = (0 until 6).flatMap(q => (0 until 4).flatMap(s => (0 until 3).map(b =>
      (q.toLong, s, b, ((q * 7 + s * 5 + b * 3) % 12))))).toDF("query", "shard", "bucket", "rank")
    sel.repartition(3).write.mode("overwrite").parquet(s"$dir/sel")
    val onDisk = spark.read.parquet(s"$dir/sel")
    assert(onDisk.rdd.getNumPartitions > 1)
    val local = spark.createDataFrame(onDisk.collect().toSeq.asJava, onDisk.schema)
    for (t <- Seq(1, 4, 7)) {
      val a = BucketResolver.resolveBucketSelection(onDisk, t)
      val b = BucketResolver.resolveBucketSelection(local, t)
      assert(a.schema == b.schema)
      assert(a.orderBy("query", "shard", "bucket").collect().toSeq ==
        b.orderBy("query", "shard", "bucket").collect().toSeq)
    }
    // a local input resolves with no job; one collect otherwise
    assert(jobsDuring(BucketResolver.resolveBucketSelection(local, 4))._2 == 0)
    assert(jobsDuring(BucketResolver.resolveBucketSelection(onDisk, 4))._2 >= 1)
  }

  test("resolveBucketSelection: empty selection and threshold 0 give a typed empty frame") {
    import org.apache.spark.sql.types._
    def f(n: String, t: DataType) = StructField(n, t, nullable = false)
    val empty = bucketSelection.filter($"rank" < 0)
    for ((in, t) <- Seq((empty, 3), (bucketSelection, 0))) {
      val got = BucketResolver.resolveBucketSelection(in, t)
      assert(got.collect().isEmpty)
      assert(got.schema == StructType(Seq(f("query", IntegerType), f("shard", IntegerType),
        f("bucket", IntegerType))))
    }
    val longIds = BucketResolver.resolveBucketSelection(
      bucketSelection.withColumn("query", $"query".cast("long")), 0)
    assert(longIds.schema("query").dataType == LongType)
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

  private lazy val work = java.nio.file.Files.createTempDirectory("graft-ss").toString

  /** The two TREC exports of a select output, each as a thunk. The
    * aggregate reads the select rows without their sort, so these pin
    * that the query-domain guard survives the sort's removal.
    */
  private def exports(name: String, df: DataFrame): Seq[(String, () => Any)] = {
    val titled = df.withColumn("title", org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("d"), $"shard", $"bucket"))
    val path = s"$work/$name.trec"
    Seq(s"trecFrameTopK($name)" -> (() => SelectiveSearch.trecFrameTopK(titled, 2).collect()),
      s"toTrec($name)" -> (() => {
        SelectiveSearch.toTrec(titled, path, 2)
        assert(false, s"$path was written")
      }))
  }

  test("queryDomain: a query id outside [0, nq) fails loudly") {
    // query 1 == nq for nq = 1
    for ((name, df) <- selectCalls(selection, bucketSelection, results, Some(1))) {
      val err = intercept[Exception](df.collect())
      assert(errorChain(err).contains("sortByKnownDomain"), s"$name: ${errorChain(err)}")
      for ((export, run) <- exports(name, df)) {
        val err = intercept[Exception](run())
        assert(errorChain(err).contains("sortByKnownDomain"), s"$export: ${errorChain(err)}")
      }
    }
    // a negative id, with its own selection rows so it reaches the sort
    def negated(df: DataFrame) = df.union(df.filter($"query" === 0)
      .withColumn("query", org.apache.spark.sql.functions.lit(-1)))
    for ((name, df) <- selectCalls(negated(selection), negated(bucketSelection),
        negated(results), Some(2))) {
      val err = intercept[Exception](df.collect())
      assert(errorChain(err).contains("sortByKnownDomain"), s"$name: ${errorChain(err)}")
      for ((export, run) <- exports(name, df)) {
        val err = intercept[Exception](run())
        assert(errorChain(err).contains("sortByKnownDomain"), s"$export: ${errorChain(err)}")
      }
    }
  }

  test("TREC exports read select outputs without their sort, same rows") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    for ((name, df) <- selectCalls(selection, bucketSelection, results, Some(2))) {
      val titled = df.withColumn("title", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("d"), $"shard", $"bucket"))
      val topK = SelectiveSearch.trecFrameTopK(titled, 3)
      val plan = topK.queryExecution.executedPlan
      // under the aggregates: no sort, and one exchange — the select's
      // own query-domain route, which the aggregate reuses
      val underAgg = plan.collect { case a: BaseAggregateExec => a.child }
      assert(underAgg.nonEmpty, plan.toString)
      underAgg.flatMap(_.collect { case s: SortExec => s }).foreach(s =>
        fail(s"$name: sort under the aggregate: $plan"))
      // (the max(bucket) side of selectWithDecay shuffles inside its
      // own broadcast)
      def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
        case _: BroadcastExchangeExec => Nil
        case e: ShuffleExchangeExec => e +: shuffles(e.child)
        case other => other.children.flatMap(shuffles)
      }
      val exchanges = shuffles(underAgg.head)
      assert(exchanges.size == 1 &&
        exchanges.head.outputPartitioning.toString.contains("shufflepartitionidpassthrough"),
        s"$name: $plan")
      assert(topK.collect().toSeq == SelectiveSearch.trecFrame(titled, 3).collect().toSeq, name)
    }
  }

  test("TREC exports of routed select outputs keep (query, rank) order, nq = 1, 3, 4, 10") {
    // the aggregate runs in the route's partitions, whose partition
    // order is query order: the window form's single global sort is
    // the reference
    val rnd = new scala.util.Random(13)
    for (nq <- Seq(1, 3, 4, 10)) {
      val cells = for (q <- 0 until nq; s <- 0 until 3; b <- 0 until 2) yield (q, s, b)
      val res = cells.flatMap { case (q, s, b) =>
        (0 until 4).map(d => (q, s, b, rnd.nextInt(5).toDouble, ((q * 3 + s) * 2 + b) * 4L + d))
      }.toDF("query", "shard", "bucket", "score", "gdocid").repartition(3)
      val sel = (for (q <- 0 until nq) yield
        rnd.shuffle((0 until 3).toList).zipWithIndex.map { case (s, r) => (q, s, r) })
        .flatten.toDF("query", "shard", "rank")
      val bSel = (for (q <- 0 until nq) yield
        rnd.shuffle(cells.filter(_._1 == q).toList).zipWithIndex
          .map { case ((_, s, b), r) => (q, s, b, r) })
        .flatten.toDF("query", "shard", "bucket", "rank")
      for ((name, df) <- selectCalls(sel, bSel, res, Some(nq))) {
        val titled = df.withColumn("title",
          org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.lit("d"),
            $"gdocid"))
        val got = SelectiveSearch.trecFrameTopK(titled, 4).collect().toSeq
        assert(got.nonEmpty && got == SelectiveSearch.trecFrame(titled, 4).collect().toSeq,
          s"$name nq=$nq")
      }
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

  test("one Spark job per action on the loader fixture") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, concat, lit, row_number}
    val dir = s"$work/loaders"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val (nq, ns, nb) = (3, 4, 2)
    def scores(name: String, n: Int) = {
      val path = s"$dir/$name"
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (0 until n).map(i => ((i * 37) % 11).toString).mkString("\n").getBytes)
      path
    }
    val queries = 0L until nq.toLong
    val shardSel = SelectiveSearch.loadShardSelection(spark, queries, ns, scores("s.csv", nq * ns))
    val bucketSel = SelectiveSearch.loadBucketSelection(spark, queries, ns, nb,
      scores("b.csv", nq * ns * nb))
    (for (q <- 0 until nq; s <- 0 until ns; b <- 0 until nb; d <- 0 until 3)
      yield (q, s, b, (q * 7 + s * 5 + d) % 13 * 1.0, q * 1000L + s * 100 + b * 10 + d, d % 2))
      .toDF("query", "shard", "bucket", "score", "gdocid", "rel")
      .write.mode("overwrite").parquet(s"$dir/results")
    val res = spark.read.parquet(s"$dir/results")
    val ranked = res.withColumn("global_rank", row_number().over(
      Window.partitionBy(col("query")).orderBy(col("score").desc, col("gdocid").asc)))
    def titled(df: DataFrame) = df.withColumn("title", concat(lit("d"), col("gdocid")))
    val p2 = Seq(SelectiveSearch.precisionAt(2))
    // every input but the parquet results is a local relation, so each
    // action is its one job: no broadcast job, no re-planning round
    val actions: Seq[(String, () => Any)] = Seq(
      "select" -> (() => SelectiveSearch.select(shardSel, res, 2, Some(nq)).collect()),
      "selectBuckets" -> (() => SelectiveSearch.selectBuckets(bucketSel, res, 3, Some(nq))
        .collect()),
      "evaluate" -> (() => SelectiveSearch.evaluate(shardSel, ranked, p2, ns).collect()),
      "evaluate buckets" -> (() => SelectiveSearch.evaluate(bucketSel, ranked, p2, ns,
        numBuckets = Some(nb)).collect()),
      "trecFrameTopK" -> (() => SelectiveSearch.trecFrameTopK(
        titled(SelectiveSearch.select(shardSel, res, 2, Some(nq))), 5).collect()),
      "toTrec" -> (() => SelectiveSearch.toTrec(
        titled(SelectiveSearch.selectBuckets(bucketSel, res, 3, Some(nq))),
        s"$dir/out/run.trec", 5)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/out"))
    for ((name, action) <- actions) {
      action() // warm: the first action of a plan shape may compile code
      assert(jobsDuring(action())._2 == 1, name)
    }
    // the export is one driver-written file: no Spark output directory,
    // committer marker or temporary directory beside it
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/out")).toArray
      .map(_.toString.split('/').last).filterNot(_.endsWith(".crc")).toSeq
    assert(left == Seq("run.trec"), left)
    // selectWithDecay's max(bucket) rides a broadcast of a non-local
    // frame (the budget side), one job each beyond its own
    val decay = () => SelectiveSearch.selectWithDecay(shardSel, res, 3, 0.5, Some(nq)).collect()
    decay()
    assert(jobsDuring(decay())._2 == 3, "selectWithDecay")
  }

  test("only driver-held selections with a known domain move to the AQE-off session") {
    import graft.core.SessionTuning.isBounded
    val dir = s"$work/sessions"
    selection.write.mode("overwrite").parquet(s"$dir/sel")
    bucketSelection.write.mode("overwrite").parquet(s"$dir/bsel")
    val computedSel = spark.read.parquet(s"$dir/sel")
    val computedBSel = spark.read.parquet(s"$dir/bsel")
    val ranked = results.withColumn("rel", org.apache.spark.sql.functions.lit(1))
      .withColumn("global_rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query").orderBy($"score".desc)))
    def titled(df: DataFrame) = df.withColumn("title",
      org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.lit("d"), $"shard"))
    val p1 = Seq(SelectiveSearch.precisionAt(1))
    // driver-held selection, known domain: the AQE-off session, and the
    // TREC frames of its outputs stay there
    for ((name, df) <- selectCalls(selection, bucketSelection, results, Some(2))) {
      assert(isBounded(df.sparkSession), name)
      assert(isBounded(SelectiveSearch.trecFrameTopK(titled(df), 2).sparkSession), name)
      assert(isBounded(SelectiveSearch.trecFrame(titled(df), 2).sparkSession), name)
    }
    assert(isBounded(SelectiveSearch.evaluate(selection, ranked, p1, 3).sparkSession))
    // no domain (a range sort), or a selection Spark computes (its
    // broadcast is a job AQE overlaps): the caller's session, and so
    // for the TREC frames over them. selectBuckets resolves any
    // selection on the driver, so only the domain decides there.
    val kept = selectCalls(selection, bucketSelection, results, None) ++
      selectCalls(computedSel, computedBSel, results, Some(2))
        .filterNot(_._1 == "selectBuckets")
    for ((name, df) <- kept) {
      assert(df.sparkSession eq spark, name)
      assert(SelectiveSearch.trecFrameTopK(titled(df), 2).sparkSession eq spark, name)
    }
    assert(isBounded(SelectiveSearch.selectBuckets(computedBSel, results, 3, Some(2))
      .sparkSession))
    assert(SelectiveSearch.evaluate(computedSel, ranked, p1, 3).sparkSession eq spark)
    // same rows on either session
    assert(SelectiveSearch.select(computedSel, results, 2, Some(2)).collect().toSeq ==
      SelectiveSearch.select(selection, results, 2, Some(2)).collect().toSeq)
    assert(SelectiveSearch.evaluate(computedSel, ranked, p1, 3).collect().toSeq ==
      SelectiveSearch.evaluate(selection, ranked, p1, 3).collect().toSeq)
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
