package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.selectivesearch.SelectiveSearch
import graft.selectivesearch.SelectiveSearch.precisionAt

/** Evaluation-family semantics: the arrival walk behind `evaluate`
  * must equal the reference-shaped per-step loop `evaluateStepwise`
  * (C1/C2), including the bucketed variant, the sort=true ranking
  * (reference quirk Q2 implemented per its docstring) and a
  * many-partition sweep; plus the TREC frame's bounded form against
  * its window form.
  */
class EvaluateSuite extends SparkSuite {
  import spark.implicits._

  // 2 queries x 3 shards x 2 buckets, unique scores, synthetic rel
  def results: DataFrame = {
    val rows = for {
      q <- 0 to 1; s <- 0 to 2; b <- 0 to 1; d <- 0 to 3
    } yield {
      val gdocid = (((q * 3 + s) * 2 + b) * 4 + d).toLong
      (q, s, b, 1000.0 - gdocid * 7 % 97, gdocid, (gdocid % 3 == 0).compare(false))
    }
    rows.toDF("query", "shard", "bucket", "score", "gdocid", "rel")
      .withColumn("global_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query")
          .orderBy($"score".desc, $"gdocid")))
  }

  def shards: DataFrame = Seq(
    (0, 0, 0), (0, 1, 2), (0, 2, 1),
    (1, 0, 2), (1, 1, 1), (1, 2, 0)
  ).toDF("query", "shard", "rank")

  def shardScores: DataFrame = Seq(
    (0, 0, 0.9), (0, 1, 0.2), (0, 2, 0.5),
    (1, 0, 0.1), (1, 1, 0.5), (1, 2, 0.8)
  ).toDF("query", "shard", "shard_score")

  test("evaluate dispatches PrecisionAt sweeps to the arrival walk") {
    val m = Seq(precisionAt(5), precisionAt(2))
    val walk = SelectiveSearch.evaluate(shards, results, m, 3)
    // one mapPartitions walk, no per-step plans
    val plan = walk.queryExecution.analyzed.toString
    assert(plan.contains("MapPartitions"), plan.take(2000))
    val rows = walk.collect().toSeq
    // identical rows AND identical schema types
    assert(rows == SelectiveSearch.evaluateStepwise(shards, results, m, 3).collect().toSeq)
    assert(rows.size == 6) // 2 queries x 3 steps
  }

  test("arrival walk equals the per-step loop at sweep scale (100 queries x 32 steps)") {
    // hash-derived ranks/relevance across MANY partitions and steps,
    // so the walk's re-shuffle + per-partition run-boundary keying is
    // exercised on input far larger than the 2x3 fixture
    val nQ = 100; val nS = 32; val perShard = 10
    val sel = spark.range(nQ.toLong * nS)
      .select(($"id" / nS).cast("long").as("query"),
        ($"id" % nS).cast("int").as("shard"))
      .withColumn("rank", (row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query")
          .orderBy(xxhash64($"query", $"shard"))) - 1).cast("int"))
    val res = spark.range(nQ.toLong * nS * perShard)
      .select(($"id" / (nS * perShard)).cast("long").as("query"),
        (($"id" / perShard) % nS).cast("int").as("shard"), $"id".as("k"))
      .withColumn("global_rank", (row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query")
          .orderBy(xxhash64($"k"))) - 1).cast("long"))
      .withColumn("rel", (pmod(xxhash64($"k", lit(7)), lit(10)) < 3).cast("int"))
      .drop("k")
      .repartition(8) // destroy any incidental query clustering
    val m = Seq(precisionAt(10), precisionAt(5))
    def mat(df: DataFrame) = df
      .select($"query", $"step", round($"p_10", 9), round($"p_5", 9))
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val arrival = mat(SelectiveSearch.evaluate(sel, res, m, nS))
    assert(arrival.size == nQ * nS)
    assert(arrival == mat(SelectiveSearch.evaluateStepwise(sel, res, m, nS)))
  }

  test("bucketed evaluate equals the bucketed per-step loop") {
    val bucketShards = Seq(
      (0, 0, 0, 0), (0, 0, 1, 3), (0, 1, 0, 1), (0, 1, 1, 4), (0, 2, 0, 2), (0, 2, 1, 5),
      (1, 0, 0, 2), (1, 0, 1, 0), (1, 1, 0, 3), (1, 1, 1, 1), (1, 2, 0, 4), (1, 2, 1, 5)
    ).toDF("query", "shard", "bucket", "rank")
    val m = Seq(precisionAt(3))
    val fast = SelectiveSearch.evaluate(
      bucketShards, results, m, 3, numBuckets = Some(2)).collect().toSeq
    val loop = SelectiveSearch.evaluateStepwise(
      bucketShards, results, m, 3, numBuckets = Some(2)).collect().toSeq
    assert(fast == loop)
    assert(fast.size == 12) // 2 queries x 6 steps
  }

  test("sort=true ranks shards by shard_score descending (quirk Q2 intent)") {
    val m = Seq(precisionAt(5))
    val sorted = SelectiveSearch.evaluate(
      shardScores, results, m, 3, sort = true).collect().toSeq
    // shard_score ranking equals the explicit-rank frame: q0 scores
    // (.9,.2,.5) -> ranks (0,2,1); q1 (.1,.5,.8) -> (2,1,0) = `shards`
    val explicit = SelectiveSearch.evaluate(shards, results, m, 3).collect().toSeq
    assert(sorted == explicit)
  }

  test("step-1 P@k equals a direct computation on the top shard") {
    val m = Seq(precisionAt(4))
    val got = SelectiveSearch.evaluate(shards, results, m, 3)
      .filter($"step" === 1 && $"query" === 0).first().getDouble(1)
    // query 0 rank-0 shard is shard 0: its 8 docs ranked by global
    // rank, top-4 rel mean
    val expected = results.filter($"query" === 0 && $"shard" === 0)
      .orderBy($"global_rank")
      .limit(4).agg(avg($"rel")).first().getDouble(0)
    assert(got == expected)
  }

  test("fewer than k results divides by the available count") {
    val tiny = Seq((0, 0, 0, 10.0, 1L, 1, 1), (0, 0, 1, 9.0, 2L, 0, 2))
      .toDF("query", "shard", "bucket", "score", "gdocid", "rel", "global_rank")
    val sel = Seq((0, 0, 0)).toDF("query", "shard", "rank")
    val got = SelectiveSearch.evaluate(sel, tiny, Seq(precisionAt(10)), 1)
      .first().getDouble(1)
    assert(got == 0.5) // (1+0)/2, not /10
  }

  test("trecFrameTopK equals the window trecFrame row-for-row, ties included") {
    // score ties within and across queries; more rows than cutoff
    val r = results.withColumn("title", concat(lit("doc"), $"gdocid"))
      .withColumn("score", $"score" - ($"gdocid" % 2) * ($"score" - 500.0))
    val cutoff = 5
    val win = SelectiveSearch.trecFrame(r, cutoff)
      .withColumn("score", $"score".cast("double")).collect()
    val agg = SelectiveSearch.trecFrameTopK(r, cutoff).collect()
    assert(agg.toSeq == win.toSeq)
    // also at a cutoff wider than any group (no truncation edge)
    val winAll = SelectiveSearch.trecFrame(r, 1000)
      .withColumn("score", $"score".cast("double")).collect()
    val aggAll = SelectiveSearch.trecFrameTopK(r, 1000).collect()
    assert(aggAll.toSeq == winAll.toSeq)
  }

  test("pruned results fixture yields the full fixture's measures (all three c2 forms)") {
    // the rank-prefix equivalence proof at Tables.evalResultsPruned,
    // pinned on real testdata for every registered sweep shape; the
    // registered rows run the pruned frame while the DuckDB oracles
    // replay the full derivation
    val dir = sf("sf0.001")
    def sortedRows(df: DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val full = Tables.evalResults(spark, dir)
    val fullB = full.withColumn("bucket",
      ($"gdocid" % Tables.NumBuckets).cast("int"))
    val pruned = Tables.evalResultsPruned(spark, dir, 10)
    val prunedB = Tables.evalResultsPruned(spark, dir, 10, withBuckets = true)
    val ms = Seq(precisionAt(10), precisionAt(5))
    assert(sortedRows(SelectiveSearch.evaluate(
        Tables.selection(spark, dir), pruned, ms, Tables.NumShards)) ==
      sortedRows(SelectiveSearch.evaluate(
        Tables.selection(spark, dir), full, ms, Tables.NumShards)))
    assert(sortedRows(SelectiveSearch.evaluate(
        Tables.shardScores(spark, dir), pruned, ms, Tables.NumShards,
        sort = true)) ==
      sortedRows(SelectiveSearch.evaluate(
        Tables.shardScores(spark, dir), full, ms, Tables.NumShards,
        sort = true)))
    assert(sortedRows(SelectiveSearch.evaluate(
        Tables.bucketSelection(spark, dir), prunedB, Seq(precisionAt(10)),
        Tables.NumShards, numBuckets = Some(Tables.NumBuckets))) ==
      sortedRows(SelectiveSearch.evaluate(
        Tables.bucketSelection(spark, dir), fullB, Seq(precisionAt(10)),
        Tables.NumShards, numBuckets = Some(Tables.NumBuckets))))
    // and the pruned frame really is a subset at the unit grain
    val keptCount = pruned.count()
    assert(keptCount <= 10L * Tables.NumQueries * Tables.NumShards)
    assert(keptCount < full.count())
  }
}
