package graft.selectivesearch

import java.util.Objects

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import org.apache.spark.sql.graft.FileScanBridge

import graft.core.DataUtils.ensureHasColumns
import graft.core.{Schemas, StaticRange}

/** Selective-search post-processing: shard/bucket selection, merging,
  * evaluation, and TREC export (reference: dataproc/selectivesearch.py).
  *
  * Spark-first re-expression: every results pipeline is a lazy
  * DataFrame plan; the selection side of each join is tiny (|queries|
  * x |shards| [x |buckets|]) and explicitly broadcast, so the big
  * results side is never shuffled for a join. The selection frames
  * themselves are built on the driver — the loaders read and rank the
  * scores file there, and the greedy bucket resolution runs there — as
  * local relations, so the selection side runs no job of its own. The
  * only shuffles are per-query windows, aggregations, and explicit
  * final sorts.
  *
  * Row-order semantics: pandas breaks ties by input row order
  * (`rank(method='first')`, stable sorts). Spark has no stable row
  * order, so every ordering here carries an explicit deterministic
  * tiebreak (see SURVEY.md §7 hard-part 2).
  */
object SelectiveSearch {

  /** Final (query asc, score desc) sort shared by all select*
    * pipelines (reference: dataproc/selectivesearch.py:128,157,190),
    * with (shard, bucket) appended as the deterministic stand-in for
    * pandas' stable input order.
    *
    * `queryDomain = Some(nq)` is the caller's statement that `query`
    * ids are dense integers in [0, nq) — true for every loader in
    * this module, whose selection frames are built over an explicit
    * query list. The sort then routes rows by query id directly
    * ([[graft.core.StaticRange]]) instead of planning a range
    * exchange whose RangePartitioner samples — and thereby
    * re-executes — the whole join pipeline beneath the sort once per
    * action. The ids fold into p = min(nq, defaultParallelism)
    * contiguous ranges, `floor(query * p / nq)`: one sort task per
    * core rather than one per query, and an id outside [0, nq) lands
    * outside [0, p), so it still fails in-plan. `None` keeps the
    * sampling sort for arbitrary id spaces.
    */
  private def sortedByQueryScore(df: DataFrame,
      queryDomain: Option[Int] = None): DataFrame = {
    val tiebreak = Seq("shard", "bucket", "gdocid")
      .filter(df.columns.contains).map(col(_).asc)
    val sortCols = col("query").asc +: col("score").desc +: tiebreak
    queryDomain match {
      case Some(nq) =>
        val parts = math.min(nq,
          math.max(1, df.sparkSession.sparkContext.defaultParallelism))
        // double arithmetic: no long overflow for far-out ids, and the
        // guard sees the uncast range index
        val pid = floor(col("query").cast("double") * lit(parts) / lit(nq))
        StaticRange.sortByKnownDomain(df, pid, parts, sortCols)
      case None => df.orderBy(sortCols: _*)
    }
  }

  /** Final (query, step) sort of an evaluation MATRIX. The matrix is
    * queries x steps rows — the reference returns a pandas frame, so
    * presentation size is its contract — which makes a single-
    * partition sort safe at any corpus scale, and it skips the range-
    * exchange sampling job that would re-execute the arrival walk
    * beneath the sort (~0.3 s per call at toy scale:
    * SortProbe, SCALING.md round 11). (query, step) is the group key,
    * so the single-partition order is total and deterministic.
    */
  private def sortedMatrix(df: DataFrame): DataFrame =
    df.repartition(1)
      .sortWithinPartitions(col("query").asc, col("step").asc)

  // ---------------------------------------------------------------------
  // Selection family
  // ---------------------------------------------------------------------

  /** Results from the top `t` shards according to `selection`
    * (reference: dataproc/selectivesearch.py:121-129).
    *
    * The selection frame is (queries x shards)-sized — broadcast; the
    * results side streams through a broadcast hash join unshuffled.
    */
  def select(selection: DataFrame, results: DataFrame, t: Int,
      queryDomain: Option[Int] = None): DataFrame = {
    ensureHasColumns(selection, Seq("rank", "query", "shard"))
    ensureHasColumns(results, Seq("score", "query", "shard"))
    val top = selection.filter(col("rank") < lit(t)).select("query", "shard")
    sortedByQueryScore(
      results.join(broadcast(top), Seq("query", "shard"), "inner"),
      queryDomain)
  }

  /** Per-shard-rank bucket budgets under geometric decay
    * (reference: dataproc/selectivesearch.py:131-137). Pure driver-side
    * function; the result is tiny and feeds a broadcast lookup join.
    */
  def decayedBuckets(numBuckets: Double, numShards: Int, decayFactor: Double): Seq[Int] = {
    require(0 < decayFactor && decayFactor <= 1,
      s"decay factor must be in (0, 1], got $decayFactor")
    var nb = numBuckets
    (0 until numShards).map { _ =>
      val v = math.ceil(nb).toInt
      nb *= decayFactor
      v
    }
  }

  /** Top-`t` shard selection where the number of buckets taken from a
    * shard decays geometrically with its rank
    * (reference: dataproc/selectivesearch.py:139-158).
    *
    * The reference's in-place `.loc` budget assignment (its quirk Q3)
    * becomes an immutable broadcast lookup join rank -> buckets.
    */
  def selectWithDecay(selection: DataFrame, results: DataFrame, t: Int,
      decayFactor: Double, queryDomain: Option[Int] = None): DataFrame = {
    if (decayFactor == 1) return select(selection, results, t, queryDomain)
    require(0 < decayFactor && decayFactor <= 1,
      s"decay factor must be in (0, 1], got $decayFactor")
    ensureHasColumns(selection, Seq("rank", "query", "shard"))
    ensureHasColumns(results, Seq("score", "query", "shard", "bucket"))
    val spark = results.sparkSession
    // The reference takes a scalar max(bucket) first (reference :147).
    // A driver `first()` would serialize that full-column agg before
    // any other work; instead numBuckets rides IN-PLAN from a one-row
    // broadcast subtree (the recurring stats-then-score lesson:
    // driver collects serialize, broadcast subtrees overlap). The
    // rank -> budget recurrence replays [[decayedBuckets]]'s repeated
    // multiplication BIT-FOR-BIT as a sequence fold — same float ops
    // in the same order, so budgets cannot diverge from the driver
    // form (PropertiesSuite pins the two across random knobs).
    // Empty results would make max(bucket) null, nulling every budget
    // and silently emptying the output where the reference's driver
    // `first().getAs[Number]` form failed loudly — guard in-plan (the
    // Lm.bigramLmPlan pattern: raise_error inside the one-row frame).
    val nb = results.agg(max(col("bucket")).as("__maxb"))
      .select(when(col("__maxb").isNotNull,
          (col("__maxb") + lit(1)).cast("double"))
        .otherwise(raise_error(
          lit("selectWithDecay: empty results frame (max(bucket) undefined)"))
          .cast("double"))
        .as("__nb"))
    // budgets computed DIRECTLY on the filtered selection rows from
    // the one-row nb broadcast — a separate rank -> budget lookup
    // frame would be one more broadcast materialization round in the
    // chain (nb -> lookup -> sel -> join; JobGapProbe round 13
    // counted each round at 40-95 ms of driver gap at toy scale).
    // The fold expression is shared with [[decayBudgetLookup]], which
    // PropertiesSuite pins against the driver recurrence.
    // rank domain is [0, t): the pre-inline form inner-joined against
    // a ranks-0..t-1 lookup, so an out-of-domain rank (negative, from
    // a malformed selection frame) was silently EXCLUDED — a bare
    // `rank < t` would instead feed the fold an empty repeat array
    // and hand such rows the full ceil(nb) budget. Keep the join-era
    // domain semantics explicit.
    val sel = selection.filter(col("rank").between(lit(0), lit(t - 1)))
      .crossJoin(broadcast(nb))
      .select(col("query"), col("shard"),
        decayBudgetExpr(decayFactor).as("buckets"))
    val joined = results.join(broadcast(sel), Seq("query", "shard"), "inner")
    sortedByQueryScore(
      joined.filter(col("bucket") < col("buckets")).drop("buckets"),
      queryDomain)
  }

  /** rank -> budget as ONE expression over a frame carrying `rank`
    * and the one-row-broadcast `__nb`: the fold replays
    * [[decayedBuckets]]' repeated multiplication in the same order —
    * same float ops, so budgets cannot diverge from the driver form.
    */
  private def decayBudgetExpr(decayFactor: Double): Column =
    ceil(expr(
      s"aggregate(array_repeat(1, CAST(rank AS INT)), __nb, (acc, x) -> acc * ${decayFactor})"))
      .cast("int")

  /** The in-plan rank -> budget lookup over ranks 0..t-1. Kept as the
    * property-suite surface: PropertiesSuite pins THIS expression
    * (shared with [[selectWithDecay]] via [[decayBudgetExpr]], not a
    * copy) against the driver recurrence.
    */
  private[graft] def decayBudgetLookup(spark: SparkSession,
      nb: DataFrame, t: Int, decayFactor: Double): DataFrame =
    spark.range(0, t).toDF("rank").crossJoin(broadcast(nb))
      .select(col("rank").cast("int").as("rank"),
        decayBudgetExpr(decayFactor).as("buckets"))

  /** Bucket-level selection under a total bucket budget
    * (reference: dataproc/selectivesearch.py:183-191). The greedy
    * budget resolution is the one non-relational algorithm — see
    * [[BucketResolver]].
    */
  def selectBuckets(selection: DataFrame, results: DataFrame, t: Int,
      queryDomain: Option[Int] = None): DataFrame = {
    ensureHasColumns(selection, Seq("rank", "query", "shard", "bucket"))
    ensureHasColumns(results, Seq("score", "query", "shard", "bucket"))
    val resolved = BucketResolver.resolveBucketSelection(selection, t)
      .select("query", "shard", "bucket")
    sortedByQueryScore(
      results.join(broadcast(resolved), Seq("query", "shard", "bucket"), "inner"),
      queryDomain)
  }

  // ---------------------------------------------------------------------
  // Evaluation family
  // ---------------------------------------------------------------------

  /** P@k: mean of `column` over the top-k results by `global_rank`
    * (reference: dataproc/measures.py:3-5, the reference's only
    * measure). Divides by the number of available rows when fewer than
    * k exist, exactly like the reference's `s[:k].sum() / s[:k].count()`.
    */
  case class PrecisionAt(k: Int, column: String = "rel") {
    val name: String = s"p_$k"
    /** Aggregate over rows carrying `ordinal`, the per-(query[,step])
      * position by `global_rank` — the [[evaluateStep]] form. */
    def expr(ordinal: Column): Column =
      avg(when(ordinal <= k, col(column))).as(name)
  }
  def precisionAt(k: Int, column: String = "rel"): PrecisionAt = PrecisionAt(k, column)

  /** One evaluation step: restrict to the top-`step` shards
    * (buckets when `withBuckets`) per query, then compute measures
    * per query (reference: dataproc/selectivesearch.py:13-29).
    *
    * The reference's per-group `g[:step]` head is a no-op for its
    * canonical one-row-per-group frames (its quirk Q1); per the
    * docstring's intent we take the top-`step` entries per query via
    * the explicit `rank` column, which `shards` must carry.
    */
  def evaluateStep(shards: DataFrame, results: DataFrame, measures: Seq[PrecisionAt],
      step: Int, withBuckets: Boolean = false): DataFrame = {
    ensureHasColumns(shards, Seq("query", "shard", "rank"))
    val groupBy = if (withBuckets) Seq("query", "shard", "bucket") else Seq("query", "shard")
    ensureHasColumns(results, groupBy :+ "global_rank")
    val top = shards.filter(col("rank") < lit(step)).select(groupBy.map(col): _*)
    val joined = results.join(broadcast(top), groupBy, "inner")
    val w = Window.partitionBy(col("query")).orderBy(col("global_rank").asc)
    val ranked = joined.withColumn("__mrn", row_number().over(w))
    ranked.groupBy(col("query"))
      .agg(measures.head.expr(col("__mrn")), measures.tail.map(_.expr(col("__mrn"))): _*)
      .withColumn("step", lit(step))
  }

  /** Full step sweep: measures at every selection step 1..num_steps
    * (reference: dataproc/selectivesearch.py:32-73), one
    * `(query, p_k..., step)` row per step a query has results in.
    *
    * One arrival walk, O(rows x measures) for any step count. Rows
    * join the ranked selection once, then shuffle AT MOST ONCE —
    * hash-repartitioned on the input's own `query` column with a
    * secondary sort on `global_rank` (`repartition` +
    * `sortWithinPartitions`, Spark's spill-safe sort), so an input
    * already hash-clustered by query (the global_rank window) keeps
    * its partitioning: EnsureRequirements drops the redundant exchange
    * and the walk runs in the window's own stage. Each partition is
    * walked as a streaming iterator of generic rows: a query's rows
    * arrive as one contiguous rank-ordered run (detected by value
    * equality, so query ids may be of any type), and per-step
    * (count, sum) pairs fill up to each measure's depth k, each
    * measure reading its own relevance column. A row of rank r counts
    * toward steps r+1..numSteps, and a step's count never decreases as
    * the step index grows, so per row and measure the walk stops at
    * the first step already holding k rows — every later step is full
    * too. Memory is O(steps x measures) per in-flight query, never
    * O(rows): a hot query larger than executor memory spills in the
    * sort, not in the walk. [[evaluateStepwise]] is the reference
    * loop the suites pin this against.
    *
    * `sort=true` actually ranks shards by `shard_score` descending
    * (the reference discards that sort — its quirk Q2; the docstring
    * behavior is implemented instead). When `sort=false`, `shards`
    * must already carry a `rank` column.
    */
  def evaluate(shards: DataFrame, results: DataFrame, measures: Seq[PrecisionAt],
      numShards: Int, sort: Boolean = false, numBuckets: Option[Int] = None): DataFrame = {
    val withBuckets = numBuckets.isDefined
    val groupBy = if (withBuckets) Seq("query", "shard", "bucket") else Seq("query", "shard")
    val numSteps = numShards * numBuckets.getOrElse(1)
    val ranked =
      if (sort) {
        ensureHasColumns(shards, groupBy :+ "shard_score")
        val w = Window.partitionBy(col("query"))
          .orderBy(col("shard_score").desc +: groupBy.drop(1).map(col(_).asc): _*)
        shards.withColumn("rank", row_number().over(w) - 1)
      } else {
        ensureHasColumns(shards, groupBy :+ "rank")
        shards
      }
    val sel = ranked.select((groupBy :+ "rank").map(col): _*)
    val relCols = measures.map(_.column).distinct
    // rank >= numSteps rows can't land in any step — drop before the
    // shuffle. Repartition and sort on the uncast input columns, so a
    // query-clustered input needs no exchange, only the local sort.
    val prepared = results.join(broadcast(sel), groupBy, "inner")
      .filter(col("rank") < numSteps)
      .repartition(col("query"))
      .sortWithinPartitions(col("query"), col("global_rank"))
      .select(col("query") +: relCols.map(col(_).cast("double")) :+
        col("rank").cast("int"): _*)
    val kDepths = measures.map(_.k).toArray
    // walk column of each measure's relevance value
    val relAt = measures.map(m => 1 + relCols.indexOf(m.column)).toArray
    val rankAt = 1 + relCols.size
    // output rows are encoded from a schema, not a Scala type: no
    // reflection on the driver per call
    val outEnc = Encoders.row(StructType(
      prepared.schema.fields.head +:
        measures.map(m => StructField(m.name, DoubleType)) :+
        StructField("step", IntegerType, nullable = false)))
    prepared.mapPartitions { (rows: Iterator[Row]) =>
      val it = rows.buffered
      new Iterator[Row] {
        private var pending: Iterator[Row] = Iterator.empty
        private def advance(): Unit = {
          while (!pending.hasNext && it.hasNext) {
            val query = it.head.get(0)
            // per (measure, step): running count and sum over the first k
            val counts = Array.ofDim[Long](kDepths.length, numSteps + 1)
            val sums = Array.ofDim[Double](kDepths.length, numSteps + 1)
            while (it.hasNext && Objects.deepEquals(it.head.get(0), query)) {
              val row = it.next()
              val rank = row.getInt(rankAt)
              var m = 0
              while (m < kDepths.length) {
                val k = kDepths(m)
                val rel = row.getDouble(relAt(m))
                val cm = counts(m)
                val sm = sums(m)
                // counts are non-decreasing in the step, so the first
                // full step means every later one is full too
                var s = rank + 1
                while (s <= numSteps && cm(s) < k) {
                  cm(s) += 1
                  sm(s) += rel
                  s += 1
                }
                m += 1
              }
            }
            // a step appears iff any row was attributed to it; counts
            // for every measure advance together below k, so c > 0 for
            // all measures whenever it is for the first
            pending = (1 to numSteps).iterator.filter(s => counts(0)(s) > 0).map { s =>
              Row.fromSeq(query +:
                kDepths.indices.map(m => sums(m)(s) / counts(m)(s)) :+ s)
            }
          }
        }
        def hasNext: Boolean = { advance(); pending.hasNext }
        def next(): Row = { advance(); pending.next() }
      }
    }(outEnc).transform(sortedMatrix)
  }

  /** Reference-shaped per-step loop (union of [[evaluateStep]] plans).
    * Kept for golden equivalence testing against the single-pass
    * [[evaluate]]; prefer [[evaluate]] at scale.
    */
  def evaluateStepwise(shards: DataFrame, results: DataFrame, measures: Seq[PrecisionAt],
      numShards: Int, sort: Boolean = false, numBuckets: Option[Int] = None): DataFrame = {
    val withBuckets = numBuckets.isDefined
    val numSteps = numShards * numBuckets.getOrElse(1)
    val groupBy = if (withBuckets) Seq("query", "shard", "bucket") else Seq("query", "shard")
    val ranked =
      if (sort) {
        val w = Window.partitionBy(col("query"))
          .orderBy(col("shard_score").desc +: groupBy.drop(1).map(col(_).asc): _*)
        shards.withColumn("rank", row_number().over(w) - 1)
      } else shards
    (1 to numSteps)
      .map(step => evaluateStep(ranked, results, measures, step, withBuckets))
      .reduce(_.unionByName(_))
      .transform(sortedMatrix)
  }

  // ---------------------------------------------------------------------
  // I/O
  // ---------------------------------------------------------------------

  /** Reads per-shard results Parquet files
    * `{basename}#{shard}.results-{nbuckets}` for shard in [0, nshards)
    * and unions them (reference: dataproc/selectivesearch.py:96-119).
    * Multi-path scan IS the union in Spark; the documented contract is
    * enforced by reading with an explicit schema.
    *
    * The files are listed on the driver at call time
    * ([[org.apache.spark.sql.graft.FileScanBridge]]): no listing job
    * at any shard count, and the scan is the one
    * `spark.read.schema(..).parquet(..)` plans. A missing shard file
    * fails here, naming its path.
    */
  def loadShardResults(spark: SparkSession, basename: String, nshards: Int,
      nbuckets: Int = 1): DataFrame = {
    val paths = (0 until nshards).map(s => s"$basename#$s.results-$nbuckets")
    FileScanBridge.parquetFiles(spark, paths, Schemas.resultsSchema)
  }

  /** Loads shard scores for the given queries
    * (reference: dataproc/selectivesearch.py:76-83): one
    * `(query, shard, shard_score, rank)` row per query and shard, all
    * columns non-null, `query`/`shard`/`rank` int.
    *
    * The scores CSV carries no keys — the reference binds it to the
    * (query x shard) cartesian frame by row position. Line `i` binds
    * to query `queries(i / nshards)` and shard `i % nshards`
    * (SURVEY.md §7 hard-part 1), with the inner-join semantics of a
    * position equi-join: a short file leaves the unbound positions
    * without rows, and lines past the last position are ignored. A
    * query listed twice binds at its last position and is emitted
    * once per listing. `rank` is 0-based per query by `shard_score`
    * descending under Spark's double ordering (NaN largest, -0.0 equal
    * to 0.0), ties by shard ascending — pandas' `rank(method='first')`
    * order.
    *
    * The scores file is read when this is called, on the driver,
    * through the Hadoop `FileSystem` of its path (decompressed when a
    * codec matches its name, as `textFile` does), and the result is a
    * local relation: no Spark job builds it, and every consumer
    * broadcasts it. It is |queries| x nshards rows — broadcast-sized
    * by contract. A non-numeric line, or a query id outside the int
    * range, fails the call.
    */
  def loadShardSelection(spark: SparkSession, queries: Seq[Long], nshards: Int,
      shardScoresPath: String): DataFrame =
    loadSelection(spark, queries, nshards, None, shardScoresPath)

  /** Bucket-level variant (reference: dataproc/selectivesearch.py:85-93):
    * `(query, shard, bucket, shard_score, rank)`, line `i` bound to
    * query `queries(i / (nshards * nbuckets))`, shard
    * `(i / nbuckets) % nshards` and bucket `i % nbuckets`, ties ranked
    * by (shard, bucket) ascending. Otherwise as [[loadShardSelection]].
    */
  def loadBucketSelection(spark: SparkSession, queries: Seq[Long], nshards: Int,
      nbuckets: Int, shardScoresPath: String): DataFrame =
    loadSelection(spark, queries, nshards, Some(nbuckets), shardScoresPath)

  private def loadSelection(spark: SparkSession, queries: Seq[Long], nshards: Int,
      nbuckets: Option[Int], shardScoresPath: String): DataFrame = {
    queries.foreach(q => require(q.isValidInt,
      s"query id $q is outside the int range of the selection's query column"))
    val scores = readScores(spark, shardScoresPath)
    val ns = math.max(nshards, 0)
    val nb = math.max(nbuckets.getOrElse(1), 0)
    val perQuery = ns.toLong * nb
    // a query listed twice binds at its last position
    val lastIndex = queries.zipWithIndex.toMap
    val listings = queries.groupBy(identity).view.mapValues(_.size).toMap
    // (shard, bucket, score) per query, in the window's order: score
    // descending as Spark compares doubles, then (shard, bucket)
    val windowOrder: Ordering[(Int, Int, Double)] = (a, b) => {
      val c = if (a._3 == b._3) 0 else java.lang.Double.compare(b._3, a._3)
      if (c != 0) c
      else if (a._1 != b._1) Integer.compare(a._1, b._1)
      else Integer.compare(a._2, b._2)
    }
    val rows = new java.util.ArrayList[Row]()
    queries.distinct.foreach { q =>
      val base = lastIndex(q) * perQuery
      val units = for {
        s <- 0 until ns
        b <- 0 until nb
        pos = base + s.toLong * nb + b
        if pos < scores.length
      } yield (s, b, scores(pos.toInt))
      Seq.fill(listings(q))(units).flatten.sorted(windowOrder).zipWithIndex
        .foreach { case ((s, b, score), rank) =>
          rows.add(Row.fromSeq(Seq[Any](q.toInt, s) ++ nbuckets.map(_ => b) ++
            Seq[Any](score, rank)))
        }
    }
    val schema = StructType(
      Seq(StructField("query", IntegerType, nullable = false),
        StructField("shard", IntegerType, nullable = false)) ++
      nbuckets.map(_ => StructField("bucket", IntegerType, nullable = false)) ++
      Seq(StructField("shard_score", DoubleType, nullable = false),
        StructField("rank", IntegerType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** One double per line of a headerless scores file, as
    * `textFile(path).map(_.trim.toDouble)` reads it: lines end at LF,
    * CR or CRLF, a leading UTF-8 byte-order mark is skipped, and a
    * compressed file is decompressed by the codec its name selects.
    */
  private def readScores(spark: SparkSession, path: String): Array[Double] = {
    import java.io.{BufferedReader, InputStreamReader}
    import java.nio.charset.StandardCharsets
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.compress.CompressionCodecFactory
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    val codec = new CompressionCodecFactory(conf).getCodec(p)
    val in = if (codec == null) raw else codec.createInputStream(raw)
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val out = scala.collection.mutable.ArrayBuilder.make[Double]
      var line = reader.readLine()
      if (line != null && line.startsWith("\uFEFF")) line = line.substring(1)
      var n = 0
      while (line != null) {
        n += 1
        out += (try java.lang.Double.parseDouble(line.trim) catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"$path line $n is not a number: '$line'", e)
        })
        line = reader.readLine()
      }
      out.result()
    } finally reader.close()
  }

  /** Writes `results` as a `trec_eval` run file: six tab-separated
    * columns `query iter title rank score run_id`, no header, top
    * `cutoff` per query (reference: dataproc/selectivesearch.py:193-202).
    *
    * Pure (does not mutate input — reference quirk Q4) and writes a
    * single file for byte-level parity with `to_csv`: Spark writes a
    * directory, then the lone part file is moved to `path`. `title`
    * stands in for pandas' input-order tie handling in
    * `rank(method='first')`.
    */
  def toTrec(results: DataFrame, path: String, cutoff: Int = 1000): Unit = {
    // validate before the routing check below reads results.schema
    // ("score") — a missing column gets the friendly message, not a
    // raw StructType lookup error
    ensureHasColumns(results, Seq("query", "score", "title"))
    // bounded form only on its happy path: a positive cutoff (the heap
    // needs k > 0 where the window form just writes an empty file) and
    // a double score column (the aggregate exports double; a
    // decimal/int score would change the to_csv byte rendering the
    // window form keeps)
    val frame =
      if (cutoff > 0 && results.schema("score").dataType == DoubleType)
        trecFrameTopK(results, cutoff)
      else trecFrame(results, cutoff)
    frame
      .coalesce(1)
      .write.mode("overwrite")
      .option("sep", "\t").option("header", "false")
      .csv(path + ".tmpdir")
    moveSinglePartFile(results.sparkSession, path + ".tmpdir", path)
  }

  /** The TREC frame itself (exposed for testing / further composition):
    * 0-based per-query rank by (score desc, title asc), `iter='Q0'`,
    * `run_id='null'`, rank < cutoff, sorted by (query, rank)
    * (reference: dataproc/selectivesearch.py:195-201).
    */
  def trecFrame(results: DataFrame, cutoff: Int = 1000): DataFrame = {
    ensureHasColumns(results, Seq("query", "score", "title"))
    val w = Window.partitionBy(col("query"))
      .orderBy(col("score").desc, col("title").asc)
    results
      .withColumn("rank", (row_number().over(w) - 1).cast("int"))
      .withColumn("iter", lit("Q0"))
      .withColumn("run_id", lit("null"))
      .filter(col("rank") < lit(cutoff))
      .orderBy(col("query").asc, col("rank").asc)
      .select("query", "iter", "title", "rank", "score", "run_id")
  }

  /** [[trecFrame]] for the standard (score desc, title asc) order via
    * the bounded `top_k_tag` aggregate: each map task ships at most
    * `cutoff` rows per query across the shuffle, where the window
    * form sorts and shuffles EVERY result row before the rank filter
    * discards all but `cutoff` of them — at retrieval scale (queries x
    * full shard runs) that is the difference between shuffling the
    * run files and shuffling the export. Equal to
    * `trecFrame(results, cutoff)` row-for-row (EvaluateSuite pins it)
    * on clean inputs; score is exported as double (the window form
    * preserves the input column's type — callers feeding non-double
    * scores who care about the exported type should cast upstream).
    *
    * Degenerate-input divergences from the window form, by design:
    * rows with a NULL score or title are DROPPED here (the window's
    * nulls-first ordering would rank them), and NaN scores are never
    * admitted once the heap is full (the window's descending sort
    * puts NaN first). TREC run frames carry real scores and titles —
    * use [[trecFrame]] if yours somehow do not.
    *
    * The (query, rank) order comes from sorting the |Q| aggregated
    * rows — one per query — in a single partition
    * ([[graft.core.StaticRange.boundedSorted]]) BEFORE the explode,
    * which emits each query's heap in rank order: a global `orderBy`
    * over the |Q| x cutoff exploded rows would add a range-sampling
    * job and a range exchange per export.
    */
  def trecFrameTopK(results: DataFrame, cutoff: Int = 1000): DataFrame = {
    ensureHasColumns(results, Seq("query", "score", "title"))
    results
      .groupBy(col("query"))
      .agg(graft.functions.TopKFunctions
        .top_k_tag(col("score").cast("double"), col("title"), cutoff).as("top"))
      .transform(StaticRange.boundedSorted(_, col("query")))
      .select(col("query"), posexplode(col("top")))
      .select(col("query"), lit("Q0").as("iter"),
        col("col.tag").as("title"), col("pos").cast("int").as("rank"),
        col("col.score").as("score"), lit("null").as("run_id"))
  }

  private def moveSinglePartFile(spark: SparkSession, dir: String, dest: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(new Path(dir, "part-*")).head.getPath
    fs.delete(new Path(dest), false)
    fs.rename(part, new Path(dest))
    fs.delete(new Path(dir), true)
  }
}
