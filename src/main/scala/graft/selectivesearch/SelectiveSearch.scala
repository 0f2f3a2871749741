package graft.selectivesearch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DataUtils.ensureHasColumns
import graft.core.{DataUtils, Schemas, StaticRange}

/** Selective-search post-processing: shard/bucket selection, merging,
  * evaluation, and TREC export (reference: dataproc/selectivesearch.py).
  *
  * Spark-first re-expression: every pipeline is a lazy DataFrame plan;
  * the selection side of each join is tiny (|queries| x |shards|
  * [x |buckets|]) and explicitly broadcast, so the big results side is
  * never shuffled for a join. The only shuffles are per-query windows,
  * aggregations, and explicit final sorts.
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
    * exchange sampling job that would re-execute the arrival walk /
    * explode stage beneath the sort (~0.3 s per call at toy scale:
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

  /** A named per-query effectiveness measure over rank-ordered results.
    * The reference's measures are a dict of order-sensitive closures
    * (reference: dataproc/measures.py:3-5, selectivesearch.py:26);
    * here each measure is a pair of Column expressions over rows
    * carrying `__mrn`, the per-(query[,step]) ordinal by `global_rank`.
    */
  sealed trait Measure {
    def name: String
    /** Aggregate expression given the per-group ordinal column. */
    def expr(ordinal: Column): Column
    /** Largest prefix of the ranking this measure needs. */
    def depth: Int
  }

  /** P@k: mean of `column` over the top-k results by `global_rank`
    * (reference: dataproc/measures.py:3-5). Divides by the number of
    * available rows when fewer than k exist, exactly like the
    * reference's `s[:k].sum() / s[:k].count()`.
    */
  case class PrecisionAt(k: Int, column: String = "rel", nameOverride: Option[String] = None)
      extends Measure {
    val name: String = nameOverride.getOrElse(s"p_$k")
    def expr(ordinal: Column): Column =
      avg(when(ordinal <= k, col(column))).as(name)
    def depth: Int = k
  }
  def precisionAt(k: Int, column: String = "rel"): Measure = PrecisionAt(k, column)

  /** One evaluation step: restrict to the top-`step` shards
    * (buckets when `withBuckets`) per query, then compute measures
    * per query (reference: dataproc/selectivesearch.py:13-29).
    *
    * The reference's per-group `g[:step]` head is a no-op for its
    * canonical one-row-per-group frames (its quirk Q1); per the
    * docstring's intent we take the top-`step` entries per query via
    * the explicit `rank` column, which `shards` must carry.
    */
  def evaluateStep(shards: DataFrame, results: DataFrame, measures: Seq[Measure],
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
    * (reference: dataproc/selectivesearch.py:32-73).
    *
    * Dispatches to the steps-scalable [[evaluateArrival]] walk whenever
    * every measure is a [[PrecisionAt]] over one relevance column (the
    * reference's only measure family) — O(rows x measures), at most
    * one shuffle (none on a query-clustered input), memory
    * O(steps x measures). Other measure shapes fall back to the
    * relational [[evaluateExplode]] sweep.
    *
    * `sort=true` actually ranks shards by `shard_score` descending
    * (the reference discards that sort — its quirk Q2; the docstring
    * behavior is implemented instead). When `sort=false`, `shards`
    * must already carry a `rank` column.
    */
  def evaluate(shards: DataFrame, results: DataFrame, measures: Seq[Measure],
      numShards: Int, sort: Boolean = false, numBuckets: Option[Int] = None,
      arranged: Boolean = false): DataFrame = {
    val precisionOnly = measures.forall(_.isInstanceOf[PrecisionAt]) &&
      measures.collect { case PrecisionAt(_, c, _) => c }.distinct.size == 1
    // the arrival walk keys queries by a long cast; a non-integral
    // query column (string IDs) would cast to NULL under non-ANSI
    // semantics and silently collapse every query into one group —
    // fall back to the type-generic explode sweep there
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integralQuery = results.schema("query").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (precisionOnly && integralQuery)
      evaluateArrival(shards, results, measures, numShards, sort, numBuckets,
        arranged)
    else evaluateExplode(shards, results, measures, numShards, sort, numBuckets)
  }

  /** Relational single-pass sweep: join results with the ranked
    * selection once, attribute each result row to every step after its
    * shard's rank via `explode(sequence(rank+1, steps))`, then one
    * window + one aggregation keyed by (query, step). One scan, two
    * shuffles, regardless of step count — but the explode makes the
    * shuffle O(rows x steps); prefer [[evaluateArrival]] (the
    * [[evaluate]] default for PrecisionAt) when steps are many.
    */
  def evaluateExplode(shards: DataFrame, results: DataFrame, measures: Seq[Measure],
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
    // rank >= numSteps would make the sequence below DESCEND and
    // attribute rows to spurious steps; drop them (the arrival walk
    // drops them too, keeping both paths in agreement)
    val joined = results.join(broadcast(sel), groupBy, "inner")
      .filter(col("rank") < numSteps)
      .withColumn("step",
        explode(sequence(col("rank") + 1, lit(numSteps))))
    val w = Window.partitionBy(col("query"), col("step"))
      .orderBy(col("global_rank").asc)
    val ranked2 = joined.withColumn("__mrn", row_number().over(w))
    ranked2.groupBy(col("query"), col("step"))
      .agg(measures.head.expr(col("__mrn")), measures.tail.map(_.expr(col("__mrn"))): _*)
      .select((Seq("query") ++ measures.map(_.name) ++ Seq("step")).map(col): _*)
      .transform(sortedMatrix)
  }

  /** Steps-scalable evaluate: identical results to [[evaluateExplode]],
    * but O(rows) instead of O(rows x steps).
    *
    * The explode form materializes each result row once per step it
    * participates in — fine for tens of steps, a x`numSteps` shuffle
    * blowup for hundreds. Here rows shuffle AT MOST ONCE — hash-
    * repartitioned on the input's own `query` column with a secondary
    * sort on `global_rank` (`repartition` + `sortWithinPartitions`,
    * Spark's spill-safe sort), both planned BEFORE the walk's type
    * casts, so an input already hash-clustered by query (the
    * global_rank window) keeps its partitioning: EnsureRequirements
    * drops the redundant exchange and the walk runs in the window's
    * own stage. Each partition is walked as a streaming iterator:
    * per-step (count, sum) pairs fill up to each measure's depth k. A
    * row of rank r counts toward steps r+1..numSteps, and a step's
    * count never decreases as the step index grows, so per row and
    * measure the walk stops at the first step already holding k rows —
    * every later step is full too. Work is O(rows x measures) plus
    * the steps actually filled, not O(rows x steps) when early steps
    * never reach k. Memory is O(steps x measures) per in-flight query,
    * never O(rows): no per-group array materialization, so a hot
    * query larger than executor memory spills in the sort, not in the
    * walk.
    */
  /** `arranged = true` is the caller's PROMISE that `results` rows are
    * already (a) co-located by query (all rows of one query in one
    * partition, contiguous) and (b) partition-locally ordered by
    * (query, global_rank asc) — true whenever `results` just came
    * through the global_rank window (hash-clustered by query, sorted
    * by the rank's own ordering) followed only by order-preserving
    * narrow ops. The walk then runs directly on the joined projection
    * with NO second exchange+sort. AQE partition coalescing preserves
    * both properties (it concatenates whole hash partitions, keeping
    * each query's run contiguous), and the walk keys on run
    * boundaries, not global query order. The promise is CHECKED at
    * runtime, per partition, for the cost of one long-compare and one
    * hash probe per row: global_rank must be strictly increasing
    * within each query run, and a query must not start a second run
    * after its first ended (an added exchange, skew split, or
    * non-window source fails loudly instead of silently corrupting
    * precision numbers). The one violation this cannot see locally is
    * a query split cleanly ACROSS partitions — each half looks like a
    * valid run; the registered uses' hash oracles cover that residue.
    */
  /** Runtime check of the `arranged = true` layout promise (see
    * [[evaluateArrival]]): within a partition, `global_rank` strictly
    * increases inside each query run and no query starts a second run.
    * Streaming pass-through — one comparison + one hash-set probe per
    * row, no buffering.
    */
  private def assertArranged(
      it: Iterator[(Long, Long, Double, Int)]): Iterator[(Long, Long, Double, Int)] =
    new Iterator[(Long, Long, Double, Int)] {
      private val closedRuns = new java.util.HashSet[Long]()
      private var curQuery = 0L
      private var lastRank = 0L
      private var started = false
      def hasNext: Boolean = it.hasNext
      def next(): (Long, Long, Double, Int) = {
        val row = it.next()
        if (!started || row._1 != curQuery) {
          if (started) closedRuns.add(curQuery)
          if (!closedRuns.isEmpty && closedRuns.contains(row._1))
            throw new IllegalStateException(
              s"evaluate(arranged=true): layout promise violated — query ${row._1} " +
                "appears in more than one contiguous run in a partition; the input " +
                "is not clustered by query. Re-run with arranged=false.")
          curQuery = row._1
          started = true
        } else if (row._2 <= lastRank) {
          throw new IllegalStateException(
            s"evaluate(arranged=true): layout promise violated — global_rank ${row._2} " +
              s"after $lastRank within query ${row._1}; the input is not sorted by " +
              "(query, global_rank). Re-run with arranged=false.")
        }
        lastRank = row._2
        row
      }
    }

  /** Walk encoders derived ONCE at object init: the per-call
    * `import spark.implicits._` derivation re-runs ScalaReflection
    * over the tuple types on EVERY evaluate call — a fixed driver
    * cost (part of the ~0.25 s pre-first-job planning gap JobGapProbe
    * measured on c2_evaluate) that caching here removes. Encoders are
    * session-independent expression bundles; sharing one instance
    * across sessions is the documented Encoder contract.
    */
  private implicit val walkInEnc: org.apache.spark.sql.Encoder[(Long, Long, Double, Int)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  private implicit val walkOutEnc: org.apache.spark.sql.Encoder[(Long, Array[Double], Int)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()

  def evaluateArrival(shards: DataFrame, results: DataFrame, measures: Seq[Measure],
      numShards: Int, sort: Boolean = false, numBuckets: Option[Int] = None,
      arranged: Boolean = false): DataFrame = {
    val withBuckets = numBuckets.isDefined
    val groupBy = if (withBuckets) Seq("query", "shard", "bucket") else Seq("query", "shard")
    val numSteps = numShards * numBuckets.getOrElse(1)
    val ks = measures.map {
      case PrecisionAt(k, relCol, _) => (k, relCol)
      case m => throw new IllegalArgumentException(
        s"evaluateArrival supports PrecisionAt measures, got ${m.name}")
    }
    val relCols = ks.map(_._2).distinct
    require(relCols.size == 1, "one relevance column per sweep")
    val queryType = results.schema("query").dataType
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
    // rank >= numSteps rows can't land in any step — drop before the
    // shuffle (and keep parity with evaluateExplode's filter)
    val joined = results.join(broadcast(sel), groupBy, "inner")
      .filter(col("rank") < numSteps)
      .select(col("query"), col("global_rank"), col(relCols.head), col("rank"))
    val kDepths = ks.map(_._1).toArray
    // at most ONE shuffle: hash partition by query, secondary-sort by
    // (query, global_rank) within partitions — queries arrive as
    // contiguous rank-ordered runs and are walked without buffering.
    // Keyed on the uncast columns, so a query-clustered input (the
    // global_rank window) needs no exchange, only the local sort.
    // When the caller vouches the input is already arranged (the
    // window's rank order IS global_rank order), even that sort goes.
    val laidOut =
      if (arranged) joined
      else joined
        .repartition(col("query"))
        .sortWithinPartitions(col("query"), col("global_rank").cast("long"))
    val prepared = laidOut
      .select(col("query").cast("long"), col("global_rank").cast("long"),
        col(relCols.head).cast("double"), col("rank").cast("int"))
      .as[(Long, Long, Double, Int)]
    val out = prepared.mapPartitions { rows0 =>
      val rows = if (arranged) assertArranged(rows0) else rows0
      val it = rows.buffered
      new Iterator[(Long, Array[Double], Int)] {
        private var pending: Iterator[(Long, Array[Double], Int)] = Iterator.empty
        private def advance(): Unit = {
          while (!pending.hasNext && it.hasNext) {
            val query = it.head._1
            // per (measure, step): running count and sum over the first k
            val counts = Array.ofDim[Long](kDepths.length, numSteps + 1)
            val sums = Array.ofDim[Double](kDepths.length, numSteps + 1)
            while (it.hasNext && it.head._1 == query) {
              val (_, _, rel, rank) = it.next()
              var m = 0
              while (m < kDepths.length) {
                val k = kDepths(m)
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
              (query, Array.tabulate(kDepths.length)(m => sums(m)(s) / counts(m)(s)), s)
            }
          }
        }
        def hasNext: Boolean = { advance(); pending.hasNext }
        def next(): (Long, Array[Double], Int) = { advance(); pending.next() }
      }
    }
    out.toDF("query", "vals", "step")
      .select(col("query").cast(queryType) +:
        measures.zipWithIndex.map { case (m, i) =>
          col("vals").getItem(i).as(m.name) } :+
        col("step").cast("int").as("step"): _*)
      .transform(sortedMatrix)
  }

  /** Reference-shaped per-step loop (union of [[evaluateStep]] plans).
    * Kept for golden equivalence testing against the single-pass
    * [[evaluate]]; prefer [[evaluate]] at scale.
    */
  def evaluateStepwise(shards: DataFrame, results: DataFrame, measures: Seq[Measure],
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
    */
  def loadShardResults(spark: SparkSession, basename: String, nshards: Int,
      nbuckets: Int = 1): DataFrame = {
    val paths = (0 until nshards).map(s => s"$basename#$s.results-$nbuckets")
    spark.read.schema(Schemas.resultsSchema).parquet(paths: _*)
  }

  /** Loads shard scores for the given queries
    * (reference: dataproc/selectivesearch.py:76-83).
    *
    * The scores CSV carries no keys — the reference binds it to the
    * (query x shard) cartesian frame by row position. Here both sides
    * get an explicit position: the cartesian side arithmetically
    * (`pos = qIdx * nshards + shard`), the CSV side by line number
    * (single-partition text read, stable order), then an equi-join on
    * position replaces the fragile positional bind (SURVEY.md §7
    * hard-part 1).
    */
  def loadShardSelection(spark: SparkSession, queries: Seq[Long], nshards: Int,
      shardScoresPath: String): DataFrame =
    loadSelection(spark, queries, nshards, None, shardScoresPath)

  /** Bucket-level variant (reference: dataproc/selectivesearch.py:85-93). */
  def loadBucketSelection(spark: SparkSession, queries: Seq[Long], nshards: Int,
      nbuckets: Int, shardScoresPath: String): DataFrame =
    loadSelection(spark, queries, nshards, Some(nbuckets), shardScoresPath)

  private def loadSelection(spark: SparkSession, queries: Seq[Long], nshards: Int,
      nbuckets: Option[Int], shardScoresPath: String): DataFrame = {
    import spark.implicits._
    val ranges = Seq(queries, (0L until nshards.toLong)) ++
      nbuckets.map(nb => (0L until nb.toLong)).toSeq
    val names = Seq("query", "shard") ++ nbuckets.map(_ => "bucket").toSeq
    val cart = DataUtils.cartesianWithPos(spark, ranges, names)
    // Single-partition line read keeps file order; zipWithIndex gives
    // the line number. The scores file is (queries x shards x buckets)
    // lines — tiny relative to results, fine on one partition.
    val scores = spark.sparkContext.textFile(shardScoresPath, 1)
      .zipWithIndex()
      .map { case (line, idx) => (idx, line.trim.toDouble) }
      .toDF("pos", "shard_score")
    val bound = cart.join(scores, Seq("pos"), "inner").drop("pos")
    // pandas rank(method='first', desc) ties by input (= cartesian)
    // order -> tiebreak by (shard[, bucket]) ascending, which equals
    // position order within a query.
    val tiebreak = (Seq("shard") ++ nbuckets.map(_ => "bucket").toSeq).map(col(_).asc)
    val w = Window.partitionBy(col("query"))
      .orderBy(col("shard_score").desc +: tiebreak: _*)
    bound.withColumn("rank", (row_number().over(w) - 1).cast("int"))
  }

  /** Writes `results` as a `trec_eval` run file: six tab-separated
    * columns `query iter title rank score run_id`, no header, top
    * `cutoff` per query (reference: dataproc/selectivesearch.py:193-202).
    *
    * Pure (does not mutate input — reference quirk Q4) and writes a
    * single file for byte-level parity with `to_csv`: Spark writes a
    * directory, then the lone part file is moved to `path`.
    * `tiebreak` stands in for pandas' input-order tie handling in
    * `rank(method='first')`.
    */
  def toTrec(results: DataFrame, path: String, cutoff: Int = 1000,
      tiebreak: Seq[String] = Seq("title")): Unit = {
    // validate before the routing check below reads results.schema
    // ("score") — a missing column gets the friendly message, not a
    // raw StructType lookup error
    ensureHasColumns(results, (Seq("query", "score", "title") ++ tiebreak).distinct)
    // bounded form only on its happy path: the standard title
    // tiebreak, a positive cutoff (the heap needs k > 0 where the
    // window form just writes an empty file), and a double score
    // column (the aggregate exports double; a decimal/int score
    // would change the to_csv byte rendering the window form keeps)
    val frame =
      if (tiebreak == Seq("title") && cutoff > 0 &&
          results.schema("score").dataType ==
            org.apache.spark.sql.types.DoubleType)
        trecFrameTopK(results, cutoff)
      else trecFrame(results, cutoff, tiebreak)
    frame
      .coalesce(1)
      .write.mode("overwrite")
      .option("sep", "\t").option("header", "false")
      .csv(path + ".tmpdir")
    moveSinglePartFile(results.sparkSession, path + ".tmpdir", path)
  }

  /** The TREC frame itself (exposed for testing / further composition):
    * 0-based per-query rank by score descending, `iter='Q0'`,
    * `run_id='null'`, rank < cutoff, sorted by (query, rank)
    * (reference: dataproc/selectivesearch.py:195-201).
    */
  def trecFrame(results: DataFrame, cutoff: Int = 1000,
      tiebreak: Seq[String] = Seq("title")): DataFrame = {
    ensureHasColumns(results, Seq("query", "score", "title"))
    val w = Window.partitionBy(col("query"))
      .orderBy(col("score").desc +: tiebreak.map(col(_).asc): _*)
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
