package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Total-order sort WITHOUT the range-sampling job, for frames whose
  * leading sort key has a small KNOWN integer domain.
  *
  * `orderBy` plans a range exchange whose `RangePartitioner` first
  * runs a separate sampling job over the child RDD — re-executing
  * everything beneath the sort that is not behind a materialized
  * exchange, plus one extra job round per action (SCALING.md round
  * 13: ~0.12 s work + ~0.05 s gap on the c6 selection pipeline at
  * sf0.1). When the caller KNOWS the leading key's domain — the
  * selective-search query ids are dense 0..|Q|-1 by construction —
  * the split points need no sampling at all: route each row directly
  * to partition `pid` via Spark's shuffle-partition-id pass-through
  * (`DirectShufflePartitionID`, the DataFrame-era analog of Hadoop's
  * classic `TotalOrderPartitioner` with precomputed bounds), then
  * sort within partitions. Partition index order IS leading-key
  * order, so the concatenated output equals `orderBy(sortCols)`
  * exactly.
  *
  * Scale contract: the pass-through shuffle uses an explicit
  * partition count, which AQE leaves alone (REPARTITION_BY_NUM
  * origin) — so per-key skew is the CALLER's to manage. The
  * selective-search sorts fold their |Q| query ids into
  * min(|Q|, defaultParallelism) CONTIGUOUS id ranges (one sort task
  * per core, not one per query: 50 single-query tasks ran a ~250 ms
  * stage for ~330 KB); a deployment with a wide or skewed domain
  * should pass a finer `pid` (e.g. key * k + hash-bucket folded over
  * a secondary sort prefix) or fall back to the sampling sort. Rows
  * whose pid falls outside [0, numParts) fail loudly in-plan rather
  * than silently misroute.
  *
  * Frames whose SIZE is bounded by contract (|Q| x k lists, report
  * matrices) need no routing at all: [[boundedSorted]] sorts them in
  * one partition.
  */
object StaticRange {

  /** Whether a column's type may take the dense-id bounds path: the
    * ONE definition of the guard, shared by [[denseIdSort]] and every
    * FUSED probe that computes bounds on its behalf (the SparkEntry
    * gate+bounds aggregate) — a non-integral id whose values only
    * partially cast to long must fall back to the sampling sort on
    * every path, and under ANSI the cast itself can throw, so probes
    * must skip their min/max legs entirely when this is false.
    */
  def integralIdType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** `df.orderBy(sortCols)` with the sampling job replaced by a
    * bounds PROBE when the leading sort key is a non-negative
    * integral id: min/max come from one driver job over `boundsSrc`
    * — typically the SOURCE table, whose column-pruned id scan is
    * trivial next to re-executing `df`'s pipeline (the reason
    * vocab_encode adopted this shape, r13) — and each row routes to
    * partition id/ceil-width directly. `df`'s leading sort key must
    * be drawn from `boundsSrc`'s `idCol` domain (a subset is fine:
    * partitions just run lighter). Non-integral or negative domains
    * fall back to the sampling sort. Sparse or skewed ids only
    * unbalance the final single-stage sort, never break its total
    * order.
    *
    * `partsMultiplier` scales the partition count above
    * defaultParallelism: rows whose mass per leading-key value is
    * SKEWED (the pair lists: id_a is the least member of each pair,
    * so mass decays linearly across the id range) keep a ~2x
    * straggler at 1x, while finer partitions let the scheduler pack
    * the imbalance — the r18 100x pair corpus measured 14.0 s at 1x
    * vs 10.1 s at 8x (sampling orderBy: 19.7 s).
    */
  def denseIdSort(df: DataFrame, boundsSrc: DataFrame, idCol: String,
      sortCols: Seq[Column], partsMultiplier: Int = 1): DataFrame = {
    val integralId = integralIdType(boundsSrc.schema(idCol).dataType)
    val bounds =
      if (integralId)
        boundsSrc.agg(min(col(idCol).cast("long")),
            max(col(idCol).cast("long")))
          .head() match {
          case r if r.isNullAt(0) || r.getLong(0) < 0 => None
          case r => Some((r.getLong(0), r.getLong(1)))
        }
      else None
    denseIdSortKnownBounds(df, bounds, idCol, sortCols, partsMultiplier)
  }

  /** [[denseIdSort]] with CALLER-provided id bounds — for callers
    * that already know the domain, or probed it inside a FUSED
    * aggregate (the registered minhash pair rows fold the duplicate-
    * mass gate probe and the sort bounds into one driver job, r19).
    * `None`, a negative min, or an inverted range falls back to the
    * sampling `orderBy`.
    */
  def denseIdSortKnownBounds(df: DataFrame, bounds: Option[(Long, Long)],
      idCol: String, sortCols: Seq[Column],
      partsMultiplier: Int = 1): DataFrame =
    bounds match {
      case Some((minId, maxId)) if minId >= 0 && maxId >= minId =>
        val parts = math.max(1,
          df.sparkSession.sparkContext.defaultParallelism) *
          math.max(1, partsMultiplier)
        // ceil-width division: pid < parts for every id <= maxId, no
        // multiply overflow, monotone in the id
        val width = (maxId + 1 + parts - 1) / parts
        sortByKnownDomain(df,
          (col(idCol).cast("long") / lit(math.max(1L, width))).cast("int"),
          parts, sortCols)
      case _ => df.orderBy(sortCols: _*)
    }

  /** `df` totally ordered by `sortCols`, where `pid` must be a
    * non-null integral column in [0, numParts) that is non-decreasing
    * in the leading sort key (its rank in the domain, or the index of
    * the contiguous key range holding it). A null pid fails the range
    * test's `when` and lands in the same error as an out-of-range one.
    */
  def sortByKnownDomain(df: DataFrame, pid: Column, numParts: Int,
      sortCols: Seq[Column]): DataFrame = {
    require(numParts > 0, s"numParts $numParts must be positive")
    // concat_ws skips a null pid, so its message still names the guard
    val guarded = when(pid >= 0 && pid < numParts, pid)
      .otherwise(raise_error(concat_ws("",
        lit(s"StaticRange.sortByKnownDomain: pid outside [0, $numParts): "),
        pid.cast("string"))).cast("int"))
    val passThrough = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.DirectShufflePartitionID(
        org.apache.spark.sql.graft.ColumnBridge.expression(guarded.cast("int"))))
    // a one-partition exchange routes every row to partition 0 without
    // evaluating the key — and with it the guard — so route over at
    // least two; the guard keeps the extra partition empty
    df.repartition(math.max(2, numParts), passThrough)
      .sortWithinPartitions(sortCols: _*)
  }

  /** `df` without the local sort of the [[sortByKnownDomain]] route it
    * ends in, for a consumer that ignores row order but groups by the
    * leading key (a per-query aggregate). The route's pid rides along
    * as a column named `pidCol`, computed (and guarded) below the
    * pass-through exchange, which now partitions on that column: an
    * aggregate grouped by (key, `pidCol`) is already clustered by the
    * route, so it plans no exchange of its own, each key's rows meet
    * in one task, and an id outside the domain still fails in-plan.
    * The sort may sit under deterministic projections (a caller's
    * `withColumn`); they pass `pidCol` through. `None` for any other
    * plan.
    */
  private[graft] def routedUnsorted(df: DataFrame, pidCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
      DirectShufflePartitionID}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project,
      RepartitionByExpression, Sort}
    def strip(p: LogicalPlan): Option[(LogicalPlan, Attribute)] = p match {
      case Project(list, child) if list.forall(_.deterministic) =>
        strip(child).map { case (c, pid) => (Project(list :+ pid, c), pid) }
      case Sort(_, false, route @ RepartitionByExpression(
          Seq(DirectShufflePartitionID(guard)), child, _, _), _) =>
        val pid = Alias(guard, pidCol)()
        Some((route.copy(partitionExpressions = Seq(DirectShufflePartitionID(pid.toAttribute)),
          child = Project(child.output :+ pid, child)), pid.toAttribute))
      case _ => None
    }
    strip(df.queryExecution.analyzed).map { case (plan, _) =>
      org.apache.spark.sql.graft.DatasetBridge.ofPlan(df.sparkSession, plan)
    }
  }

  /** Presentation sort for any BOUNDED frame (|Q| x k top-k lists,
    * category-set aggregates, rollup/cube matrices, the queries x
    * shards selection frame, the TREC export): a single-partition
    * sortWithinPartitions skips the range sort's child-re-executing
    * sampling job (~0.1 s per row at toy scale, SCALING.md
    * round 11) and stays trivial at any corpus scale because the
    * output is bounded by the query batch, not the corpus. The
    * caller's keys must form a unique grouping key, so the order is
    * total and deterministic.
    *
    * coalesce(1), not repartition(1): the narrow merge reaches the
    * single partition without a shuffle, which under AQE is one
    * fewer query-stage round per query (~20-45 ms each at toy scale;
    * SCALING.md round 13). The price is that the whole
    * post-last-exchange segment runs as ONE task — every caller
    * feeds a final aggregation over a bounded group count, so that
    * segment is single-task-sized by contract while the map side
    * keeps full parallelism behind the aggregation's own exchange.
    * Do NOT use this under a segment holding corpus-proportional work
    * (the arrival walk keeps repartition(1) for exactly that reason —
    * see SelectiveSearch.sortedInOnePartition).
    */
  def boundedSorted(df: DataFrame, keys: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(keys: _*)
}
