package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint helpers for iterative DataFrame algorithms.
  *
  * `localCheckpoint()` truncates the plan to a `LogicalRDD` leaf but
  * PRESERVES the origin plan's estimated statistics on that leaf. Join
  * size estimates are *products* of the children's `sizeInBytes`, so an
  * iterative algorithm that checkpoints a plan containing k self-joins
  * per round compounds the estimate multiplicatively: the BigInteger's
  * bit-length grows ~2^k-fold per round, and by round ~7 of a 3-jump
  * connected-components loop the driver spends minutes inside
  * `BigInteger.multiplyToomCook3` computing a size estimate with tens
  * of millions of digits (stack-trace-diagnosed, reproducible on the
  * sf0.1 minhash graph). Re-wrapping the checkpointed RDD in a fresh
  * `LogicalRDD` without origin stats restarts each round's estimates
  * from the conservative `defaultSizeInBytes` leaf default — which
  * also keeps the planner from ever auto-broadcasting the label
  * table, the right call for a table whose size the estimator clearly
  * cannot track.
  *
  * Unlike a plain `internalCreateDataFrame(df.queryExecution.toRdd,
  * schema)` round-trip, the physical `outputPartitioning` and
  * `outputOrdering` of the checkpointed plan are KEPT, so a loop whose
  * rounds produce hash-partitioned output (e.g. the min-label
  * aggregation keyed by node id) can join against a co-partitioned
  * cached side with zero additional exchanges.
  *
  * Lives in the `org.apache.spark.sql` package tree because
  * `LogicalRDD` and `Dataset.ofRows` are `private[sql]` — same pattern
  * as [[ColumnBridge]].
  */
object DatasetBridge {

  /** A sibling session for iterative loops: a `cloneSession()` of the
    * caller, so ALL of the caller's runtime confs (not just the
    * builder-time options a bare `newSession()` would see — e.g. a
    * runtime `spark.sql.legacy.parquet.nanosAsLong` or a tuned
    * shuffle width) plus its temp views and registered functions are
    * copied at clone time, while loop-local `conf.set` calls never
    * leak back to the caller. The clone shares the SparkContext,
    * cache manager, and external catalog.
    */
  def loopSession(caller: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    caller.asInstanceOf[SparkSession].cloneSession()

  /** Re-homes a DataFrame onto a sibling session of the same
    * SparkContext (e.g. a [[loopSession]] with loop-tuned conf, so an
    * iterative operator never mutates the caller's session-global
    * conf). A checkpointed `LogicalRDD` leaf is rebuilt against the
    * target session; any other plan is re-analyzed there.
    *
    * Requires an already-ANALYZED plan: sibling sessions share the
    * SparkContext, cache manager, and external catalog, but temp
    * views and the function registry are per-session (a clone copies
    * them once at clone time; they drift after), so a plan that still
    * needs session-local resolution — unresolved relations against
    * temp views, unresolved function names — may resolve differently
    * or fail on the target. Analyzed leaves carry their resolved
    * relations and function bindings with them.
    */
  def transplant(df: DataFrame, target: org.apache.spark.sql.SparkSession): DataFrame = {
    val t = target.asInstanceOf[SparkSession]
    if (df.sparkSession eq t) return df
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        Dataset.ofRows(t, LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming)(t, None, None))
      case plan => Dataset.ofRows(t, plan)
    }
  }

  /** A frame of an analyzed `plan` on `session` (a rewrite of a frame's
    * own analyzed plan, e.g. [[graft.core.StaticRange]] dropping a sort
    * an order-blind consumer does not need).
    */
  def ofPlan(session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    Dataset.ofRows(session.asInstanceOf[SparkSession], plan)

  /** Eager local checkpoint that drops origin statistics but keeps the
    * materialized RDD, output attributes, partitioning, and ordering.
    */
  def localCheckpointNoStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint().asInstanceOf[Dataset[Row]]
    val spark = ck.sparkSession.asInstanceOf[SparkSession]
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val clean = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming)(spark, None, None)
        Dataset.ofRows(spark, clean)
      case _ => ck // not a plain checkpoint leaf; leave untouched
    }
  }
}
