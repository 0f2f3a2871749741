package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}

/** Broadcasts of driver-held rows without a Spark job.
  *
  * `LocalTableScanExec` answers `executeCollect` from its own rows, but
  * `BroadcastExchangeExec` (Spark 4.1.2) reads its child through
  * `executeCollectIterator`, which `LocalTableScanExec` inherits from
  * `SparkPlan`: it runs a job with min(rows, cores) tasks to ship the
  * rows the driver already holds back to the driver. The scan planned
  * here answers `executeCollectIterator` from `executeCollect`, so a
  * broadcast of a local relation (the selective-search loader and
  * resolver frames, the literal ANN probe lists) runs no job. It is a
  * `LocalTableScanExec` in every other respect: same rows, metrics,
  * codegen and plan string.
  *
  * [[install]] registers the strategy on one session through
  * `experimental.extraStrategies`; [[graft.core.SessionTuning.boundedPlan]]
  * installs it on its AQE-off child when it creates it, so no
  * caller's session is touched. In the `org.apache.spark.sql` package
  * tree because `executeCollectIterator` is `private[spark]` — same
  * pattern as [[ColumnBridge]].
  */
object LocalScans {

  private[sql] class JoblessLocalTableScanExec(output: Seq[Attribute],
      rows: Seq[InternalRow], stream: Option[SparkDataStream])
    extends LocalTableScanExec(output, rows, stream) {
    override def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
      val collected = executeCollect()
      (collected.length.toLong, collected.iterator)
    }
  }

  private object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case LocalRelation(output, data, false, stream) =>
        new JoblessLocalTableScanExec(output, data, stream) :: Nil
      case _ => Nil
    }
  }

  /** Plans `s`'s batch local relations as the jobless scan. */
  def install(s: org.apache.spark.sql.SparkSession): Unit = {
    val exp = s.asInstanceOf[SparkSession].experimental
    if (!exp.extraStrategies.contains(Strategy))
      exp.extraStrategies = exp.extraStrategies :+ Strategy
  }
}
