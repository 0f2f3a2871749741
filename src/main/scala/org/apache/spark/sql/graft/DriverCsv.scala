package org.apache.spark.sql.graft

import java.io.OutputStreamWriter
import java.nio.charset.Charset

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.SQLExecution

/** One CSV file written by the driver from a frame it collects.
  *
  * For bounded frames (a TREC run is |queries| x cutoff rows), writing
  * through `df.coalesce(1).write.csv(dir)` costs a one-task write stage,
  * an output committer, and a rename of the lone part file into place.
  * Here the frame's rows are collected in the one job its plan needs,
  * and Spark's own CSV row generator (`UnivocityGenerator`, as the CSV
  * writer's `CsvOutputWriter` builds it: same `CSVOptions` from the
  * same options and session settings, same charset) writes them to
  * `path` through the path's Hadoop `FileSystem`, overwriting it. The
  * bytes are the ones the CSV writer's part file holds.
  *
  * In the `org.apache.spark.sql` package tree because the physical
  * collect and the execution-id scope are `private[sql]` — same
  * pattern as [[ColumnBridge]].
  */
object DriverCsv {
  def write(df: DataFrame, path: String, options: Map[String, String]): Unit = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    val conf = session.sessionState.conf
    val csv = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val p = new Path(path)
    val fs = p.getFileSystem(session.sessionState.newHadoopConfWithOptions(options))
    val gen = new UnivocityGenerator(ds.schema,
      new OutputStreamWriter(fs.create(p, true), Charset.forName(csv.charset)), csv)
    try rows.foreach(gen.write) finally gen.close()
  }
}
