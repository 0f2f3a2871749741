import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.selectivesearch.SelectiveSearch
import graft.selectivesearch.SelectiveSearch.precisionAt

/** ss_interactive set-up, step by step: per rep on a new session, the
  * load and each call's planning, in ms. args: inputDir reps workDir */
object SetupCalls {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val ctx = perfbench.Main.session(4, args(2))
    val p = scala.io.Source.fromFile(s"$in/params.tsv").getLines().toSeq.tail
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    val calls = scala.io.Source.fromFile(s"$in/calls.tsv").getLines().toSeq
    val hdr = calls.head.split("\t")
    val cs = calls.tail.map(l => hdr.zip(l.split("\t")).toMap)
    val nq = p("queries").toInt; val ns = p("shards").toInt; val nb = p("buckets").toInt
    val measures = p("ks").split(",").toSeq.map(k => precisionAt(k.toInt))
    for (rep <- 0 until args(1).toInt) {
      val spark = ctx.newSession()
      val t0 = System.nanoTime()
      val queries = (0 until nq).map(_.toLong)
      val results = SelectiveSearch.loadShardResults(spark, s"$in/run", ns, nb).drop("rank")
      val shardSel = SelectiveSearch.loadShardSelection(spark, queries, ns, s"$in/shard_scores.csv")
      val bucketSel = SelectiveSearch.loadBucketSelection(spark, queries, ns, nb, s"$in/bucket_scores.csv")
      val qrels = spark.read.parquet(s"$in/qrels.parquet")
      val ranked = results.join(qrels, Seq("query", "gdocid"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0)))
        .withColumn("global_rank", row_number().over(
          Window.partitionBy(col("query")).orderBy(col("score").desc, col("gdocid").asc)))
      val tLoad = (System.nanoTime() - t0) / 1e6
      def withTitle(df: DataFrame) = df.withColumn("title", concat(lit("d"), col("gdocid")))
      val per = cs.map { c =>
        val t = c("t").toInt
        val t1 = System.nanoTime()
        val df = c("name") match {
          case "select" => SelectiveSearch.select(shardSel, results, t, Some(nq))
          case "select_decay" | "trec_export" =>
            SelectiveSearch.selectWithDecay(shardSel, results, t, c("decay").toDouble, Some(nq))
          case "select_buckets" => SelectiveSearch.selectBuckets(bucketSel, results, t, Some(nq))
          case "evaluate" => SelectiveSearch.evaluate(shardSel, ranked, measures, ns)
          case "evaluate_buckets" => SelectiveSearch.evaluate(bucketSel, ranked, measures, ns, numBuckets = Some(nb))
          case "trec_topk" => SelectiveSearch.trecFrameTopK(withTitle(
            SelectiveSearch.select(shardSel, results, t, Some(nq))), c("cutoff").toInt)
        }
        df.queryExecution.executedPlan
        c("name") -> (System.nanoTime() - t1) / 1e6
      }
      println(f"REP $rep load=$tLoad%.0f " + per.map { case (n, ms) => f"$n=$ms%.0f" }.mkString(" ") +
        f" total=${(System.nanoTime() - t0) / 1e6}%.0f")
    }
    ctx.stop()
  }
}
