import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.selectivesearch.SelectiveSearch
import graft.selectivesearch.SelectiveSearch.precisionAt

/** Prints the executed plans of the ss_experiment toTrec frames and
  * evaluate sweeps, built through the same public calls as the
  * benchmark op. args: inputDir */
object TrecPlans {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val spark = SparkSession.builder().master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val params = scala.io.Source.fromFile(s"$in/params.tsv").getLines().toSeq
    val p = params.tail.map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    val nq = p("queries").toInt; val ns = p("shards").toInt; val nb = p("buckets").toInt
    val queries = (0 until nq).map(_.toLong)
    val results = SelectiveSearch.loadShardResults(spark, s"$in/run", ns, nb).drop("rank")
    val shardSel = SelectiveSearch.loadShardSelection(spark, queries, ns, s"$in/shard_scores.csv")
    val bucketSel = SelectiveSearch.loadBucketSelection(spark, queries, ns, nb, s"$in/bucket_scores.csv")
    val qrels = spark.read.parquet(s"$in/qrels.parquet")
    val ranked = results.join(qrels, Seq("query", "gdocid"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0)))
      .withColumn("global_rank", row_number().over(
        Window.partitionBy(col("query")).orderBy(col("score").desc, col("gdocid").asc)))
    def withTitle(df: org.apache.spark.sql.DataFrame) = df.withColumn("title", concat(lit("d"), col("gdocid")))
    val measures = p("ks").split(",").toSeq.map(k => precisionAt(k.toInt))
    val frames = Seq(
      "toTrec(selectWithDecay)" -> SelectiveSearch.trecFrameTopK(withTitle(SelectiveSearch.selectWithDecay(
        shardSel, results, p("decay_t").toInt, p("decay").toDouble, Some(nq))), p("cutoff").toInt),
      "toTrec(selectBuckets)" -> SelectiveSearch.trecFrameTopK(withTitle(SelectiveSearch.selectBuckets(
        bucketSel, results, p("bucket_t").toInt, Some(nq))), p("cutoff").toInt),
      "evaluate(shards)" -> SelectiveSearch.evaluate(shardSel, ranked, measures, ns),
      "evaluate(buckets)" -> SelectiveSearch.evaluate(bucketSel, ranked, measures, ns, numBuckets = Some(nb)))
    for ((name, df) <- frames) {
      df.collect()
      println(s"===== $name (final plan, after one collect)")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
