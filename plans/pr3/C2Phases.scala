package graft.examples

/** Construct / plan / execute split of the three registered c2 rows:
  * 20 reps per row in two rounds on one bench session, medians of the
  * last 16. Copy into src/main/scala/graft/examples/ of a checkout and
  * run `sbt "runMain graft.examples.C2Phases <sf0.1 dir>"`.
  */
object C2Phases {
  def main(args: Array[String]): Unit = {
    val spark = ProbeUtil.benchSession("c2-phases")
    val dir = args.head
    val names = Seq("c2_evaluate", "c2_evaluate_sorted", "c2_evaluate_buckets")
    for (round <- 1 to 2; n <- names) {
      val times = (1 to 20).map { i =>
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.collect()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
      }.drop(4)
      def med(f: ((Double, Double, Double)) => Double) = ProbeUtil.median(times.map(f))
      println(f"C2PHASES $round $n construct ${med(_._1)}%.1f plan ${med(_._2)}%.1f exec ${med(_._3)}%.1f total ${med(t => t._1 + t._2 + t._3)}%.1f")
    }
    spark.stop()
  }
}
