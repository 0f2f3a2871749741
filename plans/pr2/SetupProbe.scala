import org.apache.spark.sql.SparkSession

/** Times ss_interactive set-up (load + plan every call) n times, each on
  * a new session of one context, as the benchmark driver does.
  * args: inputDir n workDir */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val spark = perfbench.Main.session(4, args(2))
    val w = new perfbench.SsInteractive(args(0), new perfbench.Tracer(false))
    w.prepare(spark)
    val ts = (0 until args(1).toInt).map { rep =>
      val t = System.nanoTime()
      w.setup(spark.newSession(), rep)
      (System.nanoTime() - t) / 1e6
    }
    println("SETUP_MS " + ts.map(t => f"$t%.0f").mkString(","))
    spark.stop()
  }
}
