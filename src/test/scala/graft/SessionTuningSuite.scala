package graft

/** Pins SessionTuning.boundedPlan's conf contract: the AQE-off child
  * is cached per parent, yet RUNTIME `graft.*` knob and `spark.sql.*`
  * setting changes on the parent reach it on every lookup (set,
  * changed, AND unset) — the r14 staleness fix, so knob A/Bs measure
  * what they claim — all but AQE's switch (the child exists precisely
  * to hold AQE off).
  */
class SessionTuningSuite extends SparkSuite {

  test("boundedPlan child sees runtime graft.* knob set/change/unset") {
    val knob = "graft.testKnob"
    spark.conf.unset(knob)
    try {
      val child0 = graft.core.SessionTuning.boundedPlan(spark)
      assert(child0.conf.get("spark.sql.adaptive.enabled") == "false")
      assert(child0.conf.getOption(knob).isEmpty)

      spark.conf.set(knob, "on")
      val child1 = graft.core.SessionTuning.boundedPlan(spark)
      assert(child1 eq child0, "child session must be cached per parent")
      assert(child1.conf.getOption(knob).contains("on"))

      spark.conf.set(knob, "off")
      assert(graft.core.SessionTuning.boundedPlan(spark)
        .conf.getOption(knob).contains("off"))

      spark.conf.unset(knob)
      assert(graft.core.SessionTuning.boundedPlan(spark)
        .conf.getOption(knob).isEmpty,
        "an unset parent knob must unset in the child too")

      // AQE stays off in the child no matter the parent's runtime value
      assert(graft.core.SessionTuning.boundedPlan(spark)
        .conf.get("spark.sql.adaptive.enabled") == "false")
    } finally spark.conf.unset(knob)
  }

  test("boundedPlan child broadcasts a local relation with no job, same join rows") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.functions.broadcast
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val bounded = graft.core.SessionTuning.boundedPlan(spark)
    assert(graft.core.SessionTuning.boundedPlan(bounded) eq bounded,
      "a bounded session must be its own bounded session")
    val schema = StructType(Seq(StructField("id", IntegerType), StructField("v", StringType)))
    for (n <- Seq(1, 64, 4096)) {
      def joined(s: SparkSession): DataFrame = {
        val local = s.createDataFrame((0 until n).map(i => Row(i, s"v$i")).asJava, schema)
        s.range(0, 2L * n).selectExpr("CAST(id AS INT) AS id")
          .join(broadcast(local), "id")
      }
      val df = joined(bounded)
      val exchange = df.queryExecution.executedPlan
        .collectFirst { case b: BroadcastExchangeExec => b }
      assert(exchange.isDefined, df.queryExecution.executedPlan.toString)
      assert(jobsDuring(exchange.get.executeBroadcast[Any]().value)._2 == 0, s"n=$n")
      // the broadcast built no job, so the collect is the range side's one
      val (rows, jobs) = jobsDuring(df.collect().map(r => (r.getInt(0), r.getString(1))))
      assert(jobs == 1, s"n=$n")
      val callers = joined(spark).collect().map(r => (r.getInt(0), r.getString(1)))
      assert(rows.length == n && rows.sorted.sameElements(callers.sorted), s"n=$n")
    }
  }

  test("boundedPlan child follows the parent's runtime spark.sql settings, not its AQE") {
    val child = graft.core.SessionTuning.boundedPlan(spark)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "3")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(graft.core.SessionTuning.boundedPlan(spark).conf.get(key) == "3")
      spark.conf.set(key, "5")
      // a lookup with the child (a frame already built there) syncs too
      assert(graft.core.SessionTuning.boundedPlan(child).conf.get(key) == "5")
      assert(child.conf.get("spark.sql.adaptive.enabled") == "false")
      // the settings reach the plans: evaluate over a driver-held
      // selection builds on the child, and its walk exchange and its
      // caller's window exchange take the caller's partition count
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      import spark.implicits._
      val sel = Seq((0, 0, 0), (0, 1, 1), (1, 0, 0)).toDF("query", "shard", "rank")
      val ranked = Seq((0, 0, 1.0, 1L, 1), (0, 1, 0.5, 2L, 0), (1, 0, 0.7, 3L, 1))
        .toDF("query", "shard", "score", "gdocid", "rel")
        .withColumn("global_rank", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query")
            .orderBy(org.apache.spark.sql.functions.col("score").desc)))
      val matrix = graft.selectivesearch.SelectiveSearch.evaluate(sel, ranked,
        Seq(graft.selectivesearch.SelectiveSearch.precisionAt(1)), 2)
      assert(matrix.sparkSession eq child)
      val widths = matrix.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.collect { case h: HashPartitioning => h.numPartitions }
      assert(widths.nonEmpty && widths.forall(_ == 5), widths)
      spark.conf.unset(key)
      assert(graft.core.SessionTuning.boundedPlan(spark).conf.getOption(key) ==
        spark.conf.getOption(key))
    } finally {
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("a lookup with the child re-syncs graft.* knobs set after a frame was built") {
    val knob = "graft.testKnob"
    val child = graft.core.SessionTuning.boundedPlan(spark)
    try {
      spark.conf.set(knob, "late")
      assert(graft.core.SessionTuning.boundedPlan(child) eq child)
      assert(child.conf.getOption(knob).contains("late"))
      spark.conf.unset(knob)
      graft.core.SessionTuning.boundedPlan(child)
      assert(child.conf.getOption(knob).isEmpty)
    } finally spark.conf.unset(knob)
  }
}
