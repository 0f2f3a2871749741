package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + frame-comparison helpers for all suites. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterEach {

  /** Operator-held caches must not accumulate across tests (the
    * "already cached" warning noise and the per-call block leak).
    */
  override protected def afterEach(): Unit = {
    graft.core.OpCaches.release()
    super.afterEach()
  }
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String) = s"/root/testdata/$dir"

  /** Collects and compares rows in order (row order is part of the
    * reference's contract — compare after each pipeline's own final
    * sort). Values are compared loosely across numeric widths.
    */
  def assertRowsEqual(actual: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = actual.collect().map(_.toSeq.map(norm))
    val want = expected.map(_.map(norm))
    assert(got.length == want.length,
      s"row count ${got.length} != ${want.length}\n got: ${got.mkString("\n  ")}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"row $i: $g != $w\nall: ${got.mkString("\n  ")}")
    }
  }

  /** `body`'s result and the number of Spark jobs that started while
    * it ran. The listener bus is drained on both sides, so jobs of
    * earlier work are not counted and this call's jobs are.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBus.drain(sc)
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (out, started.get())
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and every warning the optimizer's hint-error
    * logger (the analyzer's `HintErrorLogger`) wrote while it ran ("Hint (strategy=broadcast) is not
    * supported ...": a hint the planner dropped).
    */
  def hintWarningsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger").asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("hint-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try {
      val out = body
      (out, seen.toArray.toSeq.map(_.toString))
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  private def norm(v: Any): Any = v match {
    case n: java.lang.Number => BigDecimal(n.doubleValue())
    case other => other
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
