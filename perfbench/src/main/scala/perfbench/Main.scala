package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One op's record: what it did, how long its parts took, and whether
  * it raised. Output correctness is judged after the run, outside the
  * timed loop, from the files the op left in its directory.
  */
final case class OpRecord(index: Int, kind: String, start: Double, end: Double,
    rowsIn: Long, phases: Map[String, Double], error: Option[String],
    traced: Boolean, extra: Map[String, Double]) {
  def toMap: Map[String, Any] = Map("index" -> index, "kind" -> kind,
    "start" -> start, "end" -> end, "ms" -> (end - start), "rows_in" -> rowsIn,
    "phases" -> phases, "error" -> error, "traced" -> traced, "extra" -> extra)
}

/** What a workload tells the loop about one op. */
final case class OpResult(kind: String, rowsIn: Long,
    phases: Map[String, Double] = Map.empty, extra: Map[String, Double] = Map.empty)

trait Workload {
  /** One-off, untimed preparation of stored state that set-up then
    * reopens (the curation indexes).
    */
  def prepare(spark: SparkSession): Unit = ()
  /** Program-side set-up on a fresh session: everything the loop relies
    * on being in place before its first op. Timed; run several times.
    */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Re-binds the workload to another session without rebuilding
    * stored state (the single-core pass).
    */
  def attach(spark: SparkSession): Unit
  /** Untimed warm-up after set-up, so the loop starts with filled
    * caches and compiled code.
    */
  def warm(out: File): Unit
  /** Runs op `i`, leaving its outputs under `out`. */
  def op(i: Int, out: File): OpResult
  def maxOps: Int
  /** Ops in one turn of the workload's mix; a run stops only at a turn
    * boundary, so every run weighs the mix the same.
    */
  def cycle: Int
  /** Ops a timed loop runs even after its `seconds` have passed. */
  def minOps: Int = 3
  /** Switches span recording on or off for later ops. */
  def setTracer(t: Tracer): Unit
}

/** Holds a run to its deadline (epoch ms; 0 for none): once it has
  * passed, `expired` is set and the jobs of the current session are
  * cancelled until `stop()`, so the op in flight fails and the loop
  * ends instead of running past the run's time limit.
  */
final class Watchdog(deadlineMs: Long) {
  @volatile var expired = false
  @volatile private var stopped = false
  if (deadlineMs > 0) {
    val t = new Thread(() => {
      while (!stopped) {
        if (System.currentTimeMillis() >= deadlineMs) {
          expired = true
          try SparkSession.getDefaultSession.foreach(_.sparkContext.cancelAllJobs())
          catch { case _: IllegalStateException => () } // a context shutting down
        }
        Thread.sleep(200)
      }
    }, "perfbench-watchdog")
    t.setDaemon(true)
    t.start()
  }
  def stop(): Unit = stopped = true
}

/** The benchmark driver: one process, one closed-loop client.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --in DIR --out DIR --cores N --deadline-ms T
  *
  * Writes `summary.json` under --out; the wrapper (perfbench/run.py)
  * checks outputs and prints the metrics.
  */
object Main {
  val SetupReps = 3

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "20")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Collected rows as TSV with a header line (the check reads it). */
  def dumpRows(rows: Array[Row], columns: Seq[String], path: File): Unit = {
    val b = new StringBuilder(columns.mkString("\t")).append('\n')
    rows.foreach { r =>
      var i = 0
      while (i < r.length) {
        if (i > 0) b += '\t'
        b ++= String.valueOf(r.get(i))
        i += 1
      }
      b += '\n'
    }
    Files.writeString(path.toPath, b.toString)
  }

  def dump(df: DataFrame, rows: Array[Row], path: File): Unit =
    dumpRows(rows, df.columns.toSeq, path)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val in = opts("in")
    val out = new File(opts("out"))
    val cores = opts("cores").toInt
    val watchdog = new Watchdog(opts("deadline-ms").toLong)
    val work = out.getParentFile.getAbsolutePath
    out.mkdirs()

    val tracer = new Tracer(false)
    val workload: Workload = workloadName match {
      case "ss_experiment" => new SsExperiment(in, tracer)
      case "ss_interactive" => new SsInteractive(in, tracer)
      case "curation_ingest" => new CurationIngest(in, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val marks = scala.collection.mutable.LinkedHashMap[String, Double](
      "jvm_start" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    def mark(name: String): Unit = marks(name) = System.currentTimeMillis().toDouble
    def freshSession(n: Int): SparkSession = {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      session(n, work)
    }

    val context = freshSession(cores)
    workload.prepare(context)
    mark("prepare_done")
    // set-up, several times, each on a new session of the one context;
    // the last session stays for the loop
    var spark = context
    val setupS = (0 until SetupReps).map { rep =>
      val t = System.nanoTime()
      spark = context.newSession()
      workload.setup(spark, rep)
      (System.nanoTime() - t) / 1e9
    }
    mark("setup_done")
    val warmDir = new File(work, "warm")
    warmDir.mkdirs()
    workload.warm(warmDir)
    mark("warm_done")

    val ops = ArrayBuffer[OpRecord]()
    var next = 0
    def runOp(tr: Tracer): Unit = {
      val i = next
      next += 1
      val dir = new File(out, f"op-$i%05d")
      dir.mkdirs()
      tr.op = i
      val start = tr.nowMs
      val res = try Right(tr.span("op")(workload.op(i, dir)))
        catch { case e: Throwable => Left(e) }
      val end = tr.nowMs
      ops += (res match {
        case Right(r) => OpRecord(i, r.kind, start, end, r.rowsIn, r.phases, None,
          tr.enabled, r.extra)
        case Left(e) =>
          val cause = if (watchdog.expired) "cancelled at the run's deadline: " else ""
          OpRecord(i, "error", start, end, 0L, Map.empty,
            Some(s"$cause${e.getClass.getName}: ${e.getMessage}".take(500)), tr.enabled,
            Map.empty)
      })
    }
    /** Whole turns of the mix until `seconds` have passed and at least
      * `minTurns` ran, or until the run's deadline; `tracerFor(turn)`
      * picks each turn's tracer.
      */
    def loop(minTurns: Int)(tracerFor: Int => Tracer): Unit = {
      val until = System.nanoTime() + (seconds * 1e9).toLong
      var turn = 0
      while ((System.nanoTime() < until || turn < minTurns) && !watchdog.expired &&
          next + workload.cycle <= workload.maxOps) {
        val tr = tracerFor(turn)
        workload.setTracer(tr)
        (0 until workload.cycle).foreach(_ => if (!watchdog.expired) runOp(tr))
        turn += 1
      }
      workload.setTracer(tracer)
    }
    val minTurns = (workload.minOps + workload.cycle - 1) / workload.cycle

    val traceRecord = scala.collection.mutable.LinkedHashMap[String, Any]()
    val loopStart = System.nanoTime()
    if (!traced) loop(minTurns)(_ => tracer)
    else {
      // untraced, traced, traced, untraced turns: warm-up drift cancels
      // out of the tracing overhead (the difference of their medians)
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      val tr = new Tracer(true)
      loop(4)(turn => if (turn % 4 == 1 || turn % 4 == 2) tr else tracer)
      org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      traceRecord("spans") = tr.records
      traceRecord ++= listener.records
      // past the deadline, what the loop traced is all there is
      traceRecord("kernels") =
        try { if (watchdog.expired) Map.empty else Kernels.measure(spark, seed) }
        catch { case _: Exception if watchdog.expired => Map.empty }
      traceRecord("single_core_ops") = Nil
      if (!watchdog.expired) {
        // one op on a single core, next to the n-core medians
        workload.attach(freshSession(1))
        val before = ops.size
        runOp(tracer)
        traceRecord("single_core_ops") = ops.drop(before).map(_.toMap).toList
        ops.remove(before, ops.size - before)
      }
    }
    watchdog.stop()
    val loopS = (System.nanoTime() - loopStart) / 1e9
    mark("loop_done")

    val summary = Map(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores,
      "seconds" -> seconds, "traced" -> traced,
      "setup_s" -> setupS, "loop_s" -> loopS,
      "ops" -> ops.map(_.toMap).toList,
      "peak_rss_mb" -> peakRssMb(),
      "trace" -> traceRecord, "marks_ms" -> marks)
    Files.writeString(Paths.get(out.getPath, "summary.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(summary))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
