package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** How one perfbench op settles after the benchmark's own set-up and
  * warm-up: runs the workload's set-up and warm-up exactly as
  * perfbench.Main does, then op `idx` `reps` times, and prints per op
  * its wall time, its scheduler jobs (start offset + duration (tasks)),
  * and what the JVM did meanwhile: GC pause time / collections, JIT
  * compile time (summed over compiler threads) and new Spark codegen
  * compilations.
  *
  * Not part of the build: copy it into perfbench/src/main/scala/perfbench/
  * of a scratch checkout, build there, and run it on the classpath and
  * JVM flags perfbench/run.py uses:
  *
  *   java -Xmx3g -XX:+UseParallelGC ... perfbench.OpWarmProbe \
  *     ss_experiment <generated input dir> <work dir> 0 10
  */
object OpWarmProbe {
  final class Jobs extends SparkListener {
    val done = ArrayBuffer[(Long, Long, Int)]()
    private val open = scala.collection.mutable.Map[Int, (Long, Int)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      open(e.jobId) = (e.time, e.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { case (s, n) => done += ((s, e.time, n)) }
    }
    def take(): List[(Long, Long, Int)] = synchronized {
      val r = done.toList.sortBy(_._1); done.clear(); r
    }
  }

  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def gcCount = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionCount).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegens = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val Array(workload, in, workDir, idx, reps) = args
    val work = new File(workDir)
    work.mkdirs()
    val context = Main.session(Runtime.getRuntime.availableProcessors(), work.getAbsolutePath)
    val w: Workload = workload match {
      case "ss_experiment" => new SsExperiment(in, new Tracer(false))
      case "ss_interactive" => new SsInteractive(in, new Tracer(false))
    }
    var spark = context
    (0 until Main.SetupReps).foreach { rep =>
      spark = context.newSession()
      w.setup(spark, rep)
    }
    val out = new File(work, "out")
    out.mkdirs()
    w.warm(out)
    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    (0 until reps.toInt).foreach { r =>
      val (gc0, n0, jit0, cg0) = (gcMs, gcCount, jitMs, codegens)
      val t0 = System.currentTimeMillis()
      w.op(idx.toInt, out)
      val t1 = System.currentTimeMillis()
      org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
      val js = jobs.take()
      val timeline = js.map { case (s, e, n) => s"${s - t0}+${e - s}($n)" }.mkString(" ")
      println(f"OP $r%3d ms ${t1 - t0}%6d jobs ${js.size}%3d jobms ${js.map(j => j._2 - j._1).sum}%6d " +
        f"gc ${gcMs - gc0}%4d/${gcCount - n0}%2d jit ${jitMs - jit0}%5d codegen ${codegens - cg0}%3d  $timeline")
    }
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
