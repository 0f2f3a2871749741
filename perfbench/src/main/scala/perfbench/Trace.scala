package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** In-memory span recorder: spans (name, start, end, parent, op id)
  * around every op, every public call and every engine phase. Held
  * in memory and written out once when the run ends. Disabled, it
  * runs each body with no recording at all.
  */
final class Tracer(val enabled: Boolean) {
  private final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Double, end: Double, attrs: Map[String, Double])

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String, Double)]
  private var attrs = Map.empty[Int, Map[String, Double]]
  private var nextId = 0
  var op: Int = -1

  /** Wall clock in epoch milliseconds at nanosecond resolution, on the
    * same axis as the listener's job and stage times.
    */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, nowMs) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        spans += Span(id, name, parent, op, start, nowMs, attrs.getOrElse(id, Map.empty))
        attrs -= id
      }
    }

  /** Adds a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled && stack.nonEmpty) {
      val id = stack.head._1
      val m = attrs.getOrElse(id, Map.empty)
      attrs += id -> m.updated(key, m.getOrElse(key, 0.0) + v)
    }

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
}

/** Job and stage figures from the scheduler, for the traced run. */
final class JobListener extends SparkListener {
  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobStarts = scala.collection.mutable.Map[Int, (Long, Seq[Int])]()
  private val stages = ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, stageIds) =>
      jobs += Map("job" -> e.jobId, "start" -> start, "end" -> e.time,
        "stages" -> stageIds)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    stages += Map(
      "stage" -> s.stageId,
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks,
      "task_ms" -> (if (m == null) 0L else m.executorRunTime),
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_write_records" -> (if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead))
  }

  def records: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toList, "stages" -> stages.toList)
  }
}
