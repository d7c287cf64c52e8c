package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's own calls into each layer, kept in
  * memory and written out when the run ends. Times are epoch milliseconds
  * with sub-millisecond resolution, so they line up with the task launch and
  * finish times that Spark's listener reports. Only the calling thread opens
  * spans; `on = false` makes every call a no-op. */
final class Trace(val on: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Span(id: Int, parent: Int, op: String, name: String,
      start: Double, var end: Double)

  private val spans = mutable.ArrayBuffer[Span]()

  /** Opens a span and returns its id (-1 when tracing is off). */
  def open(op: String, name: String, parent: Int = -1): Int =
    if (!on) -1 else {
      spans += Span(spans.length, parent, op, name, nowMs, Double.NaN)
      spans.length - 1
    }

  def close(id: Int): Unit = if (id >= 0) spans(id).end = nowMs

  def around[T](op: String, name: String, parent: Int)(body: => T): T = {
    val id = open(op, name, parent)
    try body finally close(id)
  }

  /** A span whose times were measured elsewhere (Catalyst's planning
    * tracker, which keeps whole milliseconds). */
  def add(op: String, name: String, parent: Int, start: Double, end: Double): Unit =
    if (on) spans += Span(spans.length, parent, op, name, start, end)

  /** The analysis, optimization and planning phases of `qe`, as children of
    * the spans they ran under. */
  def catalystPhases(op: String, qe: org.apache.spark.sql.execution.QueryExecution,
      analysisParent: Int, planParent: Int): Unit = if (on) {
    qe.tracker.phases.foreach { case (phase, s) =>
      add(op, s"catalyst.$phase",
        if (phase == "analysis") analysisParent else planParent,
        s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ms" -> s.start, "end_ms" -> s.end))
}

/** Scheduler-side counters, collected by a SparkListener the benchmark
  * registers itself. Jobs, stages and tasks are attributed to the op whose
  * job group the benchmark set on its calling thread; work with no group
  * (statements run on the MySQL server's own threads) is kept under "". */
final class ExecRecorder extends SparkListener {
  final case class TaskRec(stage: Int, launch: Long, finish: Long, ok: Boolean,
      runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRows: Long,
      shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long)

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentLinkedQueue[(String, Long)]() // group, submit time
  private val stages = new ConcurrentLinkedQueue[(String, Long)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add((group(e.properties), e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = group(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    stages.add((g, e.stageInfo.submissionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      i.successful, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Job submit times of one group. */
  def jobTimes(g: String): Seq[Long] = jobs.asScala.collect { case (`g`, t) => t }.toSeq

  /** Exact counters and time sums per group, plus the busy time: the union
    * of the group's task intervals inside [from, to] (epoch ms). Work of the
    * shared group "" counts only when it started inside [from, to]. */
  def summary(g: String, from: Double, to: Double): Map[String, Any] = {
    def in(t: Long): Boolean = g.nonEmpty || (t >= from && t <= to)
    val ts = tasks.asScala.filter(t =>
      stageGroup.getOrDefault(t.stage, "") == g && in(t.launch)).toSeq
    val iv = ts.map(t => (math.max(t.launch.toDouble, from), math.min(t.finish.toDouble, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) busy += curB - curA
    Map(
      "jobs" -> jobs.asScala.count { case (jg, t) => jg == g && in(t) },
      "stages" -> stages.asScala.count { case (sg, t) => sg == g && in(t) },
      "tasks" -> ts.size,
      "tasks_ok" -> ts.count(_.ok),
      "scan_bytes" -> ts.map(_.inBytes).sum,
      "scan_rows" -> ts.map(_.inRows).sum,
      "shuffle_write_bytes" -> ts.map(_.shWrite).sum,
      "shuffle_read_bytes" -> ts.map(_.shRead).sum,
      "spill_bytes" -> ts.map(_.spill).sum,
      "task_run_ms" -> ts.map(_.runMs).sum,
      "task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "shuffle_fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum,
      "executor_gc_ms" -> ts.map(_.gcMs).sum,
      "task_busy_ms" -> busy)
  }
}
