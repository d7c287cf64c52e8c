package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkBoot

/** One benchmark run inside one JVM. `perfbench/run.py` builds the program,
  * makes the input tables, starts this main and checks what it wrote.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --data DIR
  * --out DIR. Everything the run measured goes to `DIR/jvm.json`; the
  * metrics are derived from it by run.py. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opt("out")
    Files.createDirectories(Paths.get(out, "tmp"))
    val spark = SparkBoot.install(SparkBoot.builder("graftbench")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/tmp")
      .getOrCreate())
    val run = new Run(spark, opt("workload"), opt("seed").toLong,
      opt("seconds").toDouble, opt("data"), out, new Trace(opt("trace") == "1"))
    try opt("workload") match {
      case "entries_tpch" => Entries.run(run)
      case "wire_mixed" => Wire.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      run.write()
      spark.stop()
    }
  }
}

/** State of one run: the timed ops, set-up and phase boundaries, the trace
  * and whatever the workload adds for the checks. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val data: String, val out: String, val trace: Trace) {

  val sc = spark.sparkContext
  val recorder: Option[ExecRecorder] =
    if (trace.on) { val r = new ExecRecorder; sc.addSparkListener(r); Some(r) } else None

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private var setupS = Double.NaN
  private var timedFrom = Double.NaN
  private var timedTo = Double.NaN
  private var gcAtStart = 0L
  private var heapLiveMb = Double.NaN
  private var gcMs = 0L
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val extra = mutable.LinkedHashMap[String, Any]()

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Ends set-up: everything from JVM start until now counts as set-up. */
  def startTimed(): Unit = {
    timedFrom = trace.nowMs
    setupS = (timedFrom - jvmStartMs) / 1000.0
    gcAtStart = gcTotalMs
  }

  /** Ends the timed phase, then takes the live heap: listeners catch up,
    * and full GCs repeat until two readings agree within 1 MB, because
    * Spark's cleaner frees shuffle and broadcast state only after a GC has
    * found its owners unreachable. */
  def endTimed(): Unit = {
    timedTo = trace.nowMs
    gcMs = gcTotalMs - gcAtStart
    org.apache.spark.graftbench.Bus.drain(sc)
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    heapLiveMb = Double.MaxValue
    var tries = 0
    while (math.abs(prev - heapLiveMb) > 1.0 && tries < 8) {
      Thread.sleep(250)
      heapLiveMb = prev
      prev = used()
      tries += 1
    }
    heapLiveMb = prev
  }

  /** Progress line for the JVM log, stamped with seconds since JVM start. */
  def log(what: String): Unit =
    println(f"[graftbench] ${(trace.nowMs - jvmStartMs) / 1000.0}%.2f s: $what")

  def deadlineReached: Boolean = trace.nowMs - timedFrom >= seconds * 1000.0

  /** Runs `body` as one op under its own job group, with the op's root
    * span as its argument, and records it with the fields of `more`
    * (evaluated after `body`). Returns whether `body` completed. */
  def op(id: String, template: String, kind: String, more: => Map[String, Any] = Map.empty)(
      body: Int => Unit): Boolean = {
    sc.setJobGroup(id, template, false)
    val root = trace.open(id, "op")
    val t0 = trace.nowMs
    val err = try { body(root); None } catch {
      case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString).take(300))
    }
    val t1 = trace.nowMs
    trace.close(root)
    sc.clearJobGroup()
    record(id, template, kind, t0, t1, err, more)
    err.isEmpty
  }

  def record(id: String, template: String, kind: String, t0: Double, t1: Double,
      err: Option[String], more: Map[String, Any] = Map.empty): Unit = synchronized {
    ops += Map("op" -> id, "template" -> template, "kind" -> kind,
      "start_ms" -> t0, "end_ms" -> t1, "error" -> err.orNull) ++ more
  }

  def write(): Unit = {
    val counters = recorder.map { r =>
      org.apache.spark.graftbench.Bus.drain(sc)
      val perOp = ops.toSeq.map { o =>
        val id = o("op").toString
        id -> r.summary(id, o("start_ms").asInstanceOf[Double], o("end_ms").asInstanceOf[Double])
      }.toMap
      val build = trace.spanRecords.filter(_("name") == "entry.build").map { s =>
        val (a, b) = (s("start_ms").asInstanceOf[Double], s("end_ms").asInstanceOf[Double])
        s("op").toString -> r.jobTimes(s("op").toString).count(t => t >= a && t <= b)
      }.toMap
      Map("per_op" -> perOp, "build_jobs" -> build,
        "ungrouped" -> r.summary("", timedFrom, timedTo))
    }
    val doc = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace.on,
      "env" -> Map(
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "master" -> sc.master,
        "cores" -> sc.defaultParallelism,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "data_dir" -> data),
      "setup_s" -> setupS, "timed_from_ms" -> timedFrom, "timed_to_ms" -> timedTo,
      "heap_live_mb" -> heapLiveMb, "jvm_gc_ms" -> gcMs,
      "ops" -> ops.toSeq, "spans" -> trace.spanRecords,
      "counters" -> counters.orNull) ++ extra
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(doc)
    Files.writeString(Paths.get(out, "jvm.json"), json)
  }
}
