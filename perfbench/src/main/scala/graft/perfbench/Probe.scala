package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the benchmark collects from outside the engine: a
  * SparkListener (jobs, stages, tasks and their metrics), a
  * QueryExecutionListener (the QueryExecution tracker's analysis,
  * optimization and planning phases), Spark's codegen metrics and the
  * JVM's MXBeans. `snapshot` reads them all; `Probe.delta` subtracts two. */
final class Probe(spark: SparkSession) {
  private val c = mutable.LinkedHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit =
    c.synchronized(c.getOrElseUpdate(k, new LongAdder)).add(v)
  // job intervals, for the wall time during which any job ran
  private val jobStart = mutable.Map[Int, Long]()
  private val busyMs = new AtomicLong(0)
  private var open = 0
  private var openSince = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      add("jobs", 1)
      jobStart(e.jobId) = e.time
      if (open == 0) openSince = e.time
      open += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (jobStart.remove(e.jobId).isDefined) {
        open -= 1
        if (open == 0) busyMs.addAndGet(e.time - openSince)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_b", m.inputMetrics.bytesRead)
        add("input_rows", m.inputMetrics.recordsRead)
        add("output_b", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) => add(s"phase_$phase", s.durationMs) }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def jvmGcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** All counters now, after every pending listener event is delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    val counters = c.synchronized(c.map { case (k, v) => k -> v.sum().toDouble }.toMap)
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val cgSnap = cg.getSnapshot
    counters ++ Map(
      "busy_ms" -> busyMs.get.toDouble,
      // the codegen histogram keeps no sum: count × sampled mean (ms)
      "codegen_count" -> cg.getCount.toDouble,
      "codegen_mean_ms" -> cgSnap.getMean,
      "jvm_gc_ms" -> jvmGcMs.toDouble,
      "jvm_jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }
}

object Probe {
  /** Counter increments from snapshot `a` to snapshot `b`. Deltas of
    * successive intervals add up; the codegen histogram, which keeps no
    * sum, becomes `codegen_ms` = compilations × the sampled mean at `b`. */
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] = {
    def d(k: String): Double = b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0)
    (b.keySet - "codegen_mean_ms").map(k => k -> d(k)).toMap +
      ("codegen_ms" -> d("codegen_count") * b.getOrElse("codegen_mean_ms", 0.0))
  }

  /** Per-layer Spark and JVM metrics of summed deltas, on `cores` task
    * slots. */
  def sparkMetrics(d: Map[String, Double], cores: Int): Map[String, Double] = {
    def g(k: String): Double = d.getOrElse(k, 0.0)
    val execS = g("busy_ms") / 1000
    val taskS = g("task_ms") / 1000
    Map(
      "spark.analysis_s" -> g("phase_analysis") / 1000,
      "spark.optimization_s" -> g("phase_optimization") / 1000,
      "spark.planning_s" -> g("phase_planning") / 1000,
      "spark.codegen_s" -> g("codegen_ms") / 1000,
      "spark.exec_s" -> execS,
      "spark.jobs" -> g("jobs"),
      "spark.stages" -> g("stages"),
      "spark.tasks" -> g("tasks"),
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> g("task_cpu_ns") / 1e9,
      "spark.gc_s" -> g("gc_ms") / 1000,
      "spark.core_idle_frac" ->
        (if (execS > 0) math.max(0.0, 1.0 - taskS / (execS * cores)) else 0.0),
      "spark.shuffle_write_b" -> g("shuffle_write_b"),
      "spark.shuffle_read_b" -> g("shuffle_read_b"),
      "spark.spill_b" -> g("spill_b"),
      "spark.input_b" -> g("input_b"),
      "spark.input_rows" -> g("input_rows"),
      "jvm.gc_s" -> g("jvm_gc_ms") / 1000,
      "jvm.jit_s" -> g("jvm_jit_ms") / 1000)
  }

  def load1: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use after full collections, in MB: the least of three
    * collections, spaced so Spark's ContextCleaner can release the blocks
    * of frames the previous collection found unreachable. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

/** Spans around the benchmark's own calls into the engine: name, start,
  * end, parent and op id, kept in memory and written as JSON at the end
  * of a run. Disabled, `apply` only runs the body. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  var op: Int = -1

  /** Drops the spans recorded so far (those of setup and warm-up). */
  def reset(): Unit = { spans.clear(); stack = Nil }

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Self time per span name (a span's duration minus its children's), in
    * seconds. */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def writeJson(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val body = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startNs: Long, var endNs: Long = -1L)
}
