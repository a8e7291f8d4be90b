package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One measured query run. `seconds` is the wall time of build plus the
  * action (what Bench sums); `buildS` is the builder alone, eager
  * driver jobs and the query's own analysis included; `analysisS` is
  * that analysis, read from the tracker of the built frame's own
  * QueryExecution (Spark analyses a frame when the builder makes it, so
  * the action's execution records none); `planS` (optimization +
  * physical planning) comes from the tracker of the QueryExecution the
  * action ran. Jobs, stages, tasks and
  * task-seconds cover everything the run executed; `jobsByLabel` splits
  * the jobs by their job description — the label of the [[Lineage]] cut
  * that ran them, "" for an unlabelled job. */
final case class Measurement(seconds: Double, buildS: Double,
    analysisS: Double, planS: Double, jobs: Long, stages: Long,
    tasks: Long, taskS: Double, jobsByLabel: Map[String, Long],
    failure: Option[Throwable], executed: Option[QueryExecution]) {
  def failed: Boolean = failure.isDefined
  /** The executed plan of the action; after a run under AQE it is the
    * final adaptive plan. */
  def plan: String = executed.fold("")(_.executedPlan.toString)
}

/** The one way Bench, Verify and Probe run a query: build its frame,
  * hand it to one action, measure both. */
object Measure {
  /** The action Bench and Probe time: a `noop` write, which computes every
    * row and column of the query's own plan and keeps none of them. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Builds one query, runs `sink` on its frame, then clears the cache.
    * `executed` is the last SQL execution the sink ran (none for a sink
    * that only plans). A failure is returned in the record, never
    * rethrown. */
  def run(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
          dir: String, sink: DataFrame => Unit = noop): Measurement = {
    val sc = spark.sparkContext
    val c = new Counters
    // deliver earlier work's events first, so none reach these counters
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(c)
    var buildS, drainS = 0.0
    var built: Option[QueryExecution] = None
    val (failure, wall) = seconds {
      try {
        val (df, b) = seconds(fn(spark, dir))
        buildS = b
        built = Some(df.queryExecution)
        // the builder's own SQL executions are delivered before the
        // action's listener is in place, so `executed` can only be the
        // action's; the wait is not charged to the query
        drainS = seconds {
          org.apache.spark.GraftListenerBus.drain(sc)
          spark.listenerManager.register(c)
        }._2
        sink(df)
        None
      } catch { case t: Throwable => Some(t) }
    }
    spark.catalog.clearCache()
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.removeSparkListener(c)
    spark.listenerManager.unregister(c)
    def phase(qe: Option[QueryExecution], p: String): Double =
      qe.flatMap(_.tracker.phases.get(p)).fold(0.0)(_.durationMs / 1e3)
    Measurement(wall - drainS, buildS, phase(built, QueryPlanningTracker.ANALYSIS),
      phase(c.executed, QueryPlanningTracker.OPTIMIZATION) +
        phase(c.executed, QueryPlanningTracker.PLANNING),
      c.jobs, c.stages, c.tasks, c.taskMs / 1e3, c.byLabel.toMap, failure, c.executed)
  }

  private final class Counters extends SparkListener with QueryExecutionListener {
    @volatile var jobs, stages, tasks, taskMs = 0L
    @volatile var executed: Option[QueryExecution] = None
    val byLabel = scala.collection.mutable.Map.empty[String, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs += 1
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Lineage.JobDescription))).getOrElse("")
      byLabel(label) = byLabel.getOrElse(label, 0L) + 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (e.taskInfo != null) taskMs += e.taskInfo.duration
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      executed = Some(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      executed = Some(qe)
  }
}
