package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution

/** One measured query run. `seconds` is the wall time of build plus the
  * timed action (what Bench sums); `buildS` is the builder alone, eager
  * driver jobs included; `analysisS` and `planS` (optimization + physical
  * planning) come from the tracker of the QueryExecution that ran. Jobs,
  * stages, tasks and task-seconds cover everything the run executed;
  * `jobsByLabel` splits the jobs by their job description — the label of
  * the [[Lineage]] cut that ran them, "" for an unlabelled job. */
final case class Measurement(seconds: Double, buildS: Double,
    analysisS: Double, planS: Double, jobs: Long, stages: Long,
    tasks: Long, taskS: Double, jobsByLabel: Map[String, Long],
    failure: Option[Throwable], executed: Option[QueryExecution]) {
  def failed: Boolean = failure.isDefined
  /** The executed plan of the timed action; after a run under AQE it is
    * the final adaptive plan. */
  def plan: String = executed.fold("")(_.executedPlan.toString)
}

/** The per-query measurement core of Bench and Probe. */
object Measure {
  /** The plan the bench times: the aggregate `Dataset.count()` executes.
    * `run` executes it with `collect()`, which runs this Dataset's own
    * QueryExecution, so its phases and final plan are the ones timed. */
  def timed(df: DataFrame): DataFrame = df.groupBy().count()

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Builds and runs one query, then clears the cache. A failure is
    * returned in the record, never rethrown. */
  def run(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
          dir: String): Measurement = {
    val sc = spark.sparkContext
    val c = new Counters
    // deliver earlier work's events first, so none reach these counters
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(c)
    var buildS = 0.0
    var qe: Option[QueryExecution] = None
    val (failure, wall) = seconds {
      try {
        val (df, b) = seconds(fn(spark, dir))
        buildS = b
        val counted = timed(df)
        qe = Some(counted.queryExecution)
        counted.collect()
        None
      } catch { case t: Throwable => Some(t) }
    }
    spark.catalog.clearCache()
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.removeSparkListener(c)
    def phase(p: String): Double =
      qe.flatMap(_.tracker.phases.get(p)).fold(0.0)(_.durationMs / 1e3)
    Measurement(wall, buildS, phase(QueryPlanningTracker.ANALYSIS),
      phase(QueryPlanningTracker.OPTIMIZATION) +
        phase(QueryPlanningTracker.PLANNING),
      c.jobs, c.stages, c.tasks, c.taskMs / 1e3, c.byLabel.toMap, failure, qe)
  }

  private final class Counters extends SparkListener {
    @volatile var jobs, stages, tasks, taskMs = 0L
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
  }
}
