package graft

import scala.concurrent.Await
import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{classic, Column, DataFrame, Encoders, Observation, Row,
  SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit, when}

/** The one way `src/main` cuts a frame's lineage.
  *
  * A cut is an EAGER `localCheckpoint`: the frame is computed once into
  * executor blocks and every later reference scans those blocks, so an
  * iterative operator's plan stays one level deep however many rounds it
  * runs, and a frame read several times is computed once. A checkpoint,
  * not `cache()`: the blocks are freed by the ContextCleaner when the
  * checkpoint RDD is garbage-collected, instead of pinning CacheManager
  * for the life of the session (Bench runs hundreds of queries in one).
  * Trade-off, on purpose: the blocks are unreplicated executor state, so
  * an executor lost after the cut fails the job instead of recomputing.
  * A deployment with preemptible executors or dynamic deallocation
  * swaps the `localCheckpoint` in [[cut]] for a reliable `checkpoint()`
  * to durable storage; every cut follows.
  *
  * Every cut carries a label, a string literal unique to its call site
  * (`RegistrySpec` enforces both). The label names the checkpoint RDD —
  * Bench's leak audit prints residual persistent RDDs by name — and is
  * the job description of every job the cut runs, so a listener (see
  * [[Measure]]'s `jobsByLabel`) can attribute a query's eager jobs to the
  * operator that issued them. */
object Lineage {

  /** Checkpoints `df` under `label`.
    *
    * `dropStats = true` also drops the plan statistics the checkpoint
    * inherits. `Dataset.localCheckpoint` keeps its origin's estimated
    * statistics on the `LogicalRDD`, and a loop that joins its own
    * checkpointed output — pointer doubling is the canonical case —
    * SQUARES the inherited estimate each step: after r rounds the
    * sizeInBytes BigInt has ~2^r bits and planning burns minutes inside
    * `BigInteger.multiply` during stats visits (measured on the sf0.1 kNN
    * graph: Borůvka round 4 actions 20–300 s each, all of it stats
    * arithmetic in the planner). Re-wrapping the checkpoint's own `LogicalRDD` without
    * its origin stats resets the estimate to the session's
    * `spark.sql.defaultSizeInBytes`, keeping every stats visit O(1) at any
    * loop depth; the price is that the frame loses auto-broadcast. The
    * re-wrap keeps the checkpoint's InternalRow blocks and output
    * partitioning: rebuilding the frame from `ck.rdd` (a Row RDD) made
    * every later scan convert each row twice, 10–20% slower at sf0.1.
    * The graph loops drop stats; every other cut keeps them (NOTES.md,
    * "the LogicalRDD-stats discovery"). */
  def cut(df: DataFrame, label: String, dropStats: Boolean = false): DataFrame =
    labelled(df.sparkSession, label) {
      val ck = df.localCheckpoint()
      ck.queryExecution.logical match {
        case r: LogicalRDD =>
          r.rdd.setName(label)
          if (!dropStats) ck
          else {
            val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
            new classic.Dataset(session, r.copy()(session, None, None),
              Encoders.row(ck.schema))
          }
      }
    }

  /** A stats-dropping [[cut]] that also returns the number of rows
    * matching `where` (every row by default), taken by the checkpoint's
    * OWN job: the count rides it as an observed metric
    * ([[graft.operators.Profiling.withObservedMetrics]]), so a loop's
    * stop test costs no second `isEmpty`/`count()` job over the blocks
    * just written. */
  def counted(df: DataFrame, label: String,
              where: Column = lit(true)): (DataFrame, Long) = {
    val (observed, obs) = graft.operators.Profiling.withObservedMetrics(df,
      label, Seq(count(when(where, true)).as("n")))
    (cut(observed, label, dropStats = true), awaitObserved(obs).getLong(0))
  }

  /** The metrics row an observed checkpoint's job reported ([[counted]],
    * and the standing doc lengths' corpus totals). Spark hands observed
    * metrics over through a query listener after the job ends; the wait
    * is bounded, so a metric that never arrives throws instead of
    * hanging the caller. */
  private[graft] def awaitObserved(obs: Observation,
      wait: FiniteDuration = FiniteDuration(60, "s")): Row =
    try Await.result(obs.future, wait)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"observed metrics '${obs.name}' not reported within $wait")
    }

  /** Runs `body` with `label` as the job description of the jobs it
    * submits from this thread, then restores the description that was
    * set before (none included), so scopes nest. */
  private[graft] def labelled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, label)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }

  /** The job property `SparkContext.setJobDescription` sets. */
  private[graft] val JobDescription = "spark.job.description"
}
