package graft

import org.apache.spark.sql.execution.ExplainMode

/** Local probe over Bench's own session and run core, [[Measure.run]]:
  *
  *   - `time`: runs each query `reps` times (default 3) through
  *     [[Measure.run]] and prints first and min seconds, the layers of the
  *     fastest run (build, analysis, optimization+planning, task-seconds),
  *     jobs, stages and tasks as `min-max` over the runs when they differ,
  *     and every run's seconds; then, for the fastest run, the three
  *     [[Lineage]] labels that ran the most jobs, the jobs of the other
  *     labels, and the unlabelled jobs;
  *   - `plan`: prints the query's own formatted plan, unexecuted;
  *   - `final`: runs the query (`reps` times, default 1) through Bench's
  *     action, the `noop` write, and prints the plan that write executed
  *     (the final AQE plan).
  *
  * `time` and `final` first build the standing stores, as Bench does, so
  * a query's first run does not include a store build.
  *
  * With no query names it covers the whole registry.
  * {{{ sbt 'runMain graft.Probe time /root/testdata/sf0.1 3 q213_frequent_itemsets' }}} */
object Probe {
  def main(args: Array[String]): Unit = {
    val modes = Set("time", "plan", "final")
    require(args.length >= 2 && modes(args(0)),
      "usage: graft.Probe <time|plan|final> <sfDir> [reps] [query...]")
    val Array(mode, sfDir) = args.take(2)
    val (reps, named) = args.drop(2).toSeq match {
      case r +: rest if r.nonEmpty && r.forall(_.isDigit) => (r.toInt, rest)
      case rest => (if (mode == "time") 3 else 1, rest)
    }
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session()
    Session.warm(spark, sfDir)
    if (mode != "plan") graft.queries.QueryHelpers.warmStandingStores(spark, sfDir)
    if (mode == "time")
      println(f"${"query"}%-30s ${"first"}%7s ${"min"}%7s ${"build"}%7s " +
        f"${"analyze"}%7s ${"plan"}%7s ${"jobs"}%7s ${"stages"}%7s " +
        f"${"tasks"}%7s ${"task_s"}%8s  runs")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      if (mode == "plan") {
        println(s"\n========== $name (plan) ==========")
        Measure.run(spark, fn, sfDir, df => println(df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))))
          .failure.foreach(t => println(s"(failed: $t)"))
      } else {
        val runs = (1 to reps).map(_ => Measure.run(spark, fn, sfDir))
        val best = runs.minBy(_.seconds)
        runs.flatMap(_.failure).headOption.foreach(t =>
          System.err.println(s"probe: $name FAILED: $t"))
        def spread(count: Measurement => Long): String = {
          val (lo, hi) = (runs.map(count).min, runs.map(count).max)
          if (lo == hi) s"$lo" else s"$lo-$hi"
        }
        if (mode == "time") {
          println(f"$name%-30s ${runs.head.seconds}%7.3f ${best.seconds}%7.3f " +
            f"${best.buildS}%7.3f ${best.analysisS}%7.3f ${best.planS}%7.3f " +
            f"${spread(_.jobs)}%7s ${spread(_.stages)}%7s ${spread(_.tasks)}%7s " +
            f"${best.taskS}%8.3f  " + runs.map(r => f"${r.seconds}%.3f").mkString(" "))
          val (top, rest) = (best.jobsByLabel - "").toSeq
            .sortBy { case (l, n) => (-n, l) }.splitAt(3)
          println(f"${""}%-30s top labels: " +
            top.map { case (l, n) => s"$l=$n" }.mkString(" ") +
            (if (rest.isEmpty) "" else s" + ${rest.size} more=${rest.map(_._2).sum}") +
            s" (unlabelled ${best.jobsByLabel.getOrElse("", 0L)} of ${best.jobs} jobs)")
        } else {
          println(f"\n========== $name (final plan, ${runs.last.seconds}%.3f s) ==========")
          println(runs.last.plan)
        }
      }
    }
    spark.stop()
  }
}
