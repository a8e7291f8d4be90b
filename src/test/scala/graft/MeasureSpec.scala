package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The session factory's conf hook and the one run core that Bench,
  * Verify and Probe share. */
class MeasureSpec extends SparkSpec {

  test("conf hook: 'k=v;k=v' is parsed and applied to the session") {
    assert(Session.parseConf("a=1;b=2") == Seq("a" -> "1", "b" -> "2"))
    val s = Session(cpus = 4,
      extraConf = Some("spark.graft.test.a=1; spark.graft.test.b = 2"))
    try {
      assert(s.conf.get("spark.graft.test.a") == "1")
      assert(s.conf.get("spark.graft.test.b") == "2")
    } finally Seq("a", "b").foreach(k => s.conf.unset(s"spark.graft.test.$k"))
  }

  test("conf hook: the old comma form is rejected, naming the segment") {
    val e = intercept[IllegalArgumentException](Session.parseConf("a=1,b=2"))
    assert(e.getMessage.contains("'a=1,b=2'"), e.getMessage)
    intercept[IllegalArgumentException](Session.parseConf("a=1;novalue"))
  }

  test("conf hook: empty segments and a trailing ';' are ignored") {
    assert(Session.parseConf(";;").isEmpty)
    assert(Session.parseConf("a=1;") == Seq("a" -> "1"))
    assert(Session.parseConf(" ; a=1 ;; ") == Seq("a" -> "1"))
  }

  private val shuffled: (SparkSession, String) => DataFrame = (s, _) =>
    s.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()

  test("final plan: the executed QueryExecution is AQE-final") {
    val m = Measure.run(spark, shuffled, "")
    assert(!m.failed, m.failure)
    assert(m.plan.contains("isFinalPlan=true"), m.plan)
  }

  test("layers: jobs and tasks counted, phases within the wall time") {
    for (fn <- Seq(shuffled, SparkEntry.queries("q152_ewma_monitor"))) {
      val m = Measure.run(spark, fn, "/root/testdata/sf0.001")
      assert(!m.failed, m.failure)
      assert(m.jobs >= 1 && m.stages >= 1 && m.tasks >= 1, m)
      assert(m.taskS >= 0 && m.buildS >= 0 && m.analysisS >= 0, m)
      // optimization and planning are only recorded on a QueryExecution
      // that executed
      assert(m.planS > 0, m)
      assert(m.buildS + m.analysisS + m.planS <= m.seconds, m)
    }
  }

  test("analysis: read from the built frame, where Spark records it") {
    // a wide SQL query, so its analysis takes measurable time
    val sql = (0 until 60).map(i =>
      s"SELECT id + $i AS x, concat('v', CAST(id * $i AS STRING)) AS y FROM range(10)")
      .mkString(" UNION ALL ")
    val m = Measure.run(spark, (s, _) => s.sql(sql), "")
    assert(!m.failed, m.failure)
    assert(m.analysisS > 0, m)
    assert(m.analysisS <= m.buildS, m)
  }

  test("the action computes every column: one that throws fails the run") {
    // groupBy().count() prunes the column and never evaluates it
    val m = Measure.run(spark,
      (s, _) => s.range(10).select(col("id"), raise_error(lit("boom")).as("x")), "")
    assert(m.failure.exists(_.getMessage.contains("boom")), m)
    assert(m.plan.contains("raise_error"), m.plan)
  }

  test("executed is the action's own execution; none for a sink that only plans") {
    val eager: (SparkSession, String) => DataFrame = (s, _) => {
      val df = s.range(10).toDF("x"); df.count(); df }
    val planned = Measure.run(spark, eager, "", _.queryExecution.executedPlan)
    assert(!planned.failed && planned.jobs >= 1 && planned.executed.isEmpty, planned)
    val out = java.nio.file.Files.createTempDirectory("graft-measure").toString
    val written = Measure.run(spark, eager, "",
      _.write.mode("overwrite").parquet(s"$out/q"))
    assert(written.plan.contains("InsertIntoHadoopFsRelationCommand"), written.plan)
    assert(spark.read.parquet(s"$out/q").count() == 10)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("a builder that throws returns a failed record and clears the cache") {
    var cached: DataFrame = null
    val m = Measure.run(spark, (s, _) => {
      cached = s.range(10).toDF("x").cache()
      cached.count()
      throw new IllegalStateException("builder failed")
    }, "")
    assert(m.failure.map(_.getMessage).contains("builder failed"), m)
    assert(m.executed.isEmpty && m.plan.isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE)
    // the next run still counts its own work only
    val ok = Measure.run(spark, shuffled, "")
    assert(!ok.failed && ok.jobs >= 1)
  }
}
