package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf

class LineageSpec extends SparkSpec {

  /** The value of `body` and the job description of every job it ran
    * ("" for none), in submission order. */
  private def withJobLabels[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        labels.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.GraftListenerBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (a, labels.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def frame = spark.range(0, 1000).toDF("id")
    .groupBy((col("id") % 7).as("k")).count()

  private def description: String =
    spark.sparkContext.getLocalProperty("spark.job.description")

  test("cut and counted run their checkpoint jobs under the label") {
    val (ck, cutJobs) = withJobLabels(Lineage.cut(frame, "LineageSpec.cut"))
    assert(cutJobs.nonEmpty && cutJobs.forall(_ == "LineageSpec.cut"), cutJobs)
    assert(ck.count() == 7L)
    val ((_, n), countedJobs) =
      withJobLabels(Lineage.counted(frame, "LineageSpec.counted"))
    assert(n == 7L)
    assert(countedJobs.nonEmpty && countedJobs.forall(_ == "LineageSpec.counted"),
      countedJobs)
  }

  test("the description set before a cut is restored, and scopes nest") {
    assert(description == null)
    Lineage.cut(frame, "LineageSpec.unset")
    assert(description == null)
    spark.sparkContext.setJobDescription("query")
    try {
      val (_, jobs) = withJobLabels {
        Lineage.labelled(spark, "outer") {
          Lineage.cut(frame, "inner")
          assert(description == "outer")
          frame.collect()
        }
      }
      assert(description == "query")
      assert(jobs.distinct == Seq("inner", "outer"), jobs)
      // a scope that throws restores the description too
      intercept[IllegalStateException](Lineage.labelled(spark, "failing") {
        throw new IllegalStateException("cut failed")
      })
      assert(description == "query")
    } finally spark.sparkContext.setJobDescription(null)
  }

  test("the checkpoint RDD is named by its label") {
    val ck = Lineage.cut(frame, "LineageSpec.named")
    val named = spark.sparkContext.getPersistentRDDs.values
      .filter(_.name == "LineageSpec.named")
    assert(named.size == 1, spark.sparkContext.getPersistentRDDs)
    assert(ck.count() == 7L)
  }

  test("dropStats resets the size estimate; the default keeps the origin's") {
    val df = spark.range(0, 1000).toDF("id")
    val origin = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(origin < SQLConf.get.defaultSizeInBytes)
    def size(ck: org.apache.spark.sql.DataFrame) =
      ck.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(Lineage.cut(df, "LineageSpec.keep")) == origin)
    assert(size(Lineage.cut(df, "LineageSpec.drop", dropStats = true)) ==
      SQLConf.get.defaultSizeInBytes)
    val (dropped, _) = Lineage.counted(df, "LineageSpec.countedDrop")
    assert(size(dropped) == SQLConf.get.defaultSizeInBytes)
  }

  test("counted returns its where count with no job beyond the cut's") {
    val (_, cutJobs) = withJobLabels(Lineage.cut(frame, "LineageSpec.plain"))
    val ((ck, n), countedJobs) = withJobLabels(
      Lineage.counted(frame, "LineageSpec.where", col("k") < 3))
    assert(n == 3L && ck.count() == 7L)
    assert(countedJobs.size == cutJobs.size, (cutJobs, countedJobs))
  }
}
