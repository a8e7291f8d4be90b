package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKAggregate

class TopKAggregateSpec extends SparkSpec {
  import spark.implicits._

  test("topKRows matches the window row_number form on a skewed frame") {
    val df = (1 to 500).map { i =>
      (s"g${i % 7}", i.toLong, (i * 37 % 101).toDouble / 10.0)
    }.toDF("g", "id", "score")
    val viaAgg = TopKAggregate.topKRows(df, Seq("g"),
        Seq((-col("score")).as("ns"), col("id").as("id")), Nil, k = 5)
      .select(col("g"), col("id"), (-col("ns")).as("score"))
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5).select("g", "id", "score")
    val a = viaAgg.orderBy("g", "id").collect().toSeq
    val b = viaWindow.orderBy("g", "id").collect().toSeq
    assert(a == b)
    assert(a.size == 35) // 7 groups × 5
  }

  test("group smaller than k returns the whole group, ordered") {
    val df = Seq(("g", 3L, 1.0), ("g", 1L, 2.0)).toDF("g", "id", "score")
    val out = TopKAggregate.topKRows(df, Seq("g"),
        Seq((-col("score")).as("ns"), col("id").as("id")), Nil, k = 10)
      .select(col("id")).as[Long].collect().toSeq
    assert(out == Seq(1L, 3L)) // score desc: 2.0 first
  }

  test("payload fields ride along without influencing order") {
    val df = Seq(("g", 1L, 5.0, "pay1"), ("g", 2L, 7.0, "pay2"))
      .toDF("g", "id", "score", "tag")
    val out = TopKAggregate.topKRows(df, Seq("g"),
        Seq((-col("score")).as("ns"), col("id").as("id")),
        Seq(col("tag").as("tag")), k = 1)
      .select("id", "tag").as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "pay2")))
  }

  test("nulls in the packed value are skipped; all-null group yields no rows") {
    val df = Seq(("a", Some(1.0), 1L), ("a", None, 2L), ("b", None, 3L))
      .toDF("g", "score", "id")
      // null-out the whole struct when score is null so the aggregate skips it
      .withColumn("packed", when(col("score").isNotNull,
        struct((-col("score")).as("ns"), col("id").as("id"))))
    val out = df.groupBy("g")
      .agg(call_function("graft_top_k", col("packed"), lit(2)).as("t"))
      .select(col("g"), size(col("t")).as("n"))
      .as[(String, Int)].collect().toMap
    assert(out == Map("a" -> 1, "b" -> 0))
  }

  test("plan uses ObjectHashAggregate with a partial phase and no Window/Sort-all") {
    val df = (1 to 100).map(i => (s"g${i % 3}", i.toLong, i.toDouble))
      .toDF("g", "id", "score")
    val agg = TopKAggregate.topKRows(df, Seq("g"),
      Seq((-col("score")).as("ns"), col("id").as("id")), Nil, k = 3)
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.contains("Window"))
    // two ObjectHashAggregate nodes = partial (map-side heap) + final
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2)
  }
}
