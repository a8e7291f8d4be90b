package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.plans.VectorExpressions

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = {
    val rnd = new scala.util.Random(7)
    (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1), Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
  }

  private val allBuilders = VectorExpressions.builders ++
    graft.plans.HashExpressions.builders ++ graft.plans.TopKAggregate.builders ++
    graft.plans.StringExpressions.builders

  test("every graft_* function resolves in a new session with no register call") {
    val fresh = spark.newSession()
    val missing = allBuilders.map(_._1).filterNot(name => fresh.catalog.functionExists(name))
    assert(missing.isEmpty, s"not in newSession()'s function registry: $missing")
  }

  test("ServiceLoader finds GraftExtensions as a SparkSessionExtensionsProvider") {
    import scala.jdk.CollectionConverters._
    val providers = java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.SparkSessionExtensionsProvider])
      .iterator().asScala.toSeq
    assert(providers.exists(_.isInstanceOf[graft.plans.GraftExtensions]),
      providers.map(_.getClass.getName))
  }

  test("graft_* columns built on a thread with no active session resolve when used") {
    import org.apache.spark.sql.{Column, SparkSession}
    var built: Option[(Option[SparkSession], Column, Column)] = None
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      built = Some((SparkSession.getActiveSession,
        graft.operators.Dedup.shingleExpr("text", 3),
        graft.operators.TextQuality.tokenLinesFromText(col("text"), 2)))
    })
    t.start(); t.join()
    val (active, shingles, lines) = built.get
    assert(active.isEmpty)
    val fresh = spark.newSession()
    val row = fresh.createDataFrame(Seq(Tuple1("abcab d e f")))
      .toDF("text").select(shingles, lines).head()
    assert(row.getSeq[String](0) == Seq("abc", "bca", "cab", "ab ", "b d", " d ",
      "d e", " e ", "e f"))
    assert(row.getSeq[String](1) == Seq("abcab d", "e f"))
  }

  test("native codegen results are bit-identical to the HOF reference forms") {
    val rows = df.select(
      call_function("graft_dot_product", col("a"), col("b")).as("n_dot"),
      dotProduct(col("a"), col("b")).as("h_dot"),
      call_function("graft_cosine_distance", col("a"), col("b")).as("n_cos"),
      cosineDistance(col("a"), col("b")).as("h_cos"),
      call_function("graft_l2_distance", col("a"), col("b")).as("n_l2"),
      l2Distance(col("a"), col("b")).as("h_l2")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "dot mismatch")
      assert(r.getDouble(2) == r.getDouble(3), "cosine mismatch")
      assert(r.getDouble(4) == r.getDouble(5), "l2 mismatch")
    }
  }

  test("a length mismatch or a null element gives null, as in the HOF twins " +
      "(interpreted and code-generated)") {
    val rows = Seq(
      (Seq(Some(1f), Some(2f), Some(3f)), Seq(Some(1f), Some(1f))),
      (Seq(Some(1f), None, Some(3f)), Seq(Some(1f), Some(1f), Some(1f))),
      (Seq(Some(1f), Some(2f), Some(3f)), Seq(Some(1f), Some(1f), Some(1f))))
      .toDF("a", "b")
    val pairs = Seq(
      "graft_dot_product" -> dotProduct(col("a"), col("b")),
      "graft_cosine_distance" -> cosineDistance(col("a"), col("b")),
      "graft_l2_distance" -> l2Distance(col("a"), col("b")))
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(conf.getOption)
    for ((wholeStage, factory) <- Seq("false" -> "NO_CODEGEN", "true" -> "CODEGEN_ONLY")) {
      conf.set(keys(0), wholeStage)
      conf.set(keys(1), factory)
      try {
        // after an exchange, so the projection is not folded into a local relation
        val got = rows.repartition(1).select(pairs.flatMap { case (name, twin) =>
          Seq(call_function(name, col("a"), col("b")), twin) }: _*).collect()
        def value(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
          if (r.isNullAt(i)) None else Some(r.getDouble(i))
        for ((r, row) <- got.zipWithIndex; ((name, _), i) <- pairs.zipWithIndex)
          assert(value(r, 2 * i) == value(r, 2 * i + 1), s"$name row $row ($factory)")
        assert(got.take(2).forall(r => (0 until 6).forall(r.isNullAt)), factory)
        assert(value(got(2), 0).contains(6.0) &&
          value(got(2), 4).contains(math.sqrt(5.0)), factory)
      } finally keys.zip(before).foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  test("zero-norm vector → cosine distance 1 (cos treated as 0), no NaN") {
    val out = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      .select(call_function("graft_cosine_distance", col("a"), col("b")))
      .head().getDouble(0)
    assert(out == 1.0)
  }

  test("null input → null output") {
    val out = Seq((Option.empty[Seq[Float]], Seq(1.0f))).toDF("a", "b")
      .select(call_function("graft_dot_product", col("a"), col("b"))).head()
    assert(out.isNullAt(0))
  }

  test("functions are SQL-visible after registration") {
    val v = spark.sql("SELECT graft_dot_product(array(cast(1.0 as float), cast(2.0 as float)), " +
      "array(cast(3.0 as float), cast(4.0 as float))) AS d").head().getDouble(0)
    assert(v == 11.0)
  }

  test("extensions plugin injects the full function surface (vector + hash families)") {
    new graft.plans.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // the plugin injects one builder list per family; pin its breadth here
    val names = allBuilders.map(_._1)
    assert(names.size == names.distinct.size)
    assert(names.toSet.contains("graft_cosine_distance")
      && names.toSet.contains("graft_minhash_sig")
      && names.size >= 12)
  }
}
