package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.plans.HashExpressions

class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = {
    val rnd = new scala.util.Random(11)
    val words = Seq("spark", "join", "merge", "batch", "window", "scan", "agg")
    (1 to 50).map { i =>
      (i.toLong, Seq.fill(5 + rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("id", "text")
  }

  test("native polynomial shingle hashes equal the declarative form on ASCII input") {
    val rows = df.select(
      array_sort(call_function("graft_shingle_polyhashes", col("text"), lit(5))).as("native"),
      array_sort(HofTwins.shingleHashes("text", 5)).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("graft_shingles equals the declarative array_distinct(transform(...)) form, order included") {
    val hof = (t: String, n: Int) =>
      when(length(col(t)) < n, array(col(t))).otherwise(array_distinct(expr(
        s"transform(sequence(0, length($t) - $n), i -> substring($t, i + 1, $n))")))
    val rows = df.select(
      call_function("graft_shingles", col("text"), lit(5)).as("native"),
      hof("text", 5).as("hofv")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // short (< n) and empty strings take the whole-string branch
    val edge = Seq("ab", "").toDF("text").select(
      call_function("graft_shingles", col("text"), lit(5)).as("native"),
      hof("text", 5).as("hofv")).collect()
    edge.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // non-ASCII text: substring windows are CHARACTER windows
    val uni = Seq("héllo wörld déjà vu", "åß∂ƒ©˙∆˚").toDF("text").select(
      call_function("graft_shingles", col("text"), lit(5)).as("native"),
      hof("text", 5).as("hofv")).collect()
    uni.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("graft_word_ngrams equals the tokens + transform(sequence) form, order and dupes included") {
    val hof = (t: String, n: Int) => expr(
      s"CASE WHEN size(filter(split($t, '\\\\s+'), x -> x != '')) >= $n THEN " +
        s"transform(sequence(1, size(filter(split($t, '\\\\s+'), x -> x != '')) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice(filter(split($t, '\\\\s+'), x -> x != ''), i, $n))) " +
        "ELSE cast(array() as array<string>) END")
    for (n <- Seq(1, 2, 3)) {
      val rows = df.select(
        call_function("graft_word_ngrams", col("text"), lit(n)).as("native"),
        hof("text", n).as("hofv")).collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
    val edge = Seq("", "  ", "one", " a  b\tc \n d ").toDF("text").select(
      call_function("graft_word_ngrams", col("text"), lit(2)).as("native"),
      hof("text", 2).as("hofv")).collect()
    edge.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("native minhash signature equals the declarative form") {
    val rows = df.select(
      call_function("graft_minhash_sig",
        call_function("graft_shingle_polyhashes", col("text"), lit(5)), lit(64)).as("native"),
      HofTwins.minhashSignature("text", 5, 64).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("native simhash over polynomial token hashes equals the declarative form") {
    val rows = df.select(
      call_function("graft_simhash64",
        call_function("graft_token_polyhashes", col("text"))).as("native"),
      HofTwins.simhash("text").as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("polynomial hash matches the hand-computed rolling fold") {
    // polyhash("ab") = (97 * 1000003 + 98) mod (2^31-1)
    val h = Seq("ab").toDF("text")
      .select(call_function("graft_shingle_polyhashes", col("text"), lit(5)))
      .head().getSeq[Long](0)
    assert(h == Seq(97L * HashExpressions.PolyBase1 + 98L))
  }

  test("short text (< n) hashes the whole string, like the declarative branch") {
    val rows = Seq("ab").toDF("text").select(
      call_function("graft_shingle_polyhashes", col("text"), lit(5)).as("native"),
      HofTwins.shingleHashes("text", 5).as("hof")).head()
    assert(rows.getSeq[Long](0) == rows.getSeq[Long](1))
    assert(rows.getSeq[Long](0).length == 1)
  }

  test("62-bit token hashes: bits 62-63 clear; whitespace runs skipped") {
    val n = Seq("  a  b \t c ").toDF("text")
      .select(call_function("graft_token_polyhashes", col("text"))).head().getSeq[Long](0)
    assert(n.length == 3)
    assert(n.forall(h => h >= 0 && (h >> 62) == 0))
  }

  test("gram window hashes equal the HOF fold over reduced token hashes") {
    // declarative twin of gramPolyEval: tokens → two-poly hash mod p →
    // per-window fold — the same arithmetic the DuckDB oracle replays
    val p = HashExpressions.P2n31
    val b2 = HashExpressions.PolyBase2
    val n = 3
    val hof = expr(
      s"""transform(sequence(0, size(_th) - $n),
         |  i -> aggregate(slice(_th, i + 1, $n), 0L,
         |    (a, c) -> (a * ${b2}L + c % ${p}L) % ${p}L))""".stripMargin)
    val rows = df
      .withColumn("_th", call_function("graft_token_polyhashes", col("text")))
      .filter(size(col("_th")) >= n)
      .select(call_function("graft_gram_polyhashes", col("text"), lit(n)).as("native"),
        hof.as("hof")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("gram window hashes keep positions: repeated window repeats its hash") {
    val g = Seq(("x y x y", 1)).toDF("text", "i")
      .select(call_function("graft_gram_polyhashes", col("text"), lit(2)))
      .head().getSeq[Long](0)
    assert(g.length == 3 && g(0) == g(2) && g(0) != g(1))
    val short = Seq(("one two", 1)).toDF("text", "i")
      .select(call_function("graft_gram_polyhashes", col("text"), lit(3)))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  /** Native vs HOF on `edge`, both interpreted (a projection over a local
    * relation is folded on the driver) and code-generated (after an
    * exchange). */
  private def parity(edge: DataFrame, native: Column, hof: Column)(
      check: Row => Unit): Unit =
    for (src <- Seq(edge, edge.repartition(2)))
      src.select(native, hof).collect().foreach(check)

  test("graft_band_hashes equals the transform(sequence)/aggregate(slice) band fold") {
    for (bands <- Seq(8, 16)) {
      val rows = bands match { case b => 64 / b }
      val hof = expr(s"transform(sequence(0, ${bands - 1}), b -> " +
        s"aggregate(slice(_sig, b * $rows + 1, $rows), 0L, " +
        s"(acc, v) -> (acc * 1000003L + v) % 2147483647L))")
      val got = df
        .withColumn("_sig", call_function("graft_minhash_sig",
          call_function("graft_shingle_polyhashes", col("text"), lit(5)), lit(64)))
        .select(call_function("graft_band_hashes", col("_sig"), lit(bands)).as("native"),
          hof.as("hof")).collect()
      got.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"bands=$bands"))
    }
    // a null element nulls its band (as it nulls that band's fold); an
    // empty signature folds every band to 0
    val hof = expr("transform(sequence(0, 3), b -> aggregate(slice(_sig, b * 2 + 1, 2), " +
      "0L, (acc, v) -> (acc * 1000003L + v) % 2147483647L))")
    val edge = Seq(Seq(Some(5L), None, Some(7L), Some(9L), None, None, Some(1L), Some(2L)),
      Seq.empty[Option[Long]]).toDF("_sig")
    parity(edge, call_function("graft_band_hashes", col("_sig"), lit(4)), hof) { r =>
      assert(r.getSeq[java.lang.Long](0) == r.getSeq[java.lang.Long](1))
    }
    val banded = edge.select(call_function("graft_band_hashes", col("_sig"), lit(4)))
      .collect().map(_.getSeq[java.lang.Long](0))
    assert(banded(0).map(_ != null) == Seq(false, true, false, true))
    assert(banded(1) == Seq(0L, 0L, 0L, 0L))
  }

  test("graft_sig_agree equals size(filter(zip_with(...))) position agreement") {
    val pairs = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.id") < col("b.id")).limit(200)
      .select(
        call_function("graft_minhash_sig",
          call_function("graft_shingle_polyhashes", col("a.text"), lit(5)), lit(64)).as("sa"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_polyhashes", col("b.text"), lit(5)), lit(64)).as("sb"))
    val got = pairs.select(
      call_function("graft_sig_agree", col("sa"), col("sb")).as("native"),
      expr("size(filter(zip_with(sa, sb, (p, q) -> p = q), v -> v))").as("hof")).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // a signature always fully agrees with itself
    val self = df.select(call_function("graft_sig_agree",
      call_function("graft_minhash_sig",
        call_function("graft_shingle_polyhashes", col("text"), lit(5)), lit(64)),
      call_function("graft_minhash_sig",
        call_function("graft_shingle_polyhashes", col("text"), lit(5)), lit(64)))).collect()
    self.foreach(r => assert(r.getInt(0) == 64))
    // null positions never agree (p = q is null, the filter drops it);
    // empty arrays agree nowhere
    val edge = Seq(
      (Seq(Some(1L), None, Some(3L), None), Seq(Some(1L), None, Some(4L), Some(5L))),
      (Seq.empty[Option[Long]], Seq.empty[Option[Long]])).toDF("sa", "sb")
    parity(edge, call_function("graft_sig_agree", col("sa"), col("sb")),
      expr("size(filter(zip_with(sa, sb, (p, q) -> p = q), v -> v))")) { r =>
      assert(r.getInt(0) == r.getInt(1))
    }
    assert(edge.select(call_function("graft_sig_agree", col("sa"), col("sb")))
      .collect().map(_.getInt(0)).toSeq == Seq(1, 0))
  }

  private def ewmaHof = expr(
    """aggregate(
      |  zip_with(_hist, sequence(1, _L),
      |    (v, i) -> CAST(v / CAST(shiftleft(1L, _L - i + 1) AS DOUBLE)
      |                   AS DECIMAL(38,18))),
      |  CAST(0 AS DECIMAL(38,18)),
      |  (a, x) -> CAST(a + x AS DECIMAL(38,18)))""".stripMargin)

  test("graft_ewma_wsum equals the aggregate(zip_with(...)) decimal fold bit-for-bit") {
    val rnd = new scala.util.Random(13)
    val arrs = (1 to 60).map { _ =>
      Tuple1((1 to (1 + rnd.nextInt(16))).map(_ =>
        (rnd.nextDouble() - 0.5) * 2000.0).toArray)
    }
    val adf = arrs.toDF("_hist").withColumn("_L", size(col("_hist")))
    val rows = adf.select(
      call_function("graft_ewma_wsum", col("_hist")).as("native"),
      ewmaHof.as("hof")).collect()
    rows.foreach(r => assert(r.getDecimal(0) == r.getDecimal(1)))
    // a null element nulls the fold, and so does an empty history
    // (sequence(1, 0) is [1, 0]: the fold adds two null terms) and a NaN
    // or infinite element (its CAST to decimal is null)
    val edge = Seq(Seq(Some(1.0), None, Some(2.0)), Seq.empty[Option[Double]],
      Seq(Some(1.0), Some(Double.NaN)), Seq(Some(Double.NegativeInfinity)))
      .toDF("_hist").withColumn("_L", size(col("_hist")))
    parity(edge, call_function("graft_ewma_wsum", col("_hist")), ewmaHof) { r =>
      assert(r.isNullAt(0) && r.isNullAt(1))
    }
  }

  test("xxhash64-based shingle/token exprs stay available and consistent") {
    val rows = df.select(
      call_function("graft_shingle_hashes", col("text"), lit(5)).as("sh"),
      call_function("graft_token_hashes", col("text")).as("th")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0).nonEmpty)
      assert(r.getSeq[Long](1).nonEmpty)
    }
  }
}
