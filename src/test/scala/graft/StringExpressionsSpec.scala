package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.StringExpressions

class StringExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def dice(a: String, b: String): Double =
    StringExpressions.bigramDice(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("bigramDice: textbook values, multiset semantics, degenerate inputs") {
    // night/nacht share only 'ht': 2·1/(4+4)
    assert(dice("night", "nacht") == 0.25)
    assert(dice("abc", "abc") == 1.0)
    // multiset, not set: 'aaa' has TWO 'aa' bigrams, 'aa' has one
    assert(dice("aaa", "aa") == 2.0 * 1 / 3)
    assert(dice("a", "abc") == 0.0) // no bigrams on the left
    assert(dice("", "") == 0.0)     // 0/0 defined as 0
    // symmetry
    assert(dice("widget", "wdget") == dice("wdget", "widget"))
  }

  test("registered SQL function matches the static method (codegen path)") {
    val pairs = Seq(("night", "nacht"), ("widget", "wdget"),
      ("stream", "spark"), ("aaa", "aa"))
    val got = pairs.toDF("a", "b")
      .select(call_function("graft_bigram_dice", col("a"), col("b")))
      .as[Double].collect()
    pairs.zip(got).foreach { case ((a, b), v) => assert(v == dice(a, b)) }
  }

  test("jaroWinkler: textbook values, boost threshold, codegen parity with eval") {
    import graft.plans.StringExpressions.jaroWinkler
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    def jw(a: String, b: String) = jaroWinkler(u(a), u(b))
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DWAYNE", "DUANE") - 0.84) < 1e-12)
    // below Winkler's 0.7 threshold the prefix boost must NOT apply
    assert(math.abs(jw("WINDOW", "WODNIW") - 0.6944444444444443) < 1e-12)
    assert(jw("abc", "abc") == 1.0 && jw("", "abc") == 0.0 && jw("", "") == 1.0)
    assert(jw("abc", "xyz") == 0.0)
    // registered expression evaluates identically inside a plan
    val out = Seq(("MARTHA", "MARHTA"), ("WINDOW", "WODNIW"))
      .toDF("a", "b")
      .selectExpr("graft_jaro_winkler(a, b) AS jw")
      .collect().map(_.getDouble(0)).toSeq
    assert(math.abs(out.head - 0.9611111111111111) < 1e-12)
    assert(math.abs(out(1) - 0.6944444444444443) < 1e-12)
  }
}
