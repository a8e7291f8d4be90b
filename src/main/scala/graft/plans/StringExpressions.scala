package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd string-similarity expressions.
  *
  * The portable reference semantics for character-n-gram similarity live
  * in SQL as explode-bigrams → per-gram min-count → ratio (that is also
  * exactly how the DuckDB oracle replays them). That form pays a
  * generator, a shuffle and an aggregation PER PAIR; this expression
  * computes the same number in one tight fused-loop pass per row — the
  * shape a 100 TB typo-join needs (candidate pairs arrive from a
  * blocking join; the verifier must be a scalar, not a sub-pipeline).
  *
  * Similarity definition (Dice over character-bigram multisets):
  * `2·Σ_g min(cntA(g), cntB(g)) / (|A|−1 + |B|−1)` on UTF-16 code units;
  * inputs with fewer than 2 units contribute 0 bigrams, and a 0+0
  * denominator yields 0.0. The division is the single double op — the
  * counts are exact integers — so the SQL replay matches bit-for-bit.
  *
  * Reference-behavior anchor: the reference's fuzzy matching is
  * delegated to its vector store's text search
  * (src/server/app/embed/vector_store.py keyword path); this is the
  * engine-native equivalent for name/word-level matching.
  */
object StringExpressions {

  /** Dice over bigram multisets; O(m·n) greedy matching with a marks
    * array — strings here are words/names, not documents. */
  def bigramDice(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString; val t = b.toString
    val m = math.max(s.length - 1, 0); val n = math.max(t.length - 1, 0)
    if (m + n == 0) return 0.0
    var inter = 0
    val used = new Array[Boolean](n)
    var i = 0
    while (i < m) {
      var j = 0
      var done = false
      while (j < n && !done) {
        if (!used(j) && s.charAt(i) == t.charAt(j) &&
            s.charAt(i + 1) == t.charAt(j + 1)) {
          used(j) = true; inter += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    2.0 * inter / (m + n)
  }

  /** bigram_dice(a, b) — whole-stage-codegen scalar: the generated code
    * calls the static matcher directly (the levenshtein pattern), so the
    * pair verifier stays inside the fused loop with zero row overhead. */
  case class BigramDiceExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "graft_bigram_dice"
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two STRING arguments, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    override protected def nullSafeEval(a: Any, b: Any): Any =
      bigramDice(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.plans.StringExpressions.bigramDice($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Textbook Jaro-Winkler similarity (Winkler 1990): Jaro's match count
    * within the ⌊max(l1,l2)/2⌋−1 window, transpositions = half the
    * out-of-order matched positions, then the ≤4-char common-prefix
    * boost at p = 0.1 — the record-linkage comparator of the
    * Fellegi-Sunter tradition (q492's agreement patterns want exactly
    * this as their name-field generator). All counts are exact integers;
    * the combination is a fixed double expression, and DuckDB's
    * jaro_winkler_similarity implements the same definition, so a
    * round-6 display gate replays across engines. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s = a.toString; val t = b.toString
    val l1 = s.length; val l2 = t.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val sM = new Array[Boolean](l1); val tM = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(i + window, l2 - 1)
      var j = math.max(0, i - window)
      var done = false
      while (j <= hi && !done) {
        if (!tM(j) && s.charAt(i) == t.charAt(j)) {
          sM(i) = true; tM(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var k = 0; var mismatched = 0
    i = 0
    while (i < l1) {
      if (sM(i)) {
        while (!tM(k)) k += 1
        if (s.charAt(i) != t.charAt(k)) mismatched += 1
        k += 1
      }
      i += 1
    }
    val t2 = mismatched / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - t2).toDouble / m) / 3.0
    // Winkler's boost threshold: the prefix bonus applies only when the
    // Jaro score already clears 0.7 (the 1990 paper's rule; DuckDB's
    // jaro_winkler_similarity implements the same cut)
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (prefix < maxP && s.charAt(prefix) == t.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  /** jaro_winkler(a, b) — same codegen shape as [[BigramDiceExpr]]. */
  case class JaroWinklerExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "graft_jaro_winkler"
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two STRING arguments, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    override protected def nullSafeEval(a: Any, b: Any): Any =
      jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.plans.StringExpressions.jaroWinkler($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_bigram_dice" -> (args => BigramDiceExpr(args(0), args(1))),
    "graft_jaro_winkler" -> (args => JaroWinklerExpr(args(0), args(1))))
}
