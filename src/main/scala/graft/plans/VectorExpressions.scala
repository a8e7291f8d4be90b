package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSessionExtensions, SparkSessionExtensionsProvider}

/** Native codegen'd vector-distance expressions over `ARRAY<FLOAT>`.
  *
  * The portable reference semantics live in
  * [[graft.functions.VectorFunctions]] as `zip_with`/`aggregate`
  * compositions; those higher-order expressions are CodegenFallback in
  * Spark — every element crosses an interpreted lambda. These expressions
  * generate a tight primitive loop instead (one pass, no allocation), which
  * is what the 100 TB hot path needs. Accumulation order and formulas are
  * IDENTICAL to the HOF forms (sequential left-to-right double adds), and
  * a length mismatch or a null element gives null in both, so swapping
  * one form for the other changes no result bit — except a cosine
  * distance over arrays of different lengths where one side has zero
  * norm (see [[CosineDistanceExpr]]).
  *
  * Distance semantics mirror the reference's strategies
  * (reference: src/server/app/embed/schemas.py:12;
  * mcp/tools/vs_retriever.py:267-274).
  */
object VectorExpressions {

  /** A pair of `ARRAY<FLOAT>` folded left to right in double precision.
    * Null on a length mismatch or a null element, as the `zip_with` twin
    * is (it pads the shorter side with nulls, and a null term nulls the
    * fold). The null-element test is decided at codegen time from the
    * input types' `containsNull`: a non-null embedding column pays no
    * per-element check. */
  abstract class FloatVecBinary extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(t: DataType) = t match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
      if (ok(left.dataType) && ok(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
    }

    private lazy val elementNulls = Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })

    /** The fold over `n` element pairs, neither array holding a null. */
    protected def fold(x: ArrayData, y: ArrayData, n: Int): Double
    /** Java for the fold: accumulator declarations, the step over locals
      * `x` and `y`, and the statements that assign the result to `value`. */
    protected def genFold(ctx: CodegenContext, value: String): (String, String, String)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      def hasNull = (0 until n).exists(i => x.isNullAt(i) || y.isNullAt(i))
      if (n != y.numElements() || (elementNulls && hasNull)) null
      else fold(x, y, n)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val (declare, step, finish) = genFold(ctx, ev.value)
        val nullCheck =
          if (!elementNulls) ""
          else s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  $declare
           |  for (int $i = 0; $i < $n; $i++) {
           |    $nullCheck
           |    double x = (double) $a.getFloat($i);
           |    double y = (double) $b.getFloat($i);
           |    $step
           |  }
           |  $finish
           |}
         """.stripMargin
      })
  }

  /** dot(a, b) — sequential double accumulation. */
  case class DotProductExpr(left: Expression, right: Expression) extends FloatVecBinary {
    override def prettyName: String = "graft_dot_product"
    override protected def fold(x: ArrayData, y: ArrayData, n: Int): Double = {
      var dot = 0.0; var i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      dot
    }
    override protected def genFold(ctx: CodegenContext, value: String) = {
      val acc = ctx.freshName("acc")
      (s"double $acc = 0.0;", s"$acc += x * y;", s"$value = $acc;")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cosine distance 1 - cos(a,b); zero-norm input → distance 1 (cos 0),
    * matching VectorFunctions.cosineSimilarity's zero guard. Denominator is
    * sqrt(na)*sqrt(nb) — same association as the HOF form. The twin
    * takes each norm over its own array, so on a length mismatch with a
    * zero-norm side it returns 1 where this returns null. */
  case class CosineDistanceExpr(left: Expression, right: Expression) extends FloatVecBinary {
    override def prettyName: String = "graft_cosine_distance"
    override protected def fold(x: ArrayData, y: ArrayData, n: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 1.0 else 1.0 - dot / denom
    }
    override protected def genFold(ctx: CodegenContext, value: String) = {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val den = ctx.freshName("den")
      (s"double $dot = 0.0; double $na = 0.0; double $nb = 0.0;",
        s"$dot += x * y; $na += x * x; $nb += y * y;",
        s"""double $den = Math.sqrt($na) * Math.sqrt($nb);
           |$value = ($den == 0.0) ? 1.0 : 1.0 - $dot / $den;""".stripMargin)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Euclidean distance ||a-b||. */
  case class L2DistanceExpr(left: Expression, right: Expression) extends FloatVecBinary {
    override def prettyName: String = "graft_l2_distance"
    override protected def fold(x: ArrayData, y: ArrayData, n: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < n) {
        val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
        acc += d * d; i += 1
      }
      math.sqrt(acc)
    }
    override protected def genFold(ctx: CodegenContext, value: String) = {
      val acc = ctx.freshName("acc")
      (s"double $acc = 0.0;", s"double d = x - y; $acc += d * d;",
        s"$value = Math.sqrt($acc);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** argmin over a CONSTANT codebook: struct(d, cid) of the L2-nearest
    * centroid, ties to the smaller cid (centroids are sorted by cid at
    * construction and the loop keeps the first strict minimum — exactly
    * `least(struct(l2, cid), ...)`'s lexicographic pick). The codebook
    * rides as two reference objects, so the generated code is ONE tight
    * loop regardless of codebook size — the r10 probe measured the old
    * 64-arm `least` fold blowing whole-stage codegen past its method
    * limit, which dropped the ENTIRE join stage of any downstream pair
    * expansion to interpreted eval (knnGraph on a lazily-assigned frame:
    * 40 s for 4M pairs at 64 cells vs 0.6 s once codegen survives).
    * Numerics are bit-identical to the fold arms (double diffs,
    * sequential adds, one sqrt — the graft_l2_distance loop verbatim).
    *
    * The codebook is held as `Seq`s so two instances built from the same
    * collected codebook compare structurally equal — `semanticEquals`,
    * subexpression elimination and exchange reuse all key off case-class
    * equality, and `Array` fields would make that reference-based. The
    * first loop iteration always assigns, so a degenerate input (all-NaN
    * vector: every `d < bestD` false) still lands on the smallest REAL
    * centroid id — the same pick the `least(struct)` fold makes under
    * Spark's NaN-greatest struct ordering. The builder rejects empty
    * codebooks. */
  case class NearestCentroidExpr(child: Expression, cids: Seq[Int],
                                 cvs: Seq[Seq[Float]])
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    require(cids.nonEmpty && cids.length == cvs.length,
      s"$prettyName: codebook must be non-empty with matching cid/vector counts")
    @transient private lazy val cidArr: Array[Int] = cids.toArray
    @transient private lazy val cvArr: Array[Array[Float]] = cvs.map(_.toArray).toArray
    override def prettyName: String = "graft_nearest_centroid"
    override def dataType: DataType = StructType(Seq(
      StructField("d", DoubleType, nullable = false),
      StructField("cid", IntegerType, nullable = false)))
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires ARRAY<FLOAT>, got ${other.simpleString}")
      }
    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      var bestD = Double.PositiveInfinity; var bestC = 0
      var c = 0
      while (c < cvArr.length) {
        val cv = cvArr(c)
        val n = math.min(x.numElements(), cv.length)
        var acc = 0.0; var i = 0
        while (i < n) {
          val df = x.getFloat(i).toDouble - cv(i).toDouble
          acc += df * df; i += 1
        }
        val d = math.sqrt(acc)
        if (c == 0 || d < bestD) { bestD = d; bestC = cidArr(c) }
        c += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bestD, bestC))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val cvsRef = ctx.addReferenceObj("cvs", cvArr, "float[][]")
        val cidsRef = ctx.addReferenceObj("cids", cidArr, "int[]")
        val c = ctx.freshName("c"); val i = ctx.freshName("i")
        val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
        val d = ctx.freshName("d"); val cv = ctx.freshName("cv")
        val bestD = ctx.freshName("bestD"); val bestC = ctx.freshName("bestC")
        val df = ctx.freshName("df")
        s"""
           |double $bestD = Double.POSITIVE_INFINITY; int $bestC = 0;
           |for (int $c = 0; $c < $cvsRef.length; $c++) {
           |  float[] $cv = $cvsRef[$c];
           |  int $n = Math.min($a.numElements(), $cv.length);
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $df = ((double) $a.getFloat($i)) - ((double) $cv[$i]);
           |    $acc += $df * $df;
           |  }
           |  double $d = Math.sqrt($acc);
           |  if ($c == 0 || $d < $bestD) { $bestD = $d; $bestC = $cidsRef[$c]; }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.expressions
           |  .GenericInternalRow(new Object[]{$bestD, $bestC});
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Name → builder for the vector-math functions, injected into every
    * session by [[GraftExtensions]].
    * `graft_nearest_centroid(vec, cids, cvs)` requires FOLDABLE codebook
    * arguments — the codebook is a plan constant by design. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot_product" -> (args => DotProductExpr(args(0), args(1))),
    "graft_cosine_distance" -> (args => CosineDistanceExpr(args(0), args(1))),
    "graft_l2_distance" -> (args => L2DistanceExpr(args(0), args(1))),
    "graft_nearest_centroid" -> (args => {
      require(args.length == 3 && args(1).foldable && args(2).foldable,
        "graft_nearest_centroid(vec, cids, cvs): codebook args must be literals")
      val cids = args(1).eval().asInstanceOf[ArrayData].toIntArray().toSeq
      val cvsData = args(2).eval().asInstanceOf[ArrayData]
      val cvs = Seq.tabulate(cvsData.numElements())(i =>
        cvsData.getArray(i).toFloatArray().toSeq)
      NearestCentroidExpr(args(0), cids, cvs)
    }))
}

/** The one registration point of the 24 `graft_*` functions (vector
  * math, hash/LSH family, top-k aggregate, string similarity). Named in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` injects the functions into every session
  * built with this library on its classpath, and into each
  * `newSession()` of it; no call site registers anything.
  * `spark.sql.extensions=graft.plans.GraftExtensions` names it explicitly
  * for a classpath without the service file. */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit =
    (VectorExpressions.builders ++ HashExpressions.builders ++
        TopKAggregate.builders ++ StringExpressions.builders).foreach {
      case (name, builder) =>
        ext.injectFunction((
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          builder))
    }
}
