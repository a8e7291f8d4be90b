package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI 2011) — the memory-compression
  * half of large-scale ANN serving: a `dim`-wide float vector becomes `m`
  * small integer codes (one per subspace), and query scoring becomes
  * table lookups instead of float math.
  *
  * Shapes:
  *  - ENCODE is a pure map: per subspace, an argmin fold over the
  *    codebook on that slice — the same `least(struct(d, c))` shape as
  *    [[Similarity.assignNearestCentroid]], m times on dim/m-wide slices.
  *    No join, no shuffle; at 100 TB the corpus streams through once and
  *    the output is m bytes-ish per row instead of 4·dim.
  *  - SEARCH is asymmetric distance (ADC): the query's per-subspace
  *    distance TABLE (m × ksub doubles) is built once on the driver and
  *    folded into the scan as a literal — score(row) = Σ_s
  *    table[s][code_s], one array lookup + add per subspace per row, then
  *    top-k as TakeOrderedAndProject. The corpus never shuffles and never
  *    touches the original floats.
  *
  * The codebook here is deterministic seeded Gaussian ([[pqCodebook]]) so
  * the DuckDB oracle can embed identical literals; a production build
  * trains each subspace book with [[Clustering.kmeans]] on the slice —
  * the encode/search shapes are unchanged. Approximation quality is the
  * PQ trade-off: qualify a (m, ksub) config with [[Similarity.recallAtK]]
  * like any ANN setup.
  */
object Quantization {

  /** Deterministic PQ codebook: m subspaces × ksub centroids × (dim/m)
    * values, seeded Gaussian (seed 7) — public so correctness oracles can
    * embed the identical literals. */
  def pqCodebook(dim: Int, m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    val rnd = new scala.util.Random(7)
    Array.fill(m, ksub, dim / m)(rnd.nextGaussian())
  }

  /** Append `codes ARRAY<INT>` (length m): per subspace, the index of the
    * nearest codebook centroid on that slice by squared L2, ties to the
    * lower index. Pure map-side fold. */
  def pqEncode(df: DataFrame, vecCol: String,
               cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length
    val subDim = cb(0)(0).length
    val codeExprs = cb.zipWithIndex.map { case (book, s) =>
      val cands = book.zipWithIndex.map { case (cent, c) =>
        val lits = cent.map(d => s"CAST('$d' AS DOUBLE)").mkString(",")
        s"struct(aggregate(zip_with(slice($vecCol, ${s * subDim + 1}, $subDim), " +
          s"array($lits), (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), " +
          s"0D, (a, v) -> a + v) AS d, $c AS c)"
      }.mkString(", ")
      s"least($cands).c"
    }
    df.withColumn("codes", expr(s"array(${codeExprs.mkString(",")})"))
  }

  /** The query's per-subspace squared-L2 distance table (m × ksub),
    * computed once on the driver — the only place the query's floats are
    * touched. Left-fold sum order, so a SQL replay agrees exactly. */
  def adcTable(query: Seq[Float], cb: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val subDim = cb(0)(0).length
    cb.zipWithIndex.map { case (book, s) =>
      book.map { cent =>
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val d = query(s * subDim + i).toDouble - cent(i)
          acc += d * d
          i += 1
        }
        acc
      }
    }
  }

  /** ADC top-k over a PQ-encoded corpus: `adc_dist` = Σ_s table[s][code_s]
    * via a literal table fold; ties by id. Returns input columns +
    * `adc_dist`, k rows. */
  /** Binary quantization: the sign bits (x > 0) of a ≤ 64-dim vector
    * packed into ONE long — 32× smaller than the float32 vector, and a
    * Hamming distance that is a single XOR + popcount. The aggressive
    * end of the quantization family (float → int8 q57 → PQ q124 →
    * 1 bit/dim here); the shortlist it produces must be re-ranked with
    * exact distances. Map-side fold over the row's own vector — no
    * shuffle, no join. */
  def binaryQuantize(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 64, "binary quantization packs into one long")
    df.withColumn("bq", expr(
      s"aggregate(sequence(0, ${dim - 1}), 0L, (acc, i) -> " +
        s"acc | IF(element_at($vecCol, i + 1) > 0D, shiftleft(1L, i), 0L))"))
  }

  /** Driver-side twin of [[binaryQuantize]] for the query vector. */
  def bqPack(v: Seq[Float]): Long =
    v.zipWithIndex.foldLeft(0L) { case (a, (x, i)) =>
      if (x > 0f) a | (1L << i) else a
    }

  /** Two-stage binary-quantized search: Hamming shortlist over the packed
    * bits (pure map-side XOR+popcount into a bounded TakeOrdered heap —
    * the corpus never shuffles), then exact cosine re-rank of the
    * shortlist. Ties break to the smaller id at both stages. */
  def bqSearch(corpus: DataFrame, idCol: String, vecCol: String,
               query: Seq[Float], k: Int, shortlistK: Int): DataFrame = {
    val qbq = bqPack(query)
    binaryQuantize(corpus, vecCol, query.length)
      .withColumn("hamming", expr(s"bit_count(bq ^ ${qbq}L)"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(shortlistK)
      .withColumn("distance",
        call_function("graft_cosine_distance", col(vecCol), typedLit(query)))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("hamming"), col("distance"))
  }

  def pqSearch(encoded: DataFrame, idCol: String, query: Seq[Float],
               cb: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = cb.length
    val table = adcTable(query, cb)
    val tableLit = table.map(row =>
        row.map(d => s"CAST('$d' AS DOUBLE)").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val adc = expr(
      s"""aggregate(sequence(0, ${m - 1}), 0D, (acc, s) ->
         |  acc + element_at(element_at($tableLit, s + 1),
         |    element_at(codes, s + 1) + 1))""".stripMargin)
    encoded.withColumn("adc_dist", adc)
      .orderBy(col("adc_dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Johnson–Lindenstrauss random projection: `k` Gaussian hyperplane
    * dot products per vector ([[Similarity.hyperplanePlanes]] seeds the
    * same literal planes the sign-LSH uses, so the oracle replays them).
    * Pure map — one left fold per output dim, no shuffle; at 100 TB this
    * is the 8×-compression pass that makes a pairwise audit or a coarse
    * index affordable before the full-dimension re-rank. */
  def jlProjectExpr(vecCol: String, dim: Int, k: Int): org.apache.spark.sql.Column = {
    val planes = Similarity.hyperplanePlanes(dim, k)
    val folds = planes.map { plane =>
      s"aggregate(zip_with($vecCol, array(${plane.mkString(",")}), " +
        "(x, y) -> cast(x as double) * y), 0D, (a, v) -> a + v)"
    }
    expr(s"array(${folds.mkString(", ")})")
  }

  /** JL distance-distortion audit over all pairs of a bounded probe set:
    * per pair, the true 'dim'-dimensional euclidean distance, the
    * projected distance rescaled by 1/sqrt(k), and their ratio — the
    * empirical (1±ε) the JL lemma promises. Both distances round to 6
    * before the ratio so the ratio is computed from identical doubles in
    * any engine. The probe set stays small (an audit, not a join); the
    * projection itself is the map-side operator above. */
  def jlDistortionPairs(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, k: Int): DataFrame = {
    val p = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"), jlProjectExpr(vecCol, dim, k).as("p"))
    val a = p.select(col("id").as("a"), col("v").as("va"), col("p").as("pa"))
    val b = p.select(col("id").as("b"), col("v").as("vb"), col("p").as("pb"))
    val dTrue = round(sqrt(expr(
      "aggregate(zip_with(va, vb, (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), " +
        "0D, (a, v) -> a + v)")), 6)
    val dProj = round(sqrt(expr(
      s"aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v) / $k")), 6)
    a.join(b, col("a") < col("b"))
      .withColumn("d_true", dTrue)
      .withColumn("d_proj", dProj)
      .withColumn("ratio",
        when(col("d_true") > 0, round(col("d_proj") / col("d_true"), 6)))
      .select("a", "b", "d_true", "d_proj", "ratio")
  }
}
