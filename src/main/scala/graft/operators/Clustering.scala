package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's algorithm) — the IVF coarse-quantizer
  * BUILD step the reference delegates to its database's index build
  * (reference: src/server/app/embed/vector_store.py:266-271). Completes
  * the ANN lifecycle here: build (this) → assign → store partitioned by
  * cell ([[graft.store.AnnStore]]) → probe → refine → recall gate.
  *
  * Scale shape per iteration:
  *  - assignment is the SAME zero-join argmin fold as
  *    [[Similarity.assignNearestCentroid]]'s large-nlist path — the
  *    centroid array rides the plan as one folded literal, the corpus
  *    streams through whole-stage codegen, nothing joins or shuffles;
  *  - the new means are ONE hash aggregate on (cluster, dim) — partial
  *    map-side combine, k·dim result rows;
  *  - only the k·dim centroid doubles visit the driver between rounds.
  *
  * Determinism / oracle parity: the caller supplies the seed centroids
  * (no RNG); per-dim means accumulate in exact decimal then divide once
  * in double, so the result is partition-order-independent and a SQL
  * engine replays it bit-for-bit. Ties in assignment break to the
  * smallest cluster id. A cluster that captures no rows keeps its
  * previous centroid for the next round (it simply has no mean rows —
  * callers replaying in SQL should seed from in-distribution points so
  * the case never triggers).
  */
object Clustering {

  /** Run `iters` Lloyd rounds from `init` (cid → centroid, double
    * precision) and return the FINAL round's per-dimension means as
    * (cid INT, dim INT, mean DOUBLE) — `k × dim` rows, the coarse
    * codebook an IVF layout partitions by. */
  def kmeans(corpus: DataFrame, vecCol: String,
             init: Seq[(Int, Seq[Double])], iters: Int): DataFrame = {
    require(iters >= 1, "kmeans needs at least one iteration")
    require(init.nonEmpty, "kmeans needs seed centroids")
    var cents: Seq[(Int, Seq[Double])] = init.sortBy(_._1)
    var means: DataFrame = null
    for (_ <- 1 to iters) {
      // string round-trip keeps the exact double bits across the parser;
      // transform → array_min evaluates each distance ONCE (HOF lambdas
      // get no CSE — an aggregate-with-if fold would compute every
      // distance twice), ties lexicographic to the smaller cid
      val arr = cents.map { case (cid, cv) =>
        val lits = cv.map(d => s"CAST('$d' AS DOUBLE)").mkString(",")
        s"struct(CAST($cid AS INT) AS cid, array($lits) AS cv)"
      }.mkString("array(", ",", ")")
      val sqDist = s"aggregate(zip_with($vecCol, c.cv, " +
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0D, (a, v) -> a + v)"
      val best = expr(
        s"array_min(transform($arr, c -> struct($sqDist AS d, c.cid AS cid)))")
      means = corpus
        .withColumn("cid", best.getField("cid"))
        .select(col("cid"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
        .groupBy("cid", "dim")
        .agg((sum(col("v").cast("decimal(27,15)")).cast("double") /
          count(lit(1))).as("mean"))
      // one corpus pass per round: the collected rows both update the
      // centroids AND back the returned frame (a lazy `means` would make
      // the caller's action re-run the whole final round)
      val rows = means.collect()
      val byCid = rows
        .groupBy(_.getInt(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (cid, old) => (cid, byCid.getOrElse(cid, old)) }
      means = corpus.sparkSession.createDataFrame(
        corpus.sparkSession.sparkContext.parallelize(rows.toSeq, 1), means.schema)
    }
    means
  }

  /** Codebook quality (the elbow-curve input): per-cell point count and
    * inertia (Σ squared distance to the assigned centroid) with a rollup
    * total row (`cellCol` NULL). One hash aggregate over the map-side
    * assignment — squaring the distance is one exact double multiply,
    * and the sum accumulates in decimal so it is order-independent and
    * oracle-replayable (NOTES parity rules). */
  def clusterQuality(assigned: DataFrame, cellCol: String,
                     distCol: String): DataFrame =
    assigned.rollup(col(cellCol))
      .agg(count(lit(1)).as("n_points"),
        sum((col(distCol) * col(distCol)).cast("decimal(30,12)"))
          .cast("double").as("inertia"))

  /** Greedy k-center (farthest-point / Gonzalez 1985) selection of `k`
    * maximally-diverse representatives under cosine distance — the
    * coreset / diversity-sampling primitive (pick the prompts to
    * human-review, seed centroids far apart, cover the embedding space
    * with k exemplars; 2-approximation to the optimal k-center cover).
    *
    * Deterministic: seeds at the minimum id, each round picks the point
    * FARTHEST from the chosen set (ties to the smallest id). Like
    * [[Similarity.mmrDistributed]], the corpus stays a cached
    * distributed frame; each of the k−1 rounds is one argmax job whose
    * chosen-set rides the closure as ≤ k vector literals — O(k·dim)
    * driver memory, never a corpus collect. Returns (sel_rank, id,
    * dist) where dist is the distance from the picked point to the
    * previously-chosen set (0.0 for the seed) — the decreasing sequence
    * whose last value is the achieved covering radius. */
  def kCenterGreedy(corpus: DataFrame, vecCol: String, idCol: String,
                    k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val cand = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v")).cache()
    try {
      val seed = cand.orderBy(col("id").asc).limit(1).collect().head
      val selected = scala.collection.mutable.ArrayBuffer[(Long, Double, Seq[Float])](
        (seed.getLong(0), 0.0, seed.getSeq[Float](1)))
      while (selected.size < k) {
        val minDist = selected.map { case (_, _, sv) =>
          call_function("graft_cosine_distance", col("v"), typedLit(sv))
        }.reduce(least(_, _))
        val pick = cand.filter(!col("id").isin(selected.map(_._1).toSeq: _*))
          .withColumn("_d", minDist)
          .orderBy(col("_d").desc, col("id").asc)
          .limit(1).select(col("id"), col("_d"), col("v")).collect().head
        selected += ((pick.getLong(0), pick.getDouble(1), pick.getSeq[Float](2)))
      }
      import spark.implicits._
      selected.zipWithIndex
        .map { case ((id, d, _), i) => (i + 1, id, d) }.toSeq
        .toDF("sel_rank", "id", "dist")
    } finally cand.unpersist()
  }

  /** Grid-density clustering (the GriDBSCAN/grid-DBSCAN family): density
    * lives on CELLS, not points — the DBSCAN shape that survives 100 TB.
    * Points map to their [[Similarity.hyperplaneBucket]] sign-cell (one
    * map-side fold, no shuffle); a cell with ≥ `minPts` points is CORE;
    * clusters are connected components of core cells adjacent at Hamming
    * distance 1 (one flipped hyperplane = neighboring region of the
    * sphere). Points in non-core cells are noise (NULL cluster).
    *
    * Scale shape: the only corpus-sized work is the cell assignment and
    * one count aggregate; the component computation runs on the CELL
    * GRAPH — at most 2^nBits nodes by construction, so a driver
    * union-find is exact and O(2^nBits·nBits), and the labels broadcast
    * back. Labels are canonical (smallest cell code in the component) —
    * deterministic under any partitioning, replayable by a recursive
    * oracle over the same ≤ 2^nBits-node graph.
    * Returns (id, cell, n_pts, is_core, cluster). */
  def gridDbscan(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 nBits: Int, minPts: Long): DataFrame = {
    require(nBits >= 1 && nBits <= 20, "need 1 <= nBits <= 20")
    val coded = df.select(col(idCol).as("id"),
      Similarity.hyperplaneBucket(vecCol, dim, nBits).as("cell"))
    val counts = coded.groupBy("cell").agg(count(lit(1)).as("n_pts"))
    val core = counts.filter(col("n_pts") >= minPts)
      .select("cell").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted // bounded: <= 2^nBits cells
    val parent = scala.collection.mutable.Map(core.map(c => c -> c): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for (c <- core; b <- 0 until nBits) {
      val n = c ^ (1L << b)
      if (parent.contains(n)) {
        val (ra, rb) = (find(c), find(n))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    val labels = broadcast(
      core.map(c => (c, find(c))).toSeq.toDF("cell", "cluster"))
    coded.join(counts, "cell")
      .join(labels, Seq("cell"), "left")
      .select(col("id"), col("cell"), col("n_pts"),
        col("cluster").isNotNull.as("is_core"), col("cluster"))
  }

  /** Davies–Bouldin index over an assignment: per cell, the scatter
    * σ_i = mean member→centroid distance; DB_i = max_{j≠i}
    * (σ_i+σ_j)/d(c_i,c_j); DB = mean DB_i — LOWER is better-separated.
    * The internal clustering-validity number that needs no labels: run
    * it when choosing k or auditing codebook drift. Per-row distances
    * round to 6 before the decimal mean (the distortion-family parity
    * discipline); the centroid×centroid work is k² rows. `assigned`
    * must carry the member→centroid distance in `distCol`. */
  def daviesBouldin(assigned: DataFrame, cellCol: String, distCol: String,
                    centroids: DataFrame, cidCol: String,
                    cvCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sig = assigned.groupBy(col(cellCol).as("i"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col(distCol), 6).cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("sigma"))
    val cs = centroids.select(col(cidCol).as("i"), col(cvCol).as("_cv"))
    val rij = cs.crossJoin(cs.select(col("i").as("j"), col("_cv").as("_cw")))
      .filter(col("i") =!= col("j"))
      .withColumn("dij", round(
        call_function("graft_l2_distance", col("_cv"), col("_cw")), 6))
      .join(broadcast(sig.select(col("i"), col("sigma").as("si"))), Seq("i"))
      .join(broadcast(sig.select(col("i").as("j"), col("sigma").as("sj"))),
        Seq("j"))
      .withColumn("rij", (col("si") + col("sj")) / col("dij"))
    val dbi = rij.groupBy("i").agg(max("rij").as("db_i"))
    val all = Window.partitionBy(lit(1))
    sig.join(dbi, Seq("i"))
      .withColumn("db", sum(col("db_i").cast("decimal(38,18)")).over(all)
        .cast("double") / count(lit(1)).over(all))
      .select(col("i").as("cid"), col("n"), round(col("sigma"), 6).as("sigma"),
        round(col("db_i"), 6).as("db_i"), round(col("db"), 6).as("db"))
  }

  /** Simplified silhouette (Hruschka et al. 2004) — the 100 TB-sane
    * silhouette: per point, a = distance to its OWN (nearest) centroid,
    * b = distance to the second-nearest centroid, s = (b−a)/max(a,b) ∈
    * [0,1] here since a ≤ b by construction. Full silhouette's all-pairs
    * term is quadratic; this keeps the per-point cost at k centroid
    * distances, stays a map + two hash aggregates (min_by argmin, then
    * min over non-own — NO corpus-wide window), and preserves the
    * read: near 1 = well inside its cell, near 0 = boundary point.
    * Returns per-cell (cid, n, mean_s) plus the global mean on every
    * row. */
  def simplifiedSilhouette(corpus: DataFrame, vecCol: String, idCol: String,
                           centroids: DataFrame, cidCol: String,
                           cvCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = corpus.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .crossJoin(broadcast(centroids.select(col(cidCol).as("cid"),
        col(cvCol).as("_cv"))))
      .withColumn("dist", round(
        call_function("graft_l2_distance", col("_v"), col("_cv")), 6))
      .select("id", "cid", "dist")
    val first = d.groupBy("id")
      .agg(min(struct(col("dist"), col("cid"))).as("f"))
      .select(col("id"), col("f.dist").as("a"), col("f.cid").as("own"))
    val second = d.join(first, Seq("id"))
      .filter(col("cid") =!= col("own"))
      .groupBy("id").agg(min("dist").as("b"),
        max("a").as("a"), max("own").as("own"))
    val s = second.withColumn("s",
      when(greatest(col("a"), col("b")) > 0,
        (col("b") - col("a")) / greatest(col("a"), col("b")))
        .otherwise(lit(0.0)))
    val all = Window.partitionBy(lit(1))
    val perCell = s.groupBy(col("own").as("cid"))
      .agg(count(lit(1)).as("n"),
        (sum(col("s").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("mean_s"))
    s.agg((sum(col("s").cast("decimal(38,18)")).cast("double") /
        count(lit(1))).as("s_global"))
      .crossJoin(perCell)
      .select(col("cid"), col("n"), round(col("mean_s"), 6).as("mean_s"),
        round(col("s_global"), 6).as("s_global"))
  }
}
