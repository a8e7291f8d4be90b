package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Mirrors the reference retrieval surface
  * (reference: src/server/app/mcp/tools/vs_retriever.py):
  *  - per-table top-k by distance (R1, :264)
  *  - score normalization per distance strategy (R2, :267-274)
  *  - threshold filter (P5, :276-277)
  *  - cross-table dedup keep-max (R3, :130-151)
  *  - global re-rank + limit (R4, :360-365)
  *  - MMR re-rank (R5, :283-294)
  *
  * Scale design:
  *  - Single-query top-k is a scan + `orderBy(dist).limit(k)` → Spark plans
  *    `TakeOrderedAndProject`: each partition keeps a k-heap, the driver
  *    merges — no full sort, no shuffle of the corpus.
  *  - Batch-query top-k broadcasts the (small) query set against the
  *    (huge) corpus and window-ranks per query — the corpus never shuffles.
  *  - The IVF-style path prunes partitions by coarse centroid bucket before
  *    scanning, turning O(corpus) into O(corpus / nBuckets) per query.
  */
object Similarity {

  /** Distance column using the codegen'd native expression
    * ([[graft.plans.VectorExpressions]]), bit-identical to the HOF
    * composition (same fold order). */
  private def distCol(a: Column, b: Column, strategy: String): Column = {
    strategy.toUpperCase match {
      case "COSINE" => call_function("graft_cosine_distance", a, b)
      case "DOT"    => -call_function("graft_dot_product", a, b) // larger dot = closer
      case _        => call_function("graft_l2_distance", a, b)
    }
  }

  /** Brute-force top-k nearest rows for one query vector.
    * Returns input columns + `distance` + `score` (normalized similarity),
    * ties broken by `tieCol` for determinism. */
  def topK(corpus: DataFrame, vecCol: String, query: Seq[Float], k: Int,
           strategy: String = "COSINE", tieCol: String = "vec_id"): DataFrame = {
    val q = typedLit(query)
    val dist = distCol(col(vecCol), q, strategy)
    corpus
      .withColumn("distance", dist)
      .withColumn("score", normalizeScoreCol(col("distance"), strategy))
      .orderBy(col("distance").asc, col(tieCol).asc)
      .limit(k)
  }

  private def normalizeScoreCol(distance: Column, strategy: String): Column =
    strategy.toUpperCase match {
      case "COSINE" => lit(1.0) - distance / 2.0 // distance here is 1-cos ∈ [0,2]… see note
      case "DOT"    => -distance
      case _        => lit(1.0) / (lit(1.0) + distance)
    }

  /** Batch top-k: for every row of `queries` (id + vector), the k nearest
    * corpus rows as (query_id, rank, <corpusIdCol>, distance).
    *
    * Scale shape: the query set is collected and shipped in the task
    * closure (it is the small side by construction — the reference caps it
    * at 3 stores × top_k). Each corpus partition keeps a local k-bounded
    * heap per query, so the only exchange carries at most
    * `partitions × |queries| × k` candidate rows — independent of corpus
    * size — before the final exact window rank. Results are identical to
    * the naive crossJoin+rank (same distance, same (distance, id) order):
    * a row outside its partition's top-k can never be in the global top-k.
    */
  def topKBatch(corpus: DataFrame, vecCol: String, corpusIdCol: String,
                queries: DataFrame, queryVecCol: String, queryIdCol: String,
                k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs: Array[(Long, Array[Float])] = queries
      .select(col(queryIdCol).cast("long"), col(queryVecCol))
      .as[(Long, Array[Float])].collect()
    val slim = corpus.select(col(corpusIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    val candidates = slim.mapPartitions { it =>
      // per-query bounded worst-first queue; ordering matches the final rank
      val heaps = qs.map { case (qid, _) =>
        qid -> new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      }.toMap
      it.foreach { case (id, vec) =>
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv) = qs(qi)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          val n = math.min(vec.length, qv.length)
          while (i < n) {
            val x = vec(i).toDouble; val y = qv(i).toDouble
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
          val denom = math.sqrt(na) * math.sqrt(nb)
          val d = if (denom == 0.0) 1.0 else 1.0 - dot / denom
          val heap = heaps(qid)
          if (heap.size < k) heap.enqueue((d, id))
          else if (Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
                     .lt((d, id), heap.head)) {
            heap.dequeue(); heap.enqueue((d, id))
          }
          qi += 1
        }
      }
      heaps.iterator.flatMap { case (qid, heap) =>
        heap.iterator.map { case (d, id) => (qid, id, d) }
      }
    }.toDF("query_id", corpusIdCol, "distance")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("distance").asc, col(corpusIdCol).asc)
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(corpusIdCol), col("distance"))
  }

  /** Multi-store search: union per-store results, normalize scores,
    * threshold, dedup keep-max on content, global top-k
    * (reference flow: vs_retriever.py:307-384). Each store frame must carry
    * (id, text, score) columns; `searched_table` is stamped like the
    * reference stamps metadata (:279-282). */
  def multiStoreSearch(stores: Seq[(String, DataFrame)], threshold: Double,
                       topK: Int): DataFrame = {
    val unioned = stores.map { case (name, df) =>
      df.withColumn("searched_table", lit(name))
    }.reduce(_ unionByName _)
    val thresholded =
      if (threshold > 0) unioned.filter(col("score") >= threshold) else unioned
    Dedup.dedupKeepMax(thresholded, "text", "score", "id")
      .orderBy(col("score").desc, col("id").asc)
      .limit(topK)
  }

  /** Maximal Marginal Relevance over the fetch_k nearest candidates
    * (reference: vs_retriever.py:283-294; defaults fetch_k=20, λ=0.5 from
    * core/schemas.py:54-55). Candidates are collected to the driver —
    * bounded by fetch_k, so this is O(fetch_k²·d) driver work regardless of
    * corpus size; the heavy part (candidate retrieval) stays distributed. */
  def mmr(corpus: DataFrame, vecCol: String, idCol: String, query: Seq[Float],
          k: Int, fetchK: Int = 20, lambdaMult: Double = 0.5): Seq[(Long, Double)] = {
    val cand: Array[(Long, Array[Double])] =
      topK(corpus, vecCol, query, fetchK, "COSINE", idCol)
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qv = query.map(_.toDouble).toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val vecs = cand.toMap
    val simToQuery = cand.map { case (id, v) => id -> cos(v, qv) }.toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashSet(cand.map(_._1): _*)
    while (selected.size < k && remaining.nonEmpty) {
      val (bestId, bestScore) = remaining.iterator.map { id =>
        val rel = simToQuery(id)
        val div = if (selected.isEmpty) 0.0
          else selected.map { case (sid, _) => cos(vecs(id), vecs(sid)) }.max
        (id, lambdaMult * rel - (1 - lambdaMult) * div)
      }.maxBy { case (id, s) => (s, -id) } // deterministic tie-break: lowest id
      selected += ((bestId, bestScore))
      remaining.remove(bestId)
    }
    selected.toSeq
  }

  /** MMR for fetch_k far beyond driver reach (SURVEY §7.3's 100 TB note):
    * the candidate pool stays a cached DISTRIBUTED frame and each of the k
    * greedy picks is one argmax job — a map (λ·rel − (1−λ)·max-sim-to-
    * selected, selected rides the closure as ≤ k literals) followed by a
    * TakeOrdered(1). k · O(fetch_k / cores) wall-clock, O(k·dim) driver
    * memory — versus [[mmr]]'s O(fetch_k·dim) driver collect. Same greedy
    * selection and tie-break (score desc, id asc) as [[mmr]]; scores can
    * differ from it only in the last ulp (the driver path associates the
    * cosine denominator as √(na·nb), the expression path as √na·√nb —
    * MmrSpec pins selection parity and λ=1 ≡ [[topK]]). */
  def mmrDistributed(corpus: DataFrame, vecCol: String, idCol: String,
                     query: Seq[Float], k: Int, fetchK: Int = 20,
                     lambdaMult: Double = 0.5): Seq[(Long, Double)] = {
    val cand = topK(corpus, vecCol, query, fetchK, "COSINE", idCol)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        (lit(1.0) - col("distance")).as("rel"))
      .cache()
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Seq[Float])]
    var exhausted = false
    while (selected.size < k && !exhausted) {
      val divCol = selected.map { case (_, _, sv) =>
        lit(1.0) - call_function("graft_cosine_distance", col("v"), typedLit(sv))
      }.reduceOption(greatest(_, _)).getOrElse(lit(0.0))
      val rest =
        if (selected.isEmpty) cand
        else cand.filter(!col("id").isin(selected.map(_._1).toSeq: _*))
      val pick = rest
        .withColumn("mmr",
          lit(lambdaMult) * col("rel") - lit(1.0 - lambdaMult) * divCol)
        .orderBy(col("mmr").desc, col("id").asc)
        .limit(1).collect().headOption
      pick match {
        case Some(r) =>
          selected += ((r.getLong(0), r.getDouble(3), r.getSeq[Float](1)))
        case None => exhausted = true
      }
    }
    cand.unpersist()
    selected.map(t => (t._1, t._2)).toSeq
  }

  /** Late-interaction (ColBERT-style, Khattab & Zaharia 2020) MaxSim
    * scoring: document and query are MULTI-vector — here `slices` sub-
    * vectors of `subDim = dim/slices` dims each — and the score is
    * Σ over query sub-vectors of the MAX dot product against any
    * document sub-vector. Late interaction keeps per-token granularity
    * a single pooled vector destroys (a doc matching all query aspects
    * in different places outranks one matching one aspect everywhere).
    *
    * Scale shape: the query sub-vectors are driver-side literals folded
    * into ONE map-side expression (slices² inline dot folds per row) —
    * scan → score → TakeOrderedAndProject, no shuffle, no join; at
    * store scale this runs AFTER an ANN shortlist (compose with
    * [[topK]]/[[ivfSearch]] exactly like the PQ rerank). All arithmetic
    * is fixed-order double folds over exact float→double casts, so an
    * oracle replays it bit-for-bit. Returns the top `k`
    * (idCol, maxsim), ties to the smaller id. */
  def maxSimSearch(corpus: DataFrame, vecCol: String, idCol: String,
                   query: Seq[Float], dim: Int, slices: Int,
                   k: Int): DataFrame = {
    require(slices >= 1 && dim % slices == 0, "slices must divide dim")
    require(query.length == dim, s"query must have $dim dims")
    val sub = dim / slices
    def dotSql(ds: Int, q: Seq[Float]): String = {
      val lits = q.map(_.toDouble.toString).mkString(",")
      s"aggregate(zip_with(slice($vecCol, ${ds * sub + 1}, $sub), " +
        s"array($lits), (x, y) -> cast(x as double) * y), 0D, (a, v) -> a + v)"
    }
    val score = (0 until slices).map { qs =>
      val q = query.slice(qs * sub, (qs + 1) * sub)
      val dots = (0 until slices).map(ds => dotSql(ds, q))
      if (dots.size == 1) dots.head // greatest() requires >1 argument
      else "greatest(" + dots.mkString(",") + ")"
    }.mkString("(", ") + (", ")")
    corpus.select(col(idCol), expr(score).as("maxsim"))
      .orderBy(col("maxsim").desc, col(idCol))
      .limit(k)
  }

  /** Random-hyperplane LSH bucket id (nBits sign bits of projections onto
    * seeded random hyperplanes). Rows in the same bucket are cosine-close
    * with high probability — the blocking key for
    * [[Dedup.embeddingNearDupPairs]] and the IVF-style scale path: write the
    * corpus bucketed/partitioned by this value, then probe only matching
    * buckets. Deterministic (seed 42). */
  /** The seeded hyperplanes behind [[hyperplaneBucket]] — public so the
    * correctness oracle can embed the identical literals in its SQL. */
  def hyperplanePlanes(dim: Int, nBits: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  def hyperplaneBucket(vecCol: String, dim: Int, nBits: Int): Column = {
    val planes = hyperplanePlanes(dim, nBits)
    val bitExprs = planes.zipWithIndex.map { case (plane, b) =>
      val planeArr = s"array(${plane.mkString(",")})"
      s"case when aggregate(zip_with($vecCol, $planeArr, (x, y) -> cast(x as double) * y), 0D, (a, v) -> a + v) >= 0 " +
        s"then cast(pow(2, $b) as bigint) else 0L end"
    }
    expr(s"(${bitExprs.mkString(" + ")})")
  }

  /** The [[hyperplaneBucket]] code of one DRIVER-side vector — the
    * identical left-fold association (`0.0 + x₀·y₀ + x₁·y₁ + …`), so the
    * driver code and the expression code agree bit-for-bit. */
  def hyperplaneCode(v: Seq[Float], dim: Int, nBits: Int): Long =
    hyperplanePlanes(dim, nBits).zipWithIndex.map { case (plane, b) =>
      val dot = (0 until dim).foldLeft(0.0)((a, i) => a + v(i).toDouble * plane(i))
      if (dot >= 0) 1L << b else 0L
    }.sum

  /** Multi-probe hyperplane-LSH search (Lv et al. 2007): top-k cosine
    * neighbors from ONLY the query's own hyperplane bucket plus its
    * `nBits` Hamming-1 perturbations — the classic recall fix that makes
    * one LSH table serve where naive bucketing needs many. A vector
    * whose code differs from the query's in one sign bit sits across one
    * hyperplane — by far the most likely miss — so probing the flipped
    * codes recovers most of it for (nBits+1)/2^nBits of the corpus
    * scanned.
    *
    * Scale shape: the probe set is nBits+1 LITERALS (the query's code is
    * computed driver-side — one 64-float fold), so the plan is scan →
    * map-side bucket expression → IN filter → exact cosine →
    * TakeOrderedAndProject: no shuffle, no join, and with the corpus
    * written `partitionBy(bucket)` the IN list partition-prunes exactly
    * like the IVF store ([[graft.store.AnnStore]]). Returns (idCol,
    * bucket, distance) — the same exact re-rank contract as [[topK]]. */
  def multiProbeSearch(corpus: DataFrame, vecCol: String, idCol: String,
                       query: Seq[Float], dim: Int, nBits: Int,
                       k: Int): DataFrame = {
    val qCode = hyperplaneCode(query, dim, nBits)
    val probes = qCode +: (0 until nBits).map(b => qCode ^ (1L << b))
    val qArr = typedLit(query)
    corpus
      .withColumn("bucket", hyperplaneBucket(vecCol, dim, nBits))
      .filter(col("bucket").isin(probes: _*))
      .withColumn("distance",
        distCol(col(vecCol), qArr, "COSINE"))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("bucket"), col("distance"))
  }

  /** IVF assignment as a pure map-side argmin: the centroid set (small by
    * construction — it used to be the broadcast side) is collected and
    * folded into ONE expression per row — `least` over
    * `struct(l2_dist, cid)` candidates, so ties break to the smallest
    * centroid id exactly like the former window rank. Appends
    * `centroid_id` and `centroid_dist` (same `graft_l2_distance` values,
    * bit-identical).
    *
    * Scale shape: ZERO joins and ZERO shuffles — at 100 TB the corpus
    * streams through whole-stage codegen once, where the previous
    * crossJoin+window shuffled the corpus × nCentroids expansion by row
    * id before the argmin filter. `idCol` is kept for API stability but
    * no longer needed by the plan. Write the output
    * `partitionBy("centroid_id")` — probes then become partition-pruned
    * scans of the `nProbe` nearest buckets (see also [[ivfAssign]] for
    * the literal-centroid variant of the same fold).
    *
    * NOTE the centroid frame is collected EAGERLY at call time (it must
    * become plan literals), so constructing the assignment runs one small
    * Spark job and an empty centroid set fails fast here rather than
    * yielding an empty result at execution. */
  def assignNearestCentroid(corpus: DataFrame, vecCol: String, idCol: String,
                            centroids: DataFrame, cidCol: String,
                            cvecCol: String,
                            maxFoldCentroids: Int = 256): DataFrame = {
    val cents = centroids
      .select(col(cidCol).cast("int"), col(cvecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignNearestCentroid: empty centroid set")
    if (cents.length <= maxFoldCentroids) {
      // ONE native expression, not an N-arm `least(struct(l2,cid),...)`
      // fold: the fold's generated code grows with N and at ~64 arms
      // blew whole-stage codegen's method limit, dropping the ENTIRE
      // stage it sat in to interpreted eval — when a consumer join
      // collapsed the assignment into its pair-expansion stage, the
      // pair loop ran interpreted (measured: knnGraph on a lazily
      // assigned frame, 64 cells, 40 s vs 0.6 s). The codebook rides as
      // reference objects; generated code is one tight loop at any
      // codebook size; numerics and the (d, cid) lexicographic
      // tie-break are bit-identical to the fold (IvfAndViewsSpec pins
      // equality with the portable HOF path below).
      val best = call_function("graft_nearest_centroid", col(vecCol),
        typedLit(cents.map(_._1).toSeq), typedLit(cents.map(_._2).toSeq))
      corpus
        .withColumn("_best", best)
        .withColumn("centroid_id", col("_best.cid"))
        .withColumn("centroid_dist", col("_best.d"))
        .drop("_best")
    } else {
      // nlist beyond what one generated expression tolerates (real IVF
      // runs 4k-65k cells — a 65k-arm `least` would sink Janino): scan the
      // centroid array per row with transform → array_min. Each distance
      // evaluates ONCE (HOF lambdas get no common-subexpression
      // elimination, so an aggregate-with-if fold would compute every
      // distance twice). Still a pure map — one array literal in the
      // plan, zero joins, the same (dist, cid) lexicographic tie-break;
      // the fold sums squared diffs (argmin-equivalent) and the emitted
      // centroid_dist takes a final sqrt to stay bit-comparable.
      val arr = cents.map { case (cid, cv) =>
        s"struct(cast($cid as int) as cid, cast(array(${cv.mkString(",")}) as array<float>) as cv)"
      }.mkString("array(", ",", ")")
      val best = expr(
        s"""array_min(transform($arr, c -> struct(
           |  aggregate(zip_with($vecCol, c.cv, (x, y) -> (cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), 0D, (a, v) -> a + v) as d,
           |  c.cid as cid)))""".stripMargin)
      corpus
        .withColumn("_best", best)
        .withColumn("centroid_id", col("_best.cid"))
        .withColumn("centroid_dist", sqrt(col("_best.d")))
        .drop("_best")
    }
  }

  /** IVF probe: search only the `nProbe` buckets whose centroids are
    * nearest the query. `assigned` is a corpus with `centroid_id` (from
    * [[assignNearestCentroid]]); when it is stored
    * `partitionBy("centroid_id")`, the `isin` filter partition-prunes, so
    * the scan touches `nProbe / nBuckets` of the corpus. Recall is
    * approximate (standard IVF trade-off); nProbe = nBuckets ≡ exact. */
  def ivfSearch(assigned: DataFrame, vecCol: String, idCol: String,
                centroids: Seq[(Int, Seq[Float])], query: Seq[Float],
                k: Int, nProbe: Int): DataFrame = {
    val probeIds = nearestCentroidIds(centroids, query, nProbe)
    topK(assigned.filter(col("centroid_id").isin(probeIds: _*)),
      vecCol, query, k, "COSINE", idCol)
  }

  /** The `nProbe` centroid ids nearest `query` by L2, ties to the smaller
    * id — the probe-selection rule shared by [[ivfSearch]] and
    * [[graft.store.AnnStore.probe]]. */
  def nearestCentroidIds(centroids: Seq[(Int, Seq[Float])],
                         query: Seq[Float], nProbe: Int): Seq[Int] =
    centroids.map { case (cid, cv) =>
      var acc = 0.0; var i = 0
      val n = math.min(cv.length, query.length)
      // double-precision diffs, matching list_distance on DOUBLE[] (oracle)
      while (i < n) { val d = cv(i).toDouble - query(i).toDouble; acc += d * d; i += 1 }
      (math.sqrt(acc), cid)
    }.sorted.take(nProbe).map(_._2)

  /** Batch IVF probe, fully declarative: each query searches only the
    * `nProbe` cells whose centroids are nearest it. The probe set
    * (queries × nProbe, small by construction) BROADCASTS into an
    * equi-join on `centroid_id` — the corpus never shuffles and, stored
    * `partitionBy("centroid_id")`, only probed partitions are scanned.
    * Returns (query_id, rank, idCol, distance) like [[topKBatch]];
    * recall < 1 is the IVF trade-off — measure it with [[recallAtK]]. */
  def ivfSearchBatch(assigned: DataFrame, vecCol: String, idCol: String,
                     centroids: DataFrame, cidCol: String, cvecCol: String,
                     queries: DataFrame, queryVecCol: String, queryIdCol: String,
                     k: Int, nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("_cdist").asc, col("centroid_id").asc)
    val probes = queries
      .select(col(queryIdCol).as("query_id"), col(queryVecCol).as("_qv"))
      .crossJoin(broadcast(centroids.select(
        col(cidCol).as("centroid_id"), col(cvecCol).as("_cv"))))
      .withColumn("_cdist", call_function("graft_l2_distance", col("_qv"), col("_cv")))
      .withColumn("_rn", row_number().over(wProbe))
      .filter(col("_rn") <= nProbe)
      .select(col("centroid_id"), col("query_id"), col("_qv"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("distance").asc, col(idCol).asc)
    assigned.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("distance",
        call_function("graft_cosine_distance", col(vecCol), col("_qv")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col(idCol), col("distance"))
  }

  /** Two-NN intrinsic dimension estimate (Facco et al. 2017): each
    * point contributes ln(r₂/r₁) of its two nearest-neighbor distances;
    * ID ≈ n / Σ ln μ. High ID (≈ the ambient dimension) says the
    * embedding fills the space — ANN pruning will struggle; low ID says
    * the data lives on a thin manifold and aggressive IVF/PQ configs are
    * safe. Takes a kNN graph frame (idCol, rankCol, distCol) — here the
    * CELL-LOCAL graph, so the estimate is conditioned on the same
    * blocking the index itself uses. Distances round to 6 before the
    * ratio (parity discipline); r₁ = 0 duplicates are excluded. */
  def intrinsicDimension(graph: DataFrame, idCol: String, rankCol: String,
                         distCol: String): DataFrame = {
    val rr = graph.filter(col(rankCol) <= 2)
      .groupBy(col(idCol).as("id"))
      .agg(min(when(col(rankCol) === 1, round(col(distCol), 6))).as("r1"),
        min(when(col(rankCol) === 2, round(col(distCol), 6))).as("r2"))
      .filter(col("r1") > 0 && col("r2").isNotNull)
      .withColumn("logmu", log(col("r2") / col("r1")))
    rr.agg(count(lit(1)).as("n_points"),
        sum(col("logmu").cast("decimal(38,18)")).cast("double").as("_sl"))
      .select(col("n_points"), round(col("_sl"), 6).as("sum_log"),
        when(col("_sl") > 0,
          round(col("n_points").cast("double") / col("_sl"), 6)).as("id_est"))
  }

  /** Recall@k of an approximate result set against the exact one: both
    * frames carry (queryIdCol, idCol); recall = |approx ∩ exact| / k per
    * query. The standard ANN quality gate — run it on a sampled query set
    * before trusting an IVF/LSH configuration at full scale.
    *
    * Every query in `exact` gets a row: a query whose approx results hit
    * NONE of its true neighbors reports `n_hit = 0, recall = 0.0` instead
    * of vanishing — the worst performers are exactly the rows the gate
    * exists to surface. */
  def recallAtK(approx: DataFrame, exact: DataFrame, queryIdCol: String,
                idCol: String, k: Int): DataFrame = {
    val a = approx.select(col(queryIdCol), col(idCol))
    val e = exact.select(col(queryIdCol), col(idCol))
    val hits = e.join(a, Seq(queryIdCol, idCol), "left_semi")
      .groupBy(col(queryIdCol)).agg(count(lit(1)).as("n_hit"))
    e.select(col(queryIdCol)).distinct()
      .join(hits, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / k).as("recall"))
  }

  /** Bucket-local k-nearest-neighbor graph: for every row of `assigned`
    * (a corpus carrying `centroid_id` from [[assignNearestCentroid]]), its
    * `k` nearest cosine neighbors AMONG ROWS OF THE SAME IVF CELL —
    * the standard first stage of NN-descent / disk-ANN graph builds and of
    * SemDeDup-style cluster-then-dedup pipelines: candidate generation
    * never leaves the cell, so the only shuffle is the self-join's hash
    * exchange on `centroid_id` (co-located for free when the corpus is
    * stored `partitionBy("centroid_id")`). Recall is the IVF trade-off:
    * cross-cell true neighbors are missed by construction — size `nlist`
    * so cells hold ~√N rows and feed an NN-descent refinement for higher
    * recall. Cell size also bounds the quadratic term: a hot cell of C
    * rows scores C² pairs — audit with [[graft.operators.DataLayout
    * .skewProfile]] and split hot cells before building at 100 TB.
    * Returns (id, rank, nbr_id, distance), ties broken by neighbor id. */
  def knnGraph(assigned: DataFrame, vecCol: String, idCol: String,
               k: Int): DataFrame = {
    val left = assigned.select(col("centroid_id"), col(idCol).as("id"),
      col(vecCol).as("_lv"))
    val right = assigned.select(col("centroid_id"), col(idCol).as("nbr_id"),
      col(vecCol).as("_rv"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("distance").asc, col("nbr_id").asc)
    left.join(right, Seq("centroid_id"))
      .filter(col("id") =!= col("nbr_id"))
      .withColumn("distance",
        call_function("graft_cosine_distance", col("_lv"), col("_rv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("int").as("rank"),
        col("nbr_id"), col("distance"))
  }

  /** Two-stage truncated-vector search (the Matryoshka/MRL serving
    * pattern, Kusupati et al. 2022): stage 1 ranks the corpus by cosine on
    * the FIRST `dPrime` dimensions and keeps a `shortlistK` shortlist;
    * stage 2 re-ranks only the shortlist at full dimension. Both stages
    * plan as TakeOrderedAndProject (per-partition k-heaps — the corpus
    * never shuffles), and at 100 TB stage 1 reads a prefix slice, cutting
    * scan arithmetic by dim/dPrime while stage 2 touches `shortlistK`
    * rows. Exact whenever the shortlist covers the true top-k
    * (shortlistK = corpus size ≡ [[topK]], spec-pinned); qualify a
    * (dPrime, shortlistK) config with [[recallAtK]] like any ANN setup.
    * Returns input columns + `coarse_dist` + `distance`, k rows. */
  def truncatedRerank(corpus: DataFrame, vecCol: String, idCol: String,
                      query: Seq[Float], k: Int, dPrime: Int,
                      shortlistK: Int): DataFrame = {
    val qt = typedLit(query.take(dPrime))
    val qf = typedLit(query)
    corpus
      .withColumn("coarse_dist", call_function("graft_cosine_distance",
        slice(col(vecCol), 1, dPrime), qt))
      .orderBy(col("coarse_dist").asc, col(idCol).asc)
      .limit(shortlistK)
      .withColumn("distance",
        call_function("graft_cosine_distance", col(vecCol), qf))
      .orderBy(col("distance").asc, col(idCol).asc)
      .limit(k)
  }

  /** HNSW-style greedy graph SEARCH over a prebuilt kNN graph (the serving
    * half of the graph-index family; [[knnGraph]] + [[nnDescentRefine]] are
    * the build half — reference index types at
    * src/server/app/embed/schemas.py:17): starting from fixed entry
    * points, each round expands the current beam's out-neighbors, scores
    * every candidate against the query, and keeps the `beam` nearest
    * (ties by id). After `iters` rounds the top `k` of the beam is the
    * answer, ranked.
    *
    * Scale shape: the corpus is touched ONLY through equi-joins on the
    * candidate ids — O(beam · degree) vector scorings per round, never a
    * scan. The query vector rides along as a one-row broadcast, so at
    * 100 TB this is `iters` broadcast-joins against an id-partitioned
    * store, which is precisely why graph indexes serve point queries that
    * IVF probes (which scan whole cells) cannot match. Greedy beam search
    * is approximate exactly like HNSW's: [[recallAtK]] gates a
    * (beam, iters) config; with a complete graph and beam ≥ corpus it
    * degenerates to exact [[topK]] (spec-pinned). */
  def graphBeamSearch(graph: DataFrame, corpus: DataFrame, vecCol: String,
                      idCol: String, queryId: Long, entryIds: Seq[Long],
                      beam: Int, iters: Int, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long").as("_vid"),
      col(vecCol).as("_vv"))
    val qv = broadcast(vecs.filter(col("_vid") === queryId)
      .select(col("_vv").as("_qv")))
    def score(cands: DataFrame): DataFrame = cands
      .join(vecs, cands("cand") === vecs("_vid"))
      .crossJoin(qv)
      .select(col("cand"), call_function("graft_cosine_distance",
        col("_vv"), col("_qv")).as("distance"))
      .orderBy(col("distance").asc, col("cand").asc)
      .limit(beam)
    val edges = graph.select(col("id"), col("nbr_id"))
    var beamDf = score(entryIds.toDF("cand"))
    for (_ <- 1 to iters) {
      val expanded = beamDf.select(col("cand").as("id"))
        .join(edges, "id")
        .select(col("nbr_id").as("cand"))
        .union(beamDf.select(col("cand")))
        .distinct()
      beamDf = score(expanded)
    }
    val w = Window.orderBy(col("distance").asc, col("cand").asc)
    beamDf.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("cand").as(idCol), col("distance"))
  }

  /** NN-descent refinement over a kNN graph (Dong et al., WWW 2011 — the
    * graph-build family behind HNSW-class indexes): each iteration expands
    * candidates to NEIGHBORS-OF-NEIGHBORS over the undirected graph (if B
    * is near A and C is near B, C is likely near A), re-scores, and keeps
    * the k nearest per node. Closes exactly the misses bucket-local
    * [[knnGraph]] makes by construction (true neighbors in a different IVF
    * cell become reachable through shared neighbors), so sampled
    * [[recallAtK]] can only rise: each round re-ranks a SUPERSET of the
    * current edge set under the same (distance, id) order.
    *
    * Scale shape: every step is an equi-join — the undirected expansion is
    * a union, candidate generation is a self-join on the shared node id,
    * and re-scoring joins the (≤ 2·N·k-row) candidate set to the corpus on
    * id twice. Nothing is quadratic in N; per-round cost is bounded by
    * degree² per node (classic NN-descent samples candidates to tighten
    * this bound — unnecessary until degrees are far above k).
    * Input/output schema matches [[knnGraph]]: (id, rank, nbr_id,
    * distance), cosine, ties by neighbor id. */
  def nnDescentRefine(graph: DataFrame, corpus: DataFrame, vecCol: String,
                      idCol: String, k: Int, iters: Int = 1): DataFrame = {
    val vecs = corpus.select(col(idCol).as("_vid"), col(vecCol).as("_vv"))
    var edges = graph.select(col("id"), col("nbr_id"))
    var scored: DataFrame = graph.select(col("id"), col("nbr_id"), col("distance"))
    for (_ <- 1 to iters) {
      val und = edges
        .union(edges.select(col("nbr_id").as("id"), col("id").as("nbr_id")))
        .distinct()
      val cands = und.as("a")
        .join(und.as("b"), col("a.nbr_id") === col("b.id"))
        .select(col("a.id").as("id"), col("b.nbr_id").as("nbr_id"))
        .filter(col("id") =!= col("nbr_id"))
        .union(und)
        .distinct()
      scored = cands
        .join(vecs, cands("id") === vecs("_vid"))
        .select(col("id"), col("nbr_id"), col("_vv").as("_lv"))
        .join(vecs, col("nbr_id") === col("_vid"))
        .select(col("id"), col("nbr_id"),
          call_function("graft_cosine_distance", col("_lv"), col("_vv")).as("distance"))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("distance").asc, col("nbr_id").asc)
      scored = scored.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= k).drop("_rk")
      edges = scored.select(col("id"), col("nbr_id"))
    }
    val w = Window.partitionBy(col("id"))
      .orderBy(col("distance").asc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("int").as("rank"),
        col("nbr_id"), col("distance"))
  }

  /** Margin-based candidate mining (the ratio margin of Artetxe &
    * Schwenk 2019, the LASER bitext-mining criterion): for each vector of
    * a bounded `src` query set, its best `tgt`-side match scored not by
    * raw cosine but by the cosine NORMALIZED against both sides'
    * neighborhood density —
    * `margin(x,y) = 2k·cos(x,y) / (Σ_{z∈NNk(x,tgt)} cos(x,z)
    *                               + Σ_{z∈NNk(y,src)} cos(y,z))`
    * — which suppresses hub vectors that are close to everything. A pair
    * is emitted only when its margin exceeds `minMargin` (1.0 = "closer
    * than the average nearest neighbor"); per source, the single best
    * candidate by margin survives (ties → smaller target id).
    *
    * Shape at scale: two [[topKBatch]] passes (forward src→tgt over the
    * bounded query slice, backward over its ≤|src|·k distinct candidates)
    * — each a map-side bounded heap over the corpus, no corpus shuffle;
    * the margin algebra is two tiny aggregates joined back to the k·|src|
    * forward edges. Cosines sum in exact decimal so the margin (one
    * double divide) replays bit-for-bit in the oracle.
    *
    * Returns (src_id, tgt_id, cosine, margin) ordered by src_id. */
  def marginMining(src: DataFrame, srcIdCol: String, tgt: DataFrame,
                   tgtIdCol: String, vecCol: String, k: Int,
                   minMargin: Double = 1.0): DataFrame = {
    // cos reconstructed as 1 − distance: the SAME two rounding steps the
    // oracle replays (cos → 1−cos in the heap → back), keeping doubles
    // bit-identical on both sides
    val fwd = topKBatch(tgt, vecCol, tgtIdCol, src, vecCol, srcIdCol, k)
      .select(col("query_id").as("src_id"), col(tgtIdCol).as("tgt_id"),
        (lit(1.0) - col("distance")).as("cos"))
    val cands = tgt.join(
      fwd.select(col("tgt_id").as(tgtIdCol)).distinct(), tgtIdCol)
    val bwd = topKBatch(src, vecCol, srcIdCol, cands, vecCol, tgtIdCol, k)
      .select(col("query_id").as("tgt_id"),
        (lit(1.0) - col("distance")).as("cos"))
    val dec = "decimal(30,12)"
    val fsum = fwd.groupBy("src_id")
      .agg(sum(col("cos").cast(dec)).as("_fsum"))
    val bsum = bwd.groupBy("tgt_id")
      .agg(sum(col("cos").cast(dec)).as("_bsum"))
    val wBest = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    fwd.join(fsum, "src_id").join(bsum, "tgt_id")
      .withColumn("margin", (lit(2.0 * k) * col("cos")) /
        (col("_fsum") + col("_bsum")).cast("double"))
      .withColumn("_rn", row_number().over(wBest))
      .filter(col("_rn") === 1 && col("margin") > minMargin)
      .select(col("src_id"), col("tgt_id"),
        col("cos").as("cosine"), col("margin"))
  }

  /** IVF-style ANN: assign each corpus row to its nearest of `centroids`
    * (broadcast), then for a query scan only rows whose centroid is among
    * the `nProbe` closest centroids to the query. At cluster scale the
    * corpus is written partitioned by `centroid_id`, so the probe is a
    * partition-pruned scan. */
  def ivfAssign(corpus: DataFrame, vecCol: String,
                centroids: Seq[(Int, Seq[Float])]): DataFrame = {
    val cents = centroids.map { case (id, v) => s"struct(${id}, array(${v.mkString(",")}))" }
    val assigned = expr(
      s"""aggregate(array(${cents.mkString(",")}),
         |  struct(cast(-1 as int) as id, cast('Infinity' as double) as d),
         |  (acc, c) -> if(
         |    aggregate(zip_with($vecCol, c.col2, (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), 0D, (a, v) -> a + v) < acc.d,
         |    struct(c.col1 as id,
         |      aggregate(zip_with($vecCol, c.col2, (x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), 0D, (a, v) -> a + v) as d),
         |    acc))""".stripMargin)
    corpus.withColumn("centroid_id", assigned.getField("id"))
  }
}
