package graft.store

import graft.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed navigable-graph index: a kNN graph (built by
  * [[graft.operators.Similarity.knnGraph]], refined by
  * [[graft.operators.Similarity.nnDescentRefine]]) persisted as adjacency
  * rows `partitionBy("bucket")` where `bucket = id mod nBuckets` — so a
  * beam-search round's neighbor fetch is a PARTITION-PRUNED point lookup
  * of exactly the beam's buckets, never a graph scan. This is the
  * build-once/serve-many half the reference gets from its persisted HNSW
  * index (reference: src/server/app/embed/vector_store.py:266-271, index
  * types embed/schemas.py:17): without it a standing corpus re-pays the
  * O(N·k·degree) graph build every session; with it a session pays
  * `iters` pruned lookups of ≤ beam·k edge rows.
  *
  * Files are published through [[StoreFiles]]. At 100 TB the adjacency
  * store is ~N·k rows of (long, int, long, double): three orders smaller
  * than the corpus, and the probe path reads O(beam) directories of it.
  */
object GraphStore {

  /** Persist a (id, rank, nbr_id, distance) graph bucketed by source id. */
  def write(graph: DataFrame, path: String, nBuckets: Int = 64): Unit =
    StoreFiles.writePartitioned(graph.withColumn("bucket", bucket(nBuckets)),
      "bucket", path)

  private def bucket(nBuckets: Int) =
    pmod(col("id"), lit(nBuckets.toLong)).cast("int")

  /** Full adjacency read — the serving path for whole-graph ANALYTICS
    * (centrality, diameter, shortest paths), where the entire edge set is
    * the operator's input so there is nothing to partition-prune; the win
    * over an inline rebuild is that the O(N·k·cell) kNN construction was
    * paid ONCE at [[write]] time and every analytics session reads back
    * N·k adjacency rows (three orders smaller than the corpus). Column
    * pruning still applies: select only the columns the operator needs so
    * the scan's ReadSchema drops `distance` when the algorithm is
    * unweighted (pinned by GraphStoreSpec). */
  def readEdges(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("id"), col("rank"), col("nbr_id"), col("distance"))

  /** Adjacency rows of the given nodes, reading ONLY their buckets: the
    * `bucket` predicate lands in the scan's PartitionFilters (pinned by
    * GraphStoreSpec), the `id` predicate in PushedFilters — unprobed
    * bucket directories are never opened. */
  def neighbors(spark: SparkSession, path: String, ids: Seq[Long],
                nBuckets: Int): DataFrame = {
    val buckets = ids.map(i => Integer.valueOf((i % nBuckets).toInt)).distinct
    spark.read.parquet(path)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("id").isin(ids.map(java.lang.Long.valueOf): _*))
  }

  /** Greedy beam search served FROM THE STORE — output-identical to
    * [[graft.operators.Similarity.graphBeamSearch]] on the same graph
    * (same expansion, same (distance, id) order, spec-pinned), but each
    * round's edge fetch is a pruned point lookup instead of a join
    * against an in-memory frame. The beam is collected per round — ≤
    * `beam` ids by construction, the same bounded-driver-state pattern as
    * AnnStore.merge's touched-cell list — because partition pruning needs
    * literal bucket values at plan time; that collect is exactly what
    * makes the 100 TB probe read O(beam) directories. */
  def beamSearch(spark: SparkSession, path: String, nBuckets: Int,
                 corpus: DataFrame, vecCol: String, idCol: String,
                 queryId: Long, entryIds: Seq[Long], beam: Int, iters: Int,
                 k: Int): DataFrame = {
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
    var beamDf = score(entryIds.toDF("cand"))
    for (_ <- 1 to iters) {
      val beamIds = beamDf.select("cand").collect().map(_.getLong(0)).toSeq
      val expanded = neighbors(spark, path, beamIds, nBuckets)
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

  /** HNSW-style hierarchical entry selection for [[beamSearch]]: instead
    * of fixed seed ids, descend a CENTROID-LEVEL coarse graph to pick the
    * entry points — the log-descent role of HNSW's upper layers
    * (reference: embed/schemas.py:17 HNSW index type), built from the
    * same codebook the IVF cells use.
    *
    * Layers:
    *   1. coarse graph — each centroid's `coarseK` nearest other
    *      centroids by L2 (the probe-selection metric of
    *      [[graft.operators.Similarity.nearestCentroidIds]]);
    *   2. greedy descent — from `startCid`, hop to the candidate
    *      (current cell ∪ its coarse neighbors) nearest the query,
    *      `descentHops` rounds, ties to the smaller cid;
    *   3. entry cells — the landed cell plus its coarse neighbors;
    *      entry POINTS are each cell's medoid (member with the smallest
    *      `centroid_dist`, ties to the smaller id);
    *   4. fine layer — [[beamSearch]] from those entries over the
    *      persisted adjacency store (cosine, unchanged).
    *
    * Scale shape: every coarse structure is CODEBOOK-sized (nlist rows —
    * bounded by construction, the same boundedness
    * [[graft.operators.Similarity.assignNearestCentroid]] already leans
    * on when it collects the codebook), so collecting the coarse
    * distances and edges for the sequential descent is O(nlist), not
    * O(corpus); the only corpus-scale work is the medoid argmin (one
    * map-side min_by over the entry cells' members) and the fine beam
    * probe, which reads O(beam) pruned buckets. All distances are
    * computed by the SAME Spark expressions the flat path uses
    * (graft_l2_distance / graft_cosine_distance), so a SQL oracle
    * replays every hop exactly.
    *
    * `assigned` must carry `centroid_id` + `centroid_dist` from
    * [[graft.operators.Similarity.assignNearestCentroid]] along with the
    * id and vector columns. */
  def hierarchicalBeamSearch(spark: SparkSession, path: String,
      nBuckets: Int, assigned: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      queryId: Long, startCid: Int, coarseK: Int, descentHops: Int,
      beam: Int, iters: Int, k: Int): DataFrame = {
    val cents = centroids.select(col(cidCol).cast("int").as("_cid"),
      col(cvecCol).as("_cv"))
        .transform(Lineage.cut(_, "GraphStore.hierarchicalBeamSearch.cents"))
    val qv = broadcast(assigned.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_qv")))
    // codebook-sized frames, collected once for the sequential descent
    val cdist = cents.crossJoin(qv)
      .select(col("_cid"), call_function("graft_l2_distance",
        col("_cv"), col("_qv")).as("_cd"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val coarseNbrs = {
      val l = cents.select(col("_cid").as("_a"), col("_cv").as("_av"))
      val r = cents.select(col("_cid").as("_b"), col("_cv").as("_bv"))
      val w = Window.partitionBy("_a").orderBy(col("_d").asc, col("_b").asc)
      l.join(r, col("_a") =!= col("_b"))
        .select(col("_a"), col("_b"), call_function("graft_l2_distance",
          col("_av"), col("_bv")).as("_d"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= coarseK)
        .select("_a", "_b")
        .collect().map(r => (r.getInt(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    }
    var cur = startCid
    for (_ <- 1 to descentHops) {
      val cands = (cur +: coarseNbrs.getOrElse(cur, Seq.empty)).distinct
      cur = cands.map(c => (cdist(c), c)).min._2
    }
    val entryCids = (cur +: coarseNbrs.getOrElse(cur, Seq.empty)).distinct
    // medoid of each entry cell: one bounded argmin over the cells'
    // members — ≤ coarseK+1 rows come back
    val entryIds = assigned
      .filter(col("centroid_id").isin(entryCids.map(Integer.valueOf): _*))
      .groupBy(col("centroid_id"))
      .agg(min_by(col(idCol),
        struct(col("centroid_dist"), col(idCol))).as("_entry"))
      .select(col("_entry").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    beamSearch(spark, path, nBuckets, assigned, vecCol, idCol,
      queryId, entryIds, beam, iters, k)
  }

  /** [[hierarchicalBeamSearch]] generalized to L ≥ 3 layers — the full
    * HNSW layer stack rather than one coarse level: `layerPrefixes`
    * (strictly increasing, each < nlist) name NESTED PREFIX layers of
    * the codebook by cid — layer ℓ's members are the centroids with
    * cid < layerPrefixes(ℓ), the bottom layer is the whole codebook —
    * exactly HNSW's nesting invariant (every upper-layer node exists in
    * all lower layers), which is what makes the descent structural: the
    * node greedy descent lands on in layer ℓ IS a member of layer ℓ+1
    * and seeds it directly. Per layer: `hopsPerLayer` greedy hops over
    * that layer's own coarseK-NN graph (L2 among members, ties to the
    * smaller cid — [[graft.operators.Similarity.nearestCentroidIds]]'s
    * metric, computed index-order so DuckDB's list_distance replays it
    * bit-for-bit). After the bottom layer the landed cell + its coarse
    * neighbors contribute their medoids as beam entries, as in the
    * 2-level form.
    *
    * Scale shape: every layer structure is codebook-sized (the whole
    * stack is collected once, ≤ nlist vectors), so the L-layer descent
    * is O(L · coarseK · dim) DRIVER arithmetic — the log-descent HNSW
    * buys, with the only corpus-scale legs unchanged: the medoid argmin
    * over entry cells and the pruned fine beam probe. */
  def layeredBeamSearch(spark: SparkSession, path: String,
      nBuckets: Int, assigned: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      layerPrefixes: Seq[Int], queryId: Long, startCid: Int,
      coarseK: Int, hopsPerLayer: Int, beam: Int, iters: Int,
      k: Int): DataFrame = {
    val cents = centroids
      .select(col(cidCol).cast("int"), col(cvecCol).cast("array<float>"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1).toSeq
    require(layerPrefixes.nonEmpty && layerPrefixes == layerPrefixes.sorted
      && layerPrefixes.distinct == layerPrefixes
      && layerPrefixes.last < cents.size,
      s"layerPrefixes must be strictly increasing and < nlist=${cents.size}")
    require(startCid < layerPrefixes.head,
      "startCid must be a member of the TOP layer")
    val byCid = cents.toMap
    // index-order double L2 — the exact arithmetic of list_distance and
    // graft_l2_distance, so every hop replays in SQL
    def l2(a: Seq[Float], b: Seq[Float]): Double = {
      var acc = 0.0; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      math.sqrt(acc)
    }
    val qv = assigned.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<float>")).head().getSeq[Float](0)
    val cdist = cents.map { case (c, v) => c -> l2(v, qv) }.toMap
    var cur = startCid
    var bottomNbrs: Seq[Int] = Seq.empty
    for (p <- layerPrefixes :+ cents.size) {
      val members = cents.filter(_._1 < p)
      def nbrs(c: Int): Seq[Int] = members.filter(_._1 != c)
        .map { case (o, ov) => (l2(byCid(c), ov), o) }
        .sorted.take(coarseK).map(_._2)
      for (_ <- 1 to hopsPerLayer) {
        val cands = (cur +: nbrs(cur)).distinct
        cur = cands.map(c => (cdist(c), c)).min._2
      }
      bottomNbrs = nbrs(cur)
    }
    val entryCids = (cur +: bottomNbrs).distinct
    val entryIds = assigned
      .filter(col("centroid_id").isin(entryCids.map(Integer.valueOf): _*))
      .groupBy(col("centroid_id"))
      .agg(min_by(col(idCol),
        struct(col("centroid_dist"), col(idCol))).as("_entry"))
      .select(col("_entry").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq
    beamSearch(spark, path, nBuckets, assigned, vecCol, idCol,
      queryId, entryIds, beam, iters, k)
  }

  /** Incremental node insert — the HNSW insert shape (link the new node
    * to its k nearest, add the reverse links, trim every touched list
    * back to k), as a bucket merge: exact top-k out-edges for each batch
    * node (bounded batch → map-side heap scan, no corpus shuffle), the
    * reverse edges, then ONLY the ≤ (k+1)·|batch| touched buckets are
    * read back, re-ranked per node under the same (distance, id) order,
    * and swapped in ([[StoreFiles.mergeTouched]]). The
    * REWRITE is O(touched buckets), but the exact forward-edge search is
    * a map-side scan of the old corpus — one linear-in-corpus term per
    * ingest. [[mergeScoped]] is the scale path that removes it (IVF
    * probed-cell candidates, partition-pruned); keep this exact variant
    * for bounded corpora and as the definitional gate (q382).
    * Semantics (oracle-stated by q382): merged = top-k re-rank of
    * old edges ∪ {n→NNk(n)} ∪ {NNk(n)→n} per node; nodes outside the
    * touched set keep their lists verbatim. A periodic
    * [[graft.operators.Similarity.nnDescentRefine]] + rewrite restores
    * full build quality, exactly like HNSW's offline re-link. */
  def merge(spark: SparkSession, path: String, nBuckets: Int,
            oldCorpus: DataFrame, batch: DataFrame, vecCol: String,
            idCol: String, k: Int): Unit = {
    val fwd = graft.operators.Similarity.topKBatch(
        oldCorpus, vecCol, idCol, batch, vecCol, idCol, k)
      .select(col("query_id").as("id"), col(idCol).cast("long").as("nbr_id"),
        col("distance"))
    landForwardEdges(spark, path, nBuckets, fwd, k)
  }

  /** [[merge]] with the one O(corpus) term REMOVED — the scale path for
    * a standing graph index. [[merge]]'s exact forward-edge search scans
    * the whole old corpus per batch; here candidates come from the IVF
    * discipline instead (the same cells an [[AnnStore]] probe would
    * read): each batch node searches ONLY the `nProbe` cells whose
    * centroids are nearest it, via
    * [[graft.operators.Similarity.ivfSearchBatch]]. `oldAssigned` is the
    * cell-assigned corpus (id, vector, centroid_id) — at scale the
    * AnnStore parquet itself, which this method pre-filters to the
    * batch's probed-cell UNION as literal values so the scan
    * PARTITION-PRUNES (the only driver state is that cell list, bounded
    * by the ≤256-centroid cap). Ingest cost is O(batch · probed-cell
    * rows), independent of corpus size (MergeProbe's graph leg measures
    * the flat line).
    *
    * Semantics: identical to [[merge]] except forward neighbors are the
    * probed-cell top-k rather than the exact corpus top-k — with
    * `nProbe` = number of cells it degenerates to [[merge]] exactly
    * (GraphStoreSpec pins this); recall at smaller nProbe is the IVF
    * trade-off, measured by the q556 gate the way q103 measures the
    * probe path. A periodic
    * [[graft.operators.Similarity.nnDescentRefine]] + rewrite restores
    * full build quality, exactly like HNSW's offline re-link. */
  def mergeScoped(spark: SparkSession, path: String, nBuckets: Int,
                  oldAssigned: DataFrame, centroids: DataFrame,
                  cidCol: String, cvecCol: String, nProbe: Int,
                  batch: DataFrame, vecCol: String, idCol: String,
                  k: Int): Unit = {
    // the batch's probed-cell union: ≤ |centroids| ids by construction
    // (the engine enforces ≤256 centroids), collected so the assigned
    // corpus can be filtered by LITERALS — on a partitionBy(centroid_id)
    // store that lands in PartitionFilters and unprobed cell directories
    // are never opened
    val wProbe = Window.partitionBy(col("_qid"))
      .orderBy(col("_cdist").asc, col("centroid_id").asc)
    val probedCells = batch
      .select(col(idCol).cast("long").as("_qid"), col(vecCol).as("_qv"))
      .crossJoin(broadcast(centroids.select(
        // defensive cast, mirroring assignNearestCentroid: a long/bigint
        // centroid-id column must not ClassCastException in the collect
        col(cidCol).cast("int").as("centroid_id"), col(cvecCol).as("_cv"))))
      .withColumn("_cdist",
        call_function("graft_l2_distance", col("_qv"), col("_cv")))
      .withColumn("_rn", row_number().over(wProbe))
      .filter(col("_rn") <= nProbe)
      .select("centroid_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val scoped = oldAssigned.filter(
      col("centroid_id").isin(probedCells.map(Integer.valueOf).toSeq: _*))
    val fwd = graft.operators.Similarity.ivfSearchBatch(scoped, vecCol,
        idCol, centroids, cidCol, cvecCol, batch, vecCol, idCol, k, nProbe)
      .select(col("query_id").as("id"), col(idCol).cast("long").as("nbr_id"),
        col("distance"))
    landForwardEdges(spark, path, nBuckets, fwd, k)
  }

  /** Shared landing half of [[merge]]/[[mergeScoped]]: reverse links,
    * then a touched-bucket merge ([[StoreFiles.mergeTouched]]) that
    * re-ranks each node to k under the (distance, id) order. Cost is
    * O(touched buckets), never O(store). */
  private def landForwardEdges(spark: SparkSession, path: String,
                               nBuckets: Int, fwd: DataFrame,
                               k: Int): Unit = {
    val rev = fwd.select(col("nbr_id").as("id"), col("id").as("nbr_id"),
      col("distance"))
    val w = Window.partitionBy("id")
      .orderBy(col("distance").asc, col("nbr_id").asc)
    StoreFiles.mergeTouched(spark, path, "bucket",
        fwd.unionByName(rev).withColumn("bucket", bucket(nBuckets))) {
      (existing, added) => existing
        .select(col("id"), col("nbr_id"), col("distance"), col("bucket"))
        .unionByName(added)
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= k)
        .select(col("id"), col("rank"), col("nbr_id"), col("distance"),
          col("bucket"))
    }
  }
}
