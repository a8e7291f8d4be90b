package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Parquet-backed IVF vector store: the corpus, pre-assigned to coarse
  * centroids ([[Similarity.assignNearestCentroid]]), persisted
  * `partitionBy("centroid_id")` so a probe is a PARTITION-PRUNED scan of
  * the `nProbe` nearest cells — the physical mechanism every
  * "stored partitionBy(centroid_id)" note in [[Similarity]] refers to,
  * made concrete. At 100 TB with nlist=4096 cells, a nProbe=8 query reads
  * ~0.2% of the corpus directories and never touches the rest; the scan's
  * `PartitionFilters` prove the pruning (pinned by IndexStoreSpec's ANN
  * twin). Files are published through [[StoreFiles]].
  *
  * Mirrors the reference's IVF index build-after-merge
  * (reference: src/server/app/embed/vector_store.py:266-271, index types
  * embed/schemas.py:17) as a data layout instead of a database index.
  */
object AnnStore {

  /** Persist an assigned corpus (must carry `centroid_id`) partitioned by
    * cell. */
  def write(assigned: DataFrame, path: String): Unit =
    StoreFiles.writePartitioned(assigned, "centroid_id", path)

  /** Merge a NEW vector batch into a persisted IVF store WITHOUT touching
    * unaffected cells: the batch is assigned map-side to the SAME fixed
    * centroids and only the cells it lands in are rewritten
    * ([[StoreFiles.mergeTouched]]) — vector ingest cost scales with the
    * batch, not the corpus, which is how a 100 TB vector store grows daily
    * without a rebuild. Preconditions match IndexStore.merge: batch ids
    * are new (delete-then-merge for replacement), and the codebook is the
    * store's (centroid drift is a rebuild, not a merge). Empty batch is a
    * no-op. */
  def merge(spark: SparkSession, path: String, batch: DataFrame,
            centroids: DataFrame, cidCol: String, cvCol: String,
            vecCol: String, idCol: String): Unit = {
    val cols = Seq(col(idCol), col(vecCol), col("centroid_id"))
    val assigned = Similarity.assignNearestCentroid(batch, vecCol, idCol,
        centroids, cidCol, cvCol).select(cols: _*)
    StoreFiles.mergeTouched(spark, path, "centroid_id", assigned) {
      (existing, added) => existing.select(cols: _*).unionByName(added) }
  }

  /** Top-k over ONLY the `nProbe` cells nearest the query: the
    * `centroid_id` filter lands in the scan's PartitionFilters, so
    * unprobed cell directories are never opened. Output matches
    * [[Similarity.ivfSearch]] on the same assignment (same probe ranking,
    * same distances, same ties). */
  def probe(spark: SparkSession, path: String,
            centroids: Seq[(Int, Seq[Float])], query: Seq[Float],
            vecCol: String, idCol: String, k: Int, nProbe: Int): DataFrame = {
    val probeIds = Similarity.nearestCentroidIds(centroids, query, nProbe)
    Similarity.topK(
      spark.read.parquet(path).filter(col("centroid_id").isin(probeIds: _*)),
      vecCol, query, k, "COSINE", idCol)
  }
}
