package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet-backed inverted-index store, bucketed by a term hash.
  *
  * The persistence layer for [[graft.operators.Retrieval.invertedIndex]]:
  * posting lists land `partitionBy("bucket")` where bucket =
  * scrambleHash(term-polyhash) mod nBuckets, so a term lookup is a
  * PARTITION-PRUNED scan of one bucket directory — at 100 TB the index
  * shards into nBuckets independent directories and a query touches
  * |query terms| of them, never the full index. Files are published
  * through [[StoreFiles]].
  *
  * The bucket function is the oracle-replayable hash family
  * ([[graft.plans.HashExpressions]]): tokenPoly 62-bit term hash →
  * xorshift-multiply scramble → mod nBuckets.
  */
object IndexStore {

  /** Bucket of a term: scramble the rolling-polynomial term hash
    * (uniform across buckets even for short/similar terms). The 62-bit
    * token hash is reduced mod 2^31-1 BEFORE the scramble — keyHash
    * multiplies by PolyBase1, which would overflow a long on 62-bit input
    * under ANSI arithmetic. Over a literal term the whole expression
    * constant-folds, so a lookup's bucket filter plans as literals. */
  def termBucket(term: Column, nBuckets: Int): Column = {
    val th = pmod(
      element_at(call_function("graft_token_polyhashes", term), 1),
      lit(graft.plans.HashExpressions.P2n31))
    pmod(graft.operators.Sketches.keyHash(th), lit(nBuckets.toLong)).cast("int")
  }

  /** The columns [[write]] and [[merge]] leave in the store, in the order
    * a read returns them (the partition column last). [[lookup]] reads
    * with it, so opening the store infers nothing from parquet footers;
    * IndexStoreSpec pins it to what the writers produce. */
  val Schema: StructType = StructType.fromDDL(
    "term STRING, df BIGINT, cf BIGINT, " +
      "postings ARRAY<STRUCT<id: BIGINT, tf: BIGINT>>, bucket INT")

  /** Write an inverted index (term, df, cf, postings) bucketed by term
    * hash. Overwrites the store path. */
  def write(index: DataFrame, path: String, nBuckets: Int): Unit = {
    StoreFiles.writePartitioned(
      index.withColumn("bucket", termBucket(col("term"), nBuckets)), "bucket", path)
  }

  /** Merge a NEW batch's inverted index into a persisted store WITHOUT
    * rebuilding untouched buckets: only the buckets the batch's terms hash
    * into are read, re-aggregated (df/cf sum, posting lists concatenated
    * and re-sorted) and swapped back ([[StoreFiles.mergeTouched]]) — the
    * incremental ingest path, so index maintenance cost scales with the
    * batch, not the corpus. Precondition (standard append ingest): the
    * batch's doc ids are NEW — re-ingesting an existing doc would
    * double-count its postings; delete-then-merge for replacement. An
    * empty batch is a no-op. */
  def merge(spark: SparkSession, path: String, newIndex: DataFrame,
            nBuckets: Int): Unit = {
    StoreFiles.mergeTouched(spark, path, "bucket",
        newIndex.withColumn("bucket", termBucket(col("term"), nBuckets))) {
      (existing, added) => existing.unionByName(added)
        .groupBy("bucket", "term")
        .agg(sum("df").as("df"), sum("cf").as("cf"),
          sort_array(flatten(collect_list(col("postings")))).as("postings"))
        .select("term", "df", "cf", "postings", "bucket")
    }
  }

  /** Look up posting lists for `terms`: reads ONLY the partitions of
    * their buckets. The bucket filter is planned, not collected: each
    * term's [[termBucket]] folds to a literal, so the scan's
    * PartitionFilters hold `bucket IN (…)` (pinned by IndexStoreSpec), and
    * the read declares [[Schema]]. Building the frame runs no Spark job. */
  def lookup(spark: SparkSession, path: String, terms: Seq[String],
             nBuckets: Int): DataFrame =
    spark.read.schema(Schema).parquet(path)
      .filter(col("bucket").isin(terms.distinct.map(t => termBucket(lit(t), nBuckets)): _*))
      .filter(col("term").isin(terms: _*))
}
