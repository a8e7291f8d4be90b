package graft.store

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** How a store's files are published — the one module that knows it
  * (the reference stages into a `_TMP` table and promotes it,
  * embed/vector_store.py:122-264). Every store here is a parquet dir,
  * usually `partitionBy` one int column; a rewrite is staged and
  * promoted with [[swap]]. */
object StoreFiles {

  /** Overwrite `path` with `df` partitioned by `partCol`. `repartition`
    * by the partition column first so each partition dir is written by
    * one task — without it every task writes a sliver of every partition
    * and the store fragments into nTasks × nPartitions small files. */
  def writePartitioned(df: DataFrame, partCol: String, path: String): Unit =
    df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Promote dir `src` to `dst`, backing `dst` up to `old` first. Each
    * rename is atomic, the pair is not: a crash between them leaves `dst`
    * absent until the next publish. A leftover `old` from a crashed
    * cleanup is garbage and is cleared first, so one crash never wedges
    * later swaps. A missing `src` means the partition is now empty. */
  def swap(src: String, dst: String, old: String): Unit = {
    val (s, d, o) = (Paths.get(src), Paths.get(dst), Paths.get(old))
    FileUtils.deleteDirectory(o.toFile)
    if (Files.exists(d)) Files.move(d, o, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(s)) Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
    FileUtils.deleteDirectory(o.toFile)
  }

  /** Merge `batch` (which carries int column `partCol`) into the store at
    * `path`, rewriting ONLY the partitions the batch lands in: those are
    * read back (partition-pruned), `combine(existing, batch)` is staged
    * under `path + "_staging"`, and each touched partition is swapped in.
    * Untouched partition dirs are never opened, so the cost scales with
    * the batch, not the store. Returns the touched partitions; an empty
    * batch writes nothing. The batch is cached for the merge and released
    * even when it throws. */
  def mergeTouched(spark: SparkSession, path: String, partCol: String,
                   batch: DataFrame)(
                   combine: (DataFrame, DataFrame) => DataFrame): Seq[Int] = {
    val cached = batch.cache()
    try {
      val parts = cached.select(partCol).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      if (parts.nonEmpty) {
        val existing = spark.read.parquet(path)
          .filter(col(partCol).isin(parts.map(Integer.valueOf): _*))
        val staging = path + "_staging"
        writePartitioned(combine(existing, cached), partCol, staging)
        parts.foreach(p => swap(s"$staging/$partCol=$p",
          s"$path/$partCol=$p", s"${path}_old_$p"))
        FileUtils.deleteDirectory(new File(staging))
      }
      parts
    } finally cached.unpersist()
  }
}
