package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.store.StoreFiles

/** The store-publish protocol every partitioned store merges through. */
class StoreFilesSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): String = {
    val path = Files.createTempDirectory("graft-storefiles").resolve("s").toString
    StoreFiles.writePartitioned(
      (0 until 12).map(i => (i.toLong, i % 3)).toDF("id", "p"), "p", path)
    path
  }

  test("mergeTouched rewrites only the touched partitions and clears leftovers") {
    val path = freshStore()
    val leftover = Paths.get(s"${path}_old_1")
    Files.createDirectories(leftover)
    Files.writeString(leftover.resolve("part-0.parquet"), "garbage")
    val before = MergeProbe.cellListing(path)
    val touched = StoreFiles.mergeTouched(spark, path, "p",
      Seq((100L, 1), (101L, 1)).toDF("id", "p"))(_ unionByName _)
    assert(touched == Seq(1))
    val after = MergeProbe.cellListing(path)
    assert(after.keySet == Set("p=0", "p=1", "p=2"))
    assert(after("p=0") == before("p=0") && after("p=2") == before("p=2"))
    assert(after("p=1") != before("p=1"))
    assert(spark.read.parquet(path).filter(col("p") === 1)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 4L, 7L, 10L, 100L, 101L))
    assert(!Files.exists(leftover))
    assert(!Files.exists(Paths.get(path + "_staging")))
  }

  test("mergeTouched of an empty batch writes nothing") {
    val path = freshStore()
    val before = MergeProbe.cellListing(path)
    val touched = StoreFiles.mergeTouched(spark, path, "p",
      Seq.empty[(Long, Int)].toDF("id", "p"))(_ unionByName _)
    assert(touched == Seq())
    assert(MergeProbe.cellListing(path) == before)
    assert(!Files.exists(Paths.get(path + "_staging")))
  }
}
