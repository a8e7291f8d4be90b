package graft

import org.apache.spark.sql.functions._
import graft.store.VectorStore
import graft.operators.ChangeDetection
import java.nio.file.Files

class StoreAndRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-store-test").toString

  private def chunkRow(id: String, text: String, fname: String) =
    (id, text, Map("filename" -> fname, "etag" -> s"e-$fname", "time_modified" -> "t1"),
      Seq(1.0f, 0.0f))

  test("store name generation matches the reference rule " +
       "(pinned by tests/embed/test_vector_store.py:35-48)") {
    assert(VectorStore.storeName("openai", "openai", "text-embedding-3-small",
        1000, 100, "COSINE", "HNSW")
      == "OPENAI_OPENAI_TEXT_EMBEDDING_3_SMALL_1000_100_COSINE_HNSW")
  }

  test("filename alias: short names pass through, long names truncate with digest") {
    assert(VectorStore.filenameAlias("doc.txt") == "DOC_TXT")
    val long = VectorStore.filenameAlias("a-very-long-filename-that-exceeds.pdf")
    assert(long.length == 21 && long.startsWith("A_VERY_LONG_"))
  }

  test("write → read → merge is insert-if-absent (reference J1)") {
    val root = freshRoot()
    val df = Seq(chunkRow("a_0", "alpha", "a"), chunkRow("a_1", "beta", "a"))
      .toDF("id", "text", "metadata", "embedding")
    VectorStore.write(df, root, "T1", """{"alias": "t1"}""")
    val incoming = Seq(chunkRow("a_1", "beta CHANGED", "a"), chunkRow("b_0", "gamma", "b"))
      .toDF("id", "text", "metadata", "embedding")
    val inserted = VectorStore.merge(spark, root, "T1", incoming)
    assert(inserted == 1) // a_1 already present → only b_0 inserted
    val after = VectorStore.read(spark, root, "T1")
    assert(after.count() == 3)
    // existing row NOT overwritten (insert-if-absent, not upsert)
    assert(after.filter(col("id") === "a_1").select("text").as[String].head() == "beta")
  }

  test("partitioned upsert rewrites only the affected buckets " +
       "(Delta-style MERGE, reference J8)") {
    val root = freshRoot()
    val df = Seq(chunkRow("a_0", "alpha", "a"), chunkRow("a_1", "beta", "a"),
      chunkRow("b_0", "gamma", "b"), chunkRow("c_0", "delta", "c"))
      .toDF("id", "text", "metadata", "embedding")
    VectorStore.writePartitioned(df, root, "U1", """{"alias": "u1"}""", numBuckets = 8)

    // snapshot the on-disk files of every bucket before the upsert
    def bucketFiles(): Map[String, Set[String]] = {
      val dir = java.nio.file.Paths.get(root, "U1")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("file_bucket="))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.list(p).iterator().asScala
            .map(f => f.getFileName.toString + ":" + java.nio.file.Files.getLastModifiedTime(f))
            .toSet)
        .toMap
    }
    val before = bucketFiles()

    // update a_1, insert a_2 — both filename "a", so exactly one bucket moves
    val incoming = Seq(chunkRow("a_1", "beta UPDATED", "a"), chunkRow("a_2", "new", "a"))
      .toDF("id", "text", "metadata", "embedding")
    val (updated, inserted) = VectorStore.upsertPartitioned(spark, root, "U1", incoming, 8)
    assert((updated, inserted) == (1L, 1L))

    val after = VectorStore.read(spark, root, "U1")
    assert(after.count() == 5)
    assert(after.filter(col("id") === "a_1").select("text").as[String].head() == "beta UPDATED")
    assert(after.filter(col("id") === "a_0").select("text").as[String].head() == "alpha")

    // buckets not containing filename "a" are bit-identical (never rewritten)
    val aBucket = "file_bucket=" + before.keys.map(_.stripPrefix("file_bucket=")).find { b =>
      incoming.sparkSession.range(1).select(
        expr(s"cast(pmod(xxhash64('a'), 8) as int)")).head().getInt(0).toString == b
    }.get
    val untouched = bucketFiles().filter(_._1 != aBucket)
    assert(untouched == before.filter(_._1 != aBucket))
    assert(untouched.nonEmpty)
  }

  test("upsert → partition-pruned probe returns the updated row") {
    val root = freshRoot()
    val df = Seq(chunkRow("a_0", "alpha", "a"), chunkRow("b_0", "beta", "b"))
      .toDF("id", "text", "metadata", "embedding")
    VectorStore.writePartitioned(df, root, "U2", """{"alias": "u2"}""", numBuckets = 8)
    VectorStore.upsertPartitioned(spark, root, "U2",
      Seq(chunkRow("a_0", "alpha v2", "a")).toDF("id", "text", "metadata", "embedding"), 8)
    // the filename probe prunes to bucket(a) and must see the upserted text
    val probed = VectorStore.readForFilename(spark, root, "U2", "a", numBuckets = 8)
      .select("id", "text").as[(String, String)].collect().toSeq
    assert(probed == Seq(("a_0", "alpha v2")))
  }

  test("stale delete removes only the named files' chunks (reference J2)") {
    val root = freshRoot()
    val df = Seq(chunkRow("a_0", "alpha", "a"), chunkRow("b_0", "beta", "b"))
      .toDF("id", "text", "metadata", "embedding")
    VectorStore.write(df, root, "T2", """{"alias": "t2"}""")
    VectorStore.deleteStale(spark, root, "T2", Seq("a"))
    val left = VectorStore.read(spark, root, "T2").select("id").as[String].collect()
    assert(left.toSeq == Seq("b_0"))
  }

  test("stale delete succeeds over a leftover _old dir from a crashed delete") {
    val root = freshRoot()
    val df = Seq(chunkRow("a_0", "alpha", "a"), chunkRow("b_0", "beta", "b"))
      .toDF("id", "text", "metadata", "embedding")
    VectorStore.write(df, root, "T4", """{"alias": "t4"}""")
    val leftover = java.nio.file.Paths.get(root, "_old_T4")
    Files.createDirectories(leftover)
    Files.writeString(leftover.resolve("part-0.parquet"), "garbage")
    VectorStore.deleteStale(spark, root, "T4", Seq("a"))
    val left = VectorStore.read(spark, root, "T4").select("id").as[String].collect()
    assert(left.toSeq == Seq("b_0"))
    val dirs = new java.io.File(root).list().toSeq
    assert(!dirs.exists(d => d.startsWith("_old_") || d.startsWith("_staging_")), dirs)
  }

  test("a rejected upsert releases its cached batch") {
    val root = freshRoot()
    val df = Seq(chunkRow("a_0", "alpha", "a"), chunkRow("b_0", "beta", "b"))
      .toDF("id", "text", "metadata", "embedding")
    VectorStore.writePartitioned(df, root, "U3", """{"alias": "u3"}""", numBuckets = 8)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val nullFilename = Seq(("a_1", "x", Map("etag" -> "e"), Seq(1.0f, 0.0f)))
      .toDF("id", "text", "metadata", "embedding")
    // b_0 re-ingested under filename "c": its old row would be stranded
    val strayId = Seq(chunkRow("b_0", "beta", "c"))
      .toDF("id", "text", "metadata", "embedding")
    for (incoming <- Seq(nullFilename, strayId)) {
      intercept[IllegalArgumentException] {
        VectorStore.upsertPartitioned(spark, root, "U3", incoming, 8)
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    }
  }

  test("catalog lists stores after write") {
    val root = freshRoot()
    val df = Seq(chunkRow("x", "x", "x")).toDF("id", "text", "metadata", "embedding")
    VectorStore.write(df, root, "S_ONE", """{"alias": "one"}""")
    VectorStore.write(df, root, "S_TWO", """{"alias": "two"}""")
    assert(VectorStore.listStores(root).toSet == Set("S_ONE", "S_TWO"))
  }

  test("processedFiles rolls chunks up to one row per file (reference A1)") {
    val root = freshRoot()
    val df = Seq(chunkRow("a_0", "t1", "a"), chunkRow("a_1", "t2", "a"),
      chunkRow("b_0", "t3", "b")).toDF("id", "text", "metadata", "embedding")
    VectorStore.write(df, root, "T3", "{}")
    val rolled = VectorStore.processedFiles(VectorStore.read(spark, root, "T3"))
      .select("filename", "chunks").as[(String, Long)].collect().toMap
    assert(rolled == Map("a" -> 2L, "b" -> 1L))
  }

  test("change detection classifies new/modified/deleted/unchanged/legacy " +
       "(reference oci/bucket.py:164-178; tests test_vector_store.py:372-434)") {
    val current = Seq(
      ("new.txt", "e1", "t1"), ("mod.txt", "e2-changed", "t2"),
      ("same.txt", "e3", "t3"), ("legacy.txt", "e4", "t4"))
      .toDF("name", "etag", "time_modified")
    val processed = Seq(
      ("mod.txt", Some("e2"), Some("t2")), ("same.txt", Some("e3"), Some("t3")),
      ("legacy.txt", None, None), ("gone.txt", Some("e5"), Some("t5")))
      .toDF("filename", "etag", "time_modified")
    val out = ChangeDetection.detectChanges(current, processed)
      .as[(String, String)].collect().toMap
    assert(out == Map(
      "new.txt" -> "new", "mod.txt" -> "modified", "same.txt" -> "unchanged",
      "legacy.txt" -> "unchanged", "gone.txt" -> "deleted"))
  }

  test("scd2Merge equals a full rebuild; closed history passes untouched") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(min * 60000L)
    val all = Seq(
      (1L, 1L, ts(10), "a"), (1L, 2L, ts(20), "b"), (1L, 3L, ts(40), "c"),
      (2L, 4L, ts(15), "x"),                      // user 2: no delta rows
      (3L, 5L, ts(35), "new"))                    // user 3: delta-only
      .toDF("user_id", "event_id", "ts", "event_type")
    val cut = ts(30)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    def build(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp_ntz").as("valid_from"),
        lead(col("ts"), 1).over(w).cast("timestamp_ntz").as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
    val merged = graft.operators.ChangeDetection
      .scd2Merge(build(all.filter(col("ts") < cut)),
        all.filter(col("ts") >= cut))
      .orderBy("user_id", "valid_from").collect().toSeq
    val rebuilt = build(all).orderBy("user_id", "valid_from").collect().toSeq
    assert(merged == rebuilt)
    // the formerly-open interval of user 1 closed at the first delta ts
    val u1b = merged.find(r => r.getLong(0) == 1 && r.getString(1) == "b").get
    assert(!u1b.isNullAt(3) && !u1b.getBoolean(4)) // timestamp_ntz: LocalDateTime
  }

  test("aggState merge across batches == single-pass recompute") {
    import spark.implicits._
    val b1 = Seq(("a", 1L), ("a", 3L), ("b", 5L)).toDF("g", "v")
    val b2 = Seq(("a", 10L), ("b", -2L), ("c", 7L)).toDF("g", "v")
    val merged = graft.operators.ChangeDetection
      .mergeAggStates(
        Seq(graft.operators.ChangeDetection.aggState(b1, Seq("g"), "v"),
          graft.operators.ChangeDetection.aggState(b2, Seq("g"), "v")),
        Seq("g"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        r.getDecimal(2).longValueExact(), r.getLong(3), r.getLong(4),
        r.getDouble(5)))).toMap
    assert(merged("a") == ((3L, 14L, 1L, 10L, 14.0 / 3)))
    assert(merged("b") == ((2L, 3L, -2L, 5L, 1.5)))
    assert(merged("c") == ((1L, 7L, 7L, 7L, 7.0)))
    // the recompute path: one state over the union folds to the same rows
    val direct = graft.operators.ChangeDetection
      .mergeAggStates(Seq(graft.operators.ChangeDetection
        .aggState(b1.unionByName(b2), Seq("g"), "v")), Seq("g"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        r.getDecimal(2).longValueExact(), r.getLong(3), r.getLong(4),
        r.getDouble(5)))).toMap
    assert(merged == direct)
  }

  test("applyChangelog: last writer wins, final delete tombstones the key") {
    import spark.implicits._
    val log = Seq(
      (1L, 1L, "upsert", "x"), (1L, 2L, "upsert", "y"),
      (2L, 1L, "upsert", "x"), (2L, 3L, "delete", "z"),
      (3L, 1L, "delete", "q"),
      (4L, 2L, "delete", "z"), (4L, 5L, "upsert", "w"))
      .toDF("key", "version", "op", "payload")
    val out = graft.operators.ChangeDetection
      .applyChangelog(log, "key", "version", "op")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3)))).toMap
    assert(out == Map(1L -> ((2L, "upsert", "y")),
      4L -> ((5L, "upsert", "w"))))
  }
}
