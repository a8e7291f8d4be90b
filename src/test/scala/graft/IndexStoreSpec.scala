package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval
import graft.store.IndexStore

class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  test("index store round-trip: lookup returns exactly the written postings") {
    val df = Seq((1L, "a b a"), (2L, "b c"), (3L, "a")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(df, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    IndexStore.write(idx, path, nBuckets = 4)
    val got = IndexStore.lookup(spark, path, Seq("a", "c"), 4)
      .select("term", "df", "cf").as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.keySet == Set("a", "c"))
    assert(got("a") == ((2L, 3L))) // docs 1 (tf 2) and 3 (tf 1)
    assert(got("c") == ((1L, 1L)))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("lookup partition-prunes to the probed term buckets") {
    val docs = (0 until 64).map(i => (i.toLong, s"term$i")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(docs, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx2").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    IndexStore.write(idx, path, nBuckets = 8)
    val look = IndexStore.lookup(spark, path, Seq("term7"), 8)
    val p = look.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the bucket filter must land in PartitionFilters (pruned directories),
    // not as a post-scan Filter over the whole index
    assert(p.contains("PartitionFilters") && p.contains("bucket"))
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).isDefined, p)
    assert(look.select("term").as[String].collect().toSeq == Seq("term7"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("lookup plans its bucket filter: building the frame runs no job") {
    val docs = (0 until 16).map(i => (i.toLong, s"w$i w${i % 3}")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_plan").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    IndexStore.write(Retrieval.invertedIndex(docs, "doc_id", "text"), path, 8)
    // no bucket-id collect and no footer schema inference
    val (look, jobs) = withJobCount(IndexStore.lookup(spark, path, Seq("w1", "w5"), 8))
    assert(jobs == 0L, s"building the lookup ran $jobs jobs")
    assert(look.select("term").as[String].collect().sorted.toSeq == Seq("w1", "w5"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("the schema lookup declares is the one write and merge produce") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_schema").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    IndexStore.write(Retrieval.invertedIndex(
      Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text"), "doc_id", "text"), path, 4)
    IndexStore.merge(spark, path, Retrieval.invertedIndex(
      Seq((3L, "a d"), (4L, "e")).toDF("doc_id", "text"), "doc_id", "text"), 4)
    def fields(t: org.apache.spark.sql.types.StructType) = t.fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(spark.read.parquet(path).schema) == fields(IndexStore.Schema))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("incremental merge equals a full rebuild; untouched buckets stay put") {
    val c1 = (0 until 32).map(i => (i.toLong, s"alpha t$i shared"))
      .toDF("doc_id", "text")
    val c2 = Seq((100L, "alpha beta"), (101L, "beta shared"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxm").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    IndexStore.write(Retrieval.invertedIndex(c1, "doc_id", "text"), path, 8)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val touched = Seq("alpha", "beta", "shared").toDF("term")
      .select(IndexStore.termBucket(col("term"), 8).as("b")).as[Int].collect().toSet
    def listing(b: Int): Set[String] = {
      val d = new java.io.File(s"$path/bucket=$b")
      if (d.exists()) d.list().toSet else Set.empty
    }
    val before = (0 until 8).filterNot(touched).map(b => b -> listing(b)).toMap
    IndexStore.merge(spark, path,
      Retrieval.invertedIndex(c2, "doc_id", "text"), 8)
    // untouched bucket directories were never rewritten (same files)
    before.foreach { case (b, files) => assert(listing(b) == files, s"bucket $b") }
    // merged store ≡ full rebuild over the union corpus
    val rebuiltPath = s"${dir.getAbsolutePath}/full"
    IndexStore.write(
      Retrieval.invertedIndex(c1.unionByName(c2), "doc_id", "text"), rebuiltPath, 8)
    def all(p: String) = spark.read.parquet(p)
      .select(col("term"), col("df"), col("cf"), to_json(col("postings")).as("p"))
      .as[(String, Long, Long, String)].collect().toSet
    assert(all(path) == all(rebuiltPath))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("a merge into a missing store fails and releases its cached batch") {
    val idx = Retrieval.invertedIndex(Seq((1L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_idxmiss").toFile
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[org.apache.spark.sql.AnalysisException] {
      IndexStore.merge(spark, s"${dir.getAbsolutePath}/missing", idx, 4)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("ANN store: probe partition-prunes to the nProbe cell directories") {
    import graft.operators.Similarity
    import graft.store.AnnStore
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.05f, 0.95f)),
      (5L, Seq(-1.0f, 0.0f)), (6L, Seq(-0.9f, -0.1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(0 -> Seq(1.0f, 0.0f), 1 -> Seq(0.0f, 1.0f), 2 -> Seq(-1.0f, 0.0f))
    val centsDf = cents.toDF("cid", "cv")
    val assigned = Similarity.assignNearestCentroid(
      corpus, "embedding", "vec_id", centsDf, "cid", "cv")
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toFile
    val path = s"${dir.getAbsolutePath}/ann"
    AnnStore.write(assigned, path)
    val probed = AnnStore.probe(spark, path, cents, Seq(0.9f, 0.1f),
      "embedding", "vec_id", k = 4, nProbe = 1)
    val p = probed.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the centroid filter must prune cell DIRECTORIES, not post-filter rows
    assert("PartitionFilters: \\[[^\\]]*centroid_id".r.findFirstIn(p).isDefined, p)
    // only cell 0's members are reachable with nProbe=1
    assert(probed.select("vec_id").as[Long].collect().toSeq == Seq(2L, 1L))
    // probe ≡ ivfSearch on the same assignment (store adds no semantics)
    val direct = Similarity.ivfSearch(assigned, "embedding", "vec_id",
        cents, Seq(0.9f, 0.1f), k = 4, nProbe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed.select("vec_id").as[Long].collect().toSeq == direct)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("ANN store merge equals a full rebuild; untouched cells stay put") {
    import graft.operators.Similarity
    import graft.store.AnnStore
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.05f, 0.95f)),
      (5L, Seq(-1.0f, 0.0f)), (6L, Seq(-0.9f, -0.1f)))
      .toDF("vec_id", "embedding")
    val centsDf = Seq(0 -> Seq(1.0f, 0.0f), 1 -> Seq(0.0f, 1.0f),
      2 -> Seq(-1.0f, 0.0f)).toDF("cid", "cv")
    def assign(df: org.apache.spark.sql.DataFrame) =
      Similarity.assignNearestCentroid(df, "embedding", "vec_id",
        centsDf, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_m").toFile
    val mergedPath = s"${dir.getAbsolutePath}/merged"
    val fullPath = s"${dir.getAbsolutePath}/full"
    // base = vectors 1,2 (cell 0 only); batch = the rest (cells 1 and 2)
    AnnStore.write(assign(corpus.filter(col("vec_id") <= 2)), mergedPath)
    val cell0Before = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(mergedPath, "centroid_id=0"))
    AnnStore.merge(spark, mergedPath, corpus.filter(col("vec_id") > 2),
      centsDf, "cid", "cv", "embedding", "vec_id")
    AnnStore.write(assign(corpus), fullPath)
    def slurp(p: String) = spark.read.parquet(p)
      .select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().toSet
    assert(slurp(mergedPath) == slurp(fullPath))
    // the batch touched cells 1/2 only: cell 0's directory was not swapped
    assert(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(mergedPath, "centroid_id=0")) == cell0Before)
    // no staging or _old leftovers
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(mergedPath + "_staging")))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("store layout: every cell holds exactly ONE data file, after write AND merge") {
    // the repartition(partitionCol)-before-write discipline: without it a
    // store fragments into nTasks × nCells files and merge cost stops
    // being O(touched cells). Pinned for both stores (MergeProbe measures
    // the same property at 8×-replicated sf0.1 scale).
    import graft.operators.{Retrieval, Similarity}
    import graft.store.{AnnStore, IndexStore}
    def dataFiles(root: String): Map[String, Int] = {
      val d = new java.io.File(root)
      d.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
        .map(c => c.getName ->
          c.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_onefile").toFile
    // index store: 32 docs over 8 buckets, then a merge batch
    val idxPath = s"${dir.getAbsolutePath}/idx"
    val c1 = (0 until 32).map(i => (i.toLong, s"alpha t$i shared")).toDF("doc_id", "text")
    IndexStore.write(Retrieval.invertedIndex(c1, "doc_id", "text"), idxPath, 8)
    assert(dataFiles(idxPath).values.forall(_ == 1), dataFiles(idxPath))
    IndexStore.merge(spark, idxPath, Retrieval.invertedIndex(
      Seq((100L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text"), 8)
    assert(dataFiles(idxPath).values.forall(_ == 1), dataFiles(idxPath))
    // ANN store: 3 cells, then a merge batch into one cell
    val annPath = s"${dir.getAbsolutePath}/ann"
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.05f)),
      (3L, Seq(0.0f, 1.0f)), (5L, Seq(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val centsDf = Seq(0 -> Seq(1.0f, 0.0f), 1 -> Seq(0.0f, 1.0f),
      2 -> Seq(-1.0f, 0.0f)).toDF("cid", "cv")
    AnnStore.write(Similarity.assignNearestCentroid(corpus, "embedding",
      "vec_id", centsDf, "cid", "cv")
      .select(col("vec_id"), col("embedding"), col("centroid_id")), annPath)
    assert(dataFiles(annPath).values.forall(_ == 1), dataFiles(annPath))
    AnnStore.merge(spark, annPath, Seq((9L, Seq(0.99f, 0.01f)))
      .toDF("vec_id", "embedding"), centsDf, "cid", "cv", "embedding", "vec_id")
    assert(dataFiles(annPath).values.forall(_ == 1), dataFiles(annPath))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
