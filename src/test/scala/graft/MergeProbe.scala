package graft

import org.apache.spark.sql.functions._
import graft.Measure.seconds

/** Incremental-merge scale probe: proves AnnStore.merge and
  * IndexStore.merge cost O(touched cells), not O(store), by sweeping
  * replications ×{1,2,4,8} (the ScaleProbe growth-law discipline): at
  * each rep the store is built from a rep×-replicated corpus and the
  * SAME fixed small batch is merged in — build time must grow ~linearly
  * with the corpus, merge time must stay ~FLAT, and the untouched
  * directories must come back byte-identical at every rep. That flat
  * line is the property that lets a 100 TB store grow daily without a
  * rebuild; ScaleProbeSpec pins its deterministic half (the merged
  * touched-cell contents are replication-invariant).
  *
  * Usage: sbt "Test/runMain graft.MergeProbe [sfDir] [maxRep]"
  */
object MergeProbe {

  private[graft] def cellListing(root: String): Map[String, Set[(String, Long)]] = {
    val d = new java.io.File(root)
    if (!d.exists()) Map.empty
    else d.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(c => c.getName ->
        c.listFiles().map(f => (f.getName, f.length())).toSet).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxRep = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = Session()
    Session.warm(spark, sfDir)
    val reps = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxRep).toSeq
    import spark.implicits._

    // GROWTH LAW sweep (the q428/q142/q387 discipline applied to the
    // store merges): at each replication the BUILD must grow ~linearly
    // with the corpus while the MERGE of the same fixed batch stays
    // ~FLAT — merge reads only the touched cell directories, so store
    // size never enters its cost. untouched_identical proves the
    // directory-level half deterministically at every rep.
    for (rep <- reps) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_mergeprobe").toFile

      // ---- AnnStore: 64-cell IVF over the replicated embeddings --------
      val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val e = (0 until rep).map(i => e0.select(
          (col("vec_id") + i * 1000000L).as("vec_id"), col("embedding")))
        .reduce(_ union _)
      val centroids = e0.filter(col("vec_id") < 64)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
      val assigned = graft.operators.Similarity.assignNearestCentroid(
          e, "embedding", "vec_id", centroids, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val annPath = s"${tmp.getAbsolutePath}/ann"
      val (_, annBuild) = seconds { graft.store.AnnStore.write(assigned, annPath) }
      val storeRows = spark.read.parquet(annPath).count()
      // batch: 100 copies of ONE vector — lands in exactly one cell
      val batch = e0.filter(col("vec_id") === 5)
        .crossJoin(spark.range(100).select((col("id") + 900000000L).as("nid")))
        .select(col("nid").as("vec_id"), col("embedding"))
      val before = cellListing(annPath)
      val (_, annMerge) = seconds { graft.store.AnnStore.merge(spark, annPath,
        batch, centroids, "cid", "cv", "embedding", "vec_id") }
      val after = cellListing(annPath)
      val annTouched = after.keySet.filter(k => before.get(k) != after.get(k))
      val annUntouchedOk = (before.keySet -- annTouched)
        .forall(k => before(k) == after(k))
      println(f"ann  rep=$rep%2d build=${annBuild}%7.2fs rows=$storeRows%9d " +
        f"cells=${after.size}%3d merge=${annMerge}%6.2fs (flat expected) " +
        f"touched=${annTouched.size}%3d " +
        s"untouched_identical=$annUntouchedOk " +
        s"merged_rows=${spark.read.parquet(annPath).count()}")

      // ---- IndexStore: 64-bucket inverted index over replicated docs ----
      val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
      val d = (0 until rep).map(i => d0.select(
          (col("doc_id") + i * 1000000L).as("doc_id"), col("text")))
        .reduce(_ union _)
      val idxPath = s"${tmp.getAbsolutePath}/idx"
      val idx = graft.operators.Retrieval.invertedIndex(d, "doc_id", "text")
      val (_, idxBuild) = seconds { graft.store.IndexStore.write(idx, idxPath, 64) }
      val terms = spark.read.parquet(idxPath).count()
      // batch: 100 new docs sharing a tiny fixed vocabulary — few buckets
      val nb = (0 until 100).map(i =>
        (900000000L + i, "quorum lattice kestrel")).toDF("doc_id", "text")
      val ib = cellListing(idxPath)
      val (_, idxMerge) = seconds { graft.store.IndexStore.merge(spark, idxPath,
        graft.operators.Retrieval.invertedIndex(nb, "doc_id", "text"), 64) }
      val ia = cellListing(idxPath)
      val idxTouched = ia.keySet.filter(k => ib.get(k) != ia.get(k))
      val idxUntouchedOk = (ib.keySet -- idxTouched).forall(k => ib(k) == ia(k))
      println(f"idx  rep=$rep%2d build=${idxBuild}%7.2fs terms=$terms%9d " +
        f"buckets=${ia.size}%3d merge=${idxMerge}%6.2fs (flat expected) " +
        f"touched=${idxTouched.size}%3d " +
        s"untouched_identical=$idxUntouchedOk")

      // ---- GraphStore: 16-bucket kNN adjacency over replicated corpus --
      // The batch is 100 copies of ONE vector with ids in a single
      // mod-16 residue class, so forward edges land in one bucket and
      // reverse edges in the (few) buckets of the copied vector's
      // neighbors — the REWRITE must stay O(touched buckets) with
      // untouched directories byte-identical. Candidate generation is
      // mergeScoped's IVF discipline: the old corpus is the on-disk
      // cell-assigned AnnStore (built once, its cost charged to BUILD),
      // and the merge reads ONLY the batch's probed cell directories —
      // no linear-in-corpus term anywhere in the merge, so the merge
      // line must stay FLAT at ×8 (the r9 exact-scan variant grew with
      // the corpus by construction).
      val centroids8 = e0.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cid"),
          col("embedding").as("cv"))
      val gAssigned = graft.operators.Similarity.assignNearestCentroid(
          e, "embedding", "vec_id", centroids8, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val gAnnPath = s"${tmp.getAbsolutePath}/graph_ann"
      val graph = graft.operators.Similarity.knnGraph(
        gAssigned, "embedding", "vec_id", 3)
      val gPath = s"${tmp.getAbsolutePath}/graph"
      val (_, gBuild) = seconds {
        graft.store.AnnStore.write(gAssigned, gAnnPath)
        graft.store.GraphStore.write(graph, gPath, 16)
      }
      val gEdges = spark.read.parquet(gPath).count()
      val gBatch = e0.filter(col("vec_id") === 5)
        .crossJoin(spark.range(100)
          .select((col("id") * 16 + 900000000L).as("nid")))
        .select(col("nid").as("vec_id"), col("embedding"))
      val gb = cellListing(gPath)
      val (_, gMerge) = seconds { graft.store.GraphStore.mergeScoped(spark,
        gPath, 16, spark.read.parquet(gAnnPath), centroids8, "cid", "cv",
        nProbe = 2, gBatch, "embedding", "vec_id", k = 3) }
      val ga = cellListing(gPath)
      val gTouched = ga.keySet.filter(k => gb.get(k) != ga.get(k))
      val gUntouchedOk = (gb.keySet -- gTouched).forall(k => gb(k) == ga(k))
      println(f"graph rep=$rep%2d build=${gBuild}%7.2fs edges=$gEdges%9d " +
        f"buckets=${ga.size}%3d merge=${gMerge}%6.2fs " +
        f"(flat expected) touched=${gTouched.size}%3d " +
        s"untouched_identical=$gUntouchedOk " +
        s"merged_edges=${spark.read.parquet(gPath).count()}")

      // ---- Incremental SCC state: labels + condensation + cond-WCC ----
      // Build = FW-BW over the rep×-replicated flow graph plus the two
      // standing frames (grows with the corpus, as a build must). Merge
      // = a fixed 20-edge batch of REVERSED copy-0 flow edges (closes
      // real cycles) through the standing-WCC path: batch → super
      // space, O(batch) incremental-WCC touched discovery, FW-BW on the
      // touched copy-0 components only — replication adds disjoint
      // components the batch never touches, so the merge line must stay
      // ~FLAT while build grows.
      val flow0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_quantity") <= 1)
        .select((col("l_partkey") % 512).as("src"),
          (col("l_suppkey") % 512).as("dst"))
        .localCheckpoint()
      val sccEdges = (0 until rep).map(i => flow0.select(
          (col("src") + i * 1024L).as("src"),
          (col("dst") + i * 1024L).as("dst")))
        .reduce(_ union _).localCheckpoint()
      val nSccEdges = sccEdges.count()
      val (sccState, sccBuild) = seconds {
        val lbl = graft.operators.GraphAnalytics
          .sccLabelsFwBw(sccEdges, "src", "dst").localCheckpoint()
        val cnd = graft.operators.GraphAnalytics
          .condensationEdges(sccEdges, "src", "dst", lbl).localCheckpoint()
        val cw = graft.operators.GraphAnalytics
          .condensationWcc(cnd).localCheckpoint()
        (lbl, cnd, cw)
      }
      val (lbl, cnd, cw) = sccState
      val sccBatch = flow0.orderBy("src", "dst").limit(20)
        .select(col("dst").as("src"), col("src").as("dst"))
      val (nScc, sccMerge) = seconds {
        graft.operators.GraphAnalytics.incrementalScc(lbl, cnd, sccBatch,
            "src", "dst", oldCondWcc = Some(cw))
          .select("scc").distinct().count()
      }
      println(f"scc  rep=$rep%2d build=${sccBuild}%7.2fs " +
        f"edges=$nSccEdges%9d merge=${sccMerge}%6.2fs (flat expected) " +
        s"sccs=$nScc")

      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    spark.stop()
  }
}
