package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ChangeDetection, Chunker, Dedup, Retrieval, Similarity}
import graft.pipeline.{Embedder, RagPipeline}
import graft.queries.QueryHelpers
import graft.store.{AnnStore, IndexStore, VectorStore}

/** What a workload shares with the runner: the session, the fixed dataset,
  * the run's private work dir, the tracer and the probe. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
                val reference: String, val trace: Tracer, val probe: Probe) {
  /** Setup component seconds, one list entry per setup repetition. */
  val setup = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Per-layer counters that are not span self times. */
  val layer = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

  def timeSetup[A](key: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally setup.getOrElseUpdate(key, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e9
  }

  /** Spark counter deltas around `body`, read only when tracing (a read
    * waits for the listener bus). */
  def measured[A](body: => A)(use: Map[String, Double] => Unit): A =
    if (!trace.enabled) body
    else {
      val a = probe.snapshot()
      val out = body
      val b = probe.snapshot()
      use(Probe.delta(a, b))
      out
    }

  val stub: Embedder.EmbedFn = Embedder.stubEmbed(Workloads.Dim)
}

/** One operation of the timed closed loop. `run` is timed: the call into
  * the engine plus full materialization of its result. `check` compares
  * the result with an independent reference outside the timed interval,
  * right after the op when `checkNow`, else after the loop. `prepare`
  * runs untimed before the op (the outside world changing, e.g. files
  * edited before a refresh round). */
final case class Op(name: String, kind: String, run: () => Any,
                    check: Any => Option[String], checkNow: Boolean = false,
                    prepare: () => Unit = () => ())

trait Workload {
  /** One setup repetition; the last one (`rep` 0) serves the timed phase. */
  def setup(rep: Int): Unit
  /** Untimed requests that end the setup. */
  def warmup(): Unit = ()
  def ops(seed: Long, seconds: Int): Seq[Op]
  /** Called once after the loop, before the deferred checks, with every
    * op that completed and its result: a place to build references in
    * bulk. */
  def prefetch(done: Seq[(Op, Any)]): Unit = ()
  def inputBytes: Long
  def storedBytes: Long
}

object Workloads {
  val Dim = 64
  val K = 10

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "rag_serve" => new RagServe(ctx)
    case "ingest_refresh" => new IngestRefresh(ctx)
    case "analytics_mix" => new AnalyticsMix(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** A setup repetition's view of the dataset dir: the same files under a
    * distinct path string, so the engine's per-dir memoized stores build
    * afresh. Repetition 0 is the plain dir the timed phase uses. */
  def dirVariant(data: String, rep: Int): String = data + "/." * rep

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Cosine distance exactly as the engine defines it, in doubles. */
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 1.0 else 1.0 - dot / den
  }

  /** Brute-force top-k by (distance, id). */
  def bruteTopK[I](corpus: Iterable[(I, Array[Float])], q: Seq[Float], k: Int)
                  (implicit ord: Ordering[I]): Seq[(I, Double)] = {
    val qa = q.toArray
    corpus.iterator.map { case (id, v) => id -> cosineDistance(v, qa) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)
  }

  /** Two ranked lists agree when their scores agree position by position
    * within `eps`, and each run of tied scores (within `eps`) holds the
    * same ids in any order — except the run at the cut, which a top-k
    * may split either way. */
  def sameRanking(got: Seq[(String, Double)], want: Seq[(String, Double)],
                  eps: Double = 1e-6): Option[String] = {
    if (got.size != want.size) return Some(s"${got.size} rows, expected ${want.size}")
    val bad = got.zip(want).indexWhere { case ((_, g), (_, w)) => math.abs(g - w) > eps }
    if (bad >= 0) return Some(s"rank $bad score ${got(bad)} expected ${want(bad)}")
    var i = 0
    while (i < want.size) {
      var j = i
      while (j + 1 < want.size && math.abs(want(j + 1)._2 - want(i)._2) <= eps) j += 1
      val atCut = math.abs(want(i)._2 - want.last._2) <= eps
      val (g, w) = (got.slice(i, j + 1).map(_._1).toSet, want.slice(i, j + 1).map(_._1).toSet)
      if (!atCut && g != w) return Some(s"ranks $i-$j hold ${g.take(3)}, expected ${w.take(3)}")
      i = j + 1
    }
    None
  }
}

// =================================================================== serve

/** Many small top-k requests against one standing set of stores. */
final class RagServe(ctx: Ctx) extends Workload {
  import Workloads._
  import ctx.{spark, trace}

  private val root = s"${ctx.work}/stores"
  private var chunkStore = ""
  private var docStore = ""
  private var annPath = ""
  private var codebook: Seq[(Int, Seq[Float])] = Nil
  private var storeDirs: Seq[String] = Nil

  private def meta(src: String, start: org.apache.spark.sql.Column) =
    map(lit("source"), col(src), lit("start_index"), start.cast("string"))

  def setup(rep: Int): Unit = {
    val dir = dirVariant(ctx.data, rep)
    val docs = QueryHelpers.tbl(spark, dir, "documents")
    chunkStore = s"DOCS_CHUNK_R$rep"
    docStore = s"DOCS_FULL_R$rep"
    ctx.timeSetup("setup.vector_load_s") {
      // chunk-level store: chunk → dedup → embed → store, the ingest path
      val chunks = Chunker.chunkWithIds(docs, "doc_id", "text", 200, 50)
        .select(col("chunk_id").as("id"), col("chunk").as("text"),
          meta("source", col("start_index")).as("metadata"))
      VectorStore.write(
        Embedder.embed(Dedup.exactDedup(chunks, "text", "id"), "text", ctx.stub),
        root, chunkStore, """{"alias": "DOCS_CHUNK", "chunk_size": 200}""")
      // document-level store: one vector per document (the dense leg of
      // hybrid search ranks documents, like BM25)
      val whole = docs.select(col("doc_id").cast("string").as("id"), col("text"),
        meta("source", lit(0)).as("metadata"))
      VectorStore.write(Embedder.embed(whole, "text", ctx.stub), root, docStore,
        """{"alias": "DOCS_FULL", "chunk_size": 0}""")
    }
    val indexPath = ctx.timeSetup("setup.store_index_s")(QueryHelpers.storedIndexPath(spark, dir))
    annPath = ctx.timeSetup("setup.store_ann_s") {
      codebook = QueryHelpers.codebookSeq(spark, dir)
      QueryHelpers.storedAnnPath(spark, dir)
    }
    ctx.timeSetup("setup.doclen_s")(QueryHelpers.docLengths(spark, dir).count())
    storeDirs = Seq(s"$root/$chunkStore", s"$root/$docStore", indexPath, annPath)
  }

  private def qv(r: Gen.Request): Seq[Float] = ctx.stub(Seq(r.question)).head.toSeq

  private def readStore(name: String): DataFrame =
    trace("VectorStore.read")(VectorStore.read(spark, root, name))

  private def topK(store: String, q: Seq[Float], k: Int): Seq[(String, Double)] = {
    val df = readStore(store)
    trace("Similarity.topK") {
      Similarity.topK(df, "embedding", q, k, "COSINE", "id")
        .select("id", "distance").collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    }
  }

  private def bm25(terms: Seq[String], k: Int): Seq[(String, Double)] = {
    val out = ctx.measured(trace("QueryHelpers.storedBm25") {
      QueryHelpers.storedBm25(spark, ctx.data, terms, k).select("id", "score")
        .collect().map(r => r.getLong(0).toString -> r.getDouble(1)).toSeq
    })(d => ctx.layer("bm25.rows_examined") += d.getOrElse("input_rows", 0.0))
    if (trace.enabled) ctx.layer("bm25.results") += out.size
    out
  }

  private def ranks(xs: Seq[(String, Double)]): DataFrame = {
    import spark.implicits._
    xs.zipWithIndex.map { case ((id, _), i) => (id.toLong, i + 1) }.toDF("id", "rank")
  }

  private def hybrid(r: Gen.Request): Seq[(String, Double)] = {
    val lex = bm25(r.terms, 2 * K)
    val dense = topK(docStore, qv(r), 2 * K)
    trace("Retrieval.rrfFuse") {
      Retrieval.rrfFuse(Seq(ranks(lex), ranks(dense)), "id", K).collect()
        .map(x => x.getLong(0).toString -> x.getDouble(1)).toSeq
    }
  }

  private def rag(r: Gen.Request): RagPipeline.Result = {
    val stores = Map(chunkStore -> readStore(chunkStore), docStore -> readStore(docStore))
    trace("RagPipeline.vecSearch") {
      RagPipeline.vecSearch(spark, stores, r.question, Nil, ctx.stub,
        RagPipeline.Config(), RagPipeline.Slots())
    }
  }

  private def ivf(r: Gen.Request): Seq[(String, Double)] = {
    if (trace.enabled) ctx.layer("retrieve.cells_probed") += 2
    trace("AnnStore.probe") {
      AnnStore.probe(spark, annPath, codebook, qv(r), "embedding", "vec_id", K, 2)
        .select("vec_id", "distance").collect()
        .map(x => x.getLong(0).toString -> x.getDouble(1)).toSeq
    }
  }

  private def run(r: Gen.Request): Any = r.kind match {
    case "topk" => topK(chunkStore, qv(r), K)
    case "ivf" => ivf(r)
    case "bm25" => bm25(r.terms, K)
    case "hybrid" => hybrid(r)
    case "rag" => rag(r)
  }

  override def warmup(): Unit =
    Gen.RequestKinds.foreach(kind => run(Gen.Request(-1, kind, Seq("spark", "join"))))

  // ---- references, built once after the loop from collected stores
  private lazy val chunkCorpus: Seq[(String, Array[Float], String)] =
    VectorStore.read(spark, root, chunkStore).select("id", "embedding", "text").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray, r.getString(2))).toSeq
  private lazy val docCorpus: Seq[(String, Array[Float], String)] =
    VectorStore.read(spark, root, docStore).select("id", "embedding", "text").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toArray, r.getString(2))).toSeq
  private lazy val annCorpus: Seq[(Long, Array[Float], Int)] =
    spark.read.parquet(annPath).select("vec_id", "embedding", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2))).toSeq
  private val bm25Ref = mutable.Map[(Seq[String], Int), Seq[(String, Double)]]()
  private def refBm25(terms: Seq[String], k: Int): Seq[(String, Double)] = bm25Ref((terms, k))
  private val ragRows = mutable.Map[Int, Seq[(String, Double)]]()

  /** Runs the Spark side of the references in two jobs, not one per
    * request: the scan-built BM25 of every distinct term set, and the
    * id/score rows of every RAG result. */
  override def prefetch(done: Seq[(Op, Any)]): Unit = {
    val reqs = done.map { case (op, _) => requestOf(op.name) }
    val bm = (reqs.filter(_.kind == "bm25").map(r => (r.terms, K)) ++
      reqs.filter(_.kind == "hybrid").map(r => (r.terms, 2 * K))).distinct
    if (bm.nonEmpty) {
      val scanDocs = QueryHelpers.tbl(spark, ctx.data, "documents").select("doc_id", "text").cache()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        val refs = bm.map { case (terms, k) => Future {
          Retrieval.bm25(scanDocs, "doc_id", "text", terms, k).select("id", "score").collect()
            .map(r => r.getLong(0).toString -> r.getDouble(1)).toSeq
            .sortBy { case (id, sc) => (-sc, id.toLong) }
        } }
        bm.zip(Await.result(Future.sequence(refs), Duration.Inf)).foreach { case (key, rows) =>
          bm25Ref(key) = rows
        }
      } finally {
        pool.shutdown()
        scanDocs.unpersist(blocking = true)
      }
    }
    val rag = done.collect { case (op, res: RagPipeline.Result) => requestOf(op.name).id -> res }
    if (rag.nonEmpty)
      rag.map { case (i, res) => res.docs.select(lit(i).as("q"), col("id"), col("score")) }
        .reduce(_ unionByName _).collect().groupBy(_.getInt(0)).foreach { case (i, rows) =>
          ragRows(i) = rows.toSeq.map(r => r.getString(1) -> r.getDouble(2))
            .sortBy { case (id, sc) => (-sc, id) }
        }
  }

  private val requests = mutable.Map[String, Gen.Request]()
  private def requestOf(opName: String): Gen.Request = requests(opName)

  private def refDense(corpus: Seq[(String, Array[Float], String)], q: Seq[Float], k: Int) =
    bruteTopK(corpus.map(c => c._1 -> c._2), q, k)

  private def check(r: Gen.Request, got: Any): Option[String] = r.kind match {
    case "topk" =>
      sameRanking(got.asInstanceOf[Seq[(String, Double)]], refDense(chunkCorpus, qv(r), K))
    case "ivf" =>
      val cells = Similarity.nearestCentroidIds(codebook, qv(r), 2).toSet
      val want = bruteTopK(annCorpus.filter(a => cells(a._3)).map(a => a._1 -> a._2), qv(r), K)
      sameRanking(got.asInstanceOf[Seq[(String, Double)]],
        want.map { case (id, d) => id.toString -> d })
    case "bm25" =>
      sameRanking(got.asInstanceOf[Seq[(String, Double)]], refBm25(r.terms, K), 0.0)
    case "hybrid" =>
      val lex = refBm25(r.terms, 2 * K).map(_._1)
      val dense = refDense(docCorpus, qv(r), 2 * K).map(_._1)
      val score = mutable.Map[String, Double]().withDefaultValue(0.0)
      Seq(lex, dense).foreach(_.zipWithIndex.foreach { case (id, i) => score(id) += 1.0 / (60 + i + 1) })
      val want = score.toSeq.sortBy { case (id, s) => (-s, id.toLong) }.take(K)
      sameRanking(got.asInstanceOf[Seq[(String, Double)]], want, 1e-9)
    case "rag" =>
      val cfg = RagPipeline.Config()
      val res = got.asInstanceOf[RagPipeline.Result]
      val gotRows = ragRows.getOrElse(r.id, Nil)
      val cand = Seq(chunkCorpus, docCorpus).flatMap { c =>
        val text = c.map(x => x._1 -> x._3).toMap
        refDense(c, qv(r), cfg.topK).map { case (id, d) => (id, 1.0 - d / 2.0, text(id)) }
      }.filter(_._2 >= cfg.scoreThreshold)
      val kept = cand.groupBy(_._3).values.map(_.minBy { case (id, s, _) => (-s, id) })
      val want = kept.toSeq.sortBy { case (id, s, _) => (-s, id) }.take(cfg.topK)
        .map { case (id, s, _) => id -> s }
      sameRanking(gotRows, want).orElse(
        if (res.answer != s"[${r.question}] -> ${want.size} docs") Some(s"answer '${res.answer}'")
        else None)
  }

  def ops(seed: Long, seconds: Int): Seq[Op] =
    Gen.requests(seed, math.max(5, math.round(RagServe.RequestsPerSecond * seconds).toInt)).map { r =>
      val name = s"${r.kind}#${r.id}"
      requests(name) = r
      Op(name, r.kind, () => run(r), got => check(r, got))
    }

  def inputBytes: Long =
    QueryHelpers.tbl(spark, ctx.data, "documents").agg(sum(length(col("text")))).head.getLong(0)
  def storedBytes: Long = storeDirs.map(dirBytes).sum
}

object RagServe {
  /** 20 requests, four of each type, at ten seconds. */
  val RequestsPerSecond = 2.0
}

// ================================================================== ingest

/** Bulk load, then refresh rounds that edit, add and delete files. */
final class IngestRefresh(ctx: Ctx) extends Workload {
  import Workloads._
  import ctx.{spark, trace}
  import spark.implicits._

  private val root = s"${ctx.work}/stores"
  private val Flat = "INGEST"
  private val Bucketed = "INGEST_BUCKETED"
  private val Buckets = 16
  private val indexPath = s"$root/ingest_index"
  private val annPath = s"$root/ingest_ann"
  private val cfgJson = """{"alias": "INGEST", "chunk_size": 200, "chunk_overlap": 50}"""
  private var centroids: DataFrame = _
  private var inputB = 0L

  // expected store contents, kept by simulating each step on the plan
  private val flatFiles = mutable.Map[String, Set[String]]()
  private val bucketed = mutable.Map[String, String]()
  private var annRows = 0L
  private var postings = 0L

  def setup(rep: Int): Unit =
    ctx.timeSetup("setup.codebook_s") {
      // the IVF codebook: the stub vectors of eight fixed texts
      centroids = (0 until 8).map { i =>
        (i, ctx.stub(Seq(Gen.Vocab.slice(3 * i, 3 * i + 3).mkString(" "))).head.toSeq)
      }.toDF("cid", "cv").localCheckpoint()
    }

  /** The source's object metadata for a document version, the way a
    * bucket listing reports it: an etag and a modification time. */
  private def etag(d: Gen.Doc): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"${d.file}:${d.verId}".getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
  private def mtime(d: Gen.Doc): String = (1700000000000L + d.verId).toString

  /** The source as a DataFrame: one row per object (name, text, etag,
    * time_modified, size). */
  private def source(docs: Seq[Gen.Doc]): DataFrame = {
    inputB += docs.map(_.text.length.toLong).sum
    docs.map(d => (d.file, d.text, etag(d), mtime(d), d.text.length.toLong))
      .toDF("filename", "text", "etag", "time_modified", "size")
  }

  /** The live objects after the plan's steps so far (the bucket listing). */
  private val live = mutable.LinkedHashMap[String, Gen.Doc]()

  private def boundary(df: DataFrame): DataFrame =
    if (trace.enabled) df.localCheckpoint() else df

  /** load → chunk → dedup → embed for `docs`, materialized once at the
    * end (and, when tracing, at every boundary). */
  private def embedded(docs: Seq[Gen.Doc]): DataFrame = {
    val loaded = trace("source.load")(boundary(
      source(docs).select(col("filename"), col("text"),
        map(lit("filename"), col("filename"), lit("etag"), col("etag"),
          lit("time_modified"), col("time_modified"),
          lit("size"), col("size").cast("string")).as("fmeta"))))
    val chunked = trace("Chunker.chunkWithIds")(boundary(
      Chunker.chunkWithIds(loaded, "filename", "text", 200, 50)
        .select(col("chunk_id").as("id"), col("chunk").as("text"),
          map_concat(col("fmeta"), map(lit("start_index"),
            col("start_index").cast("string"))).as("metadata"),
          col("chunk_index"))))
    val deduped = trace("Dedup.exactDedup")(boundary(Dedup.exactDedup(chunked, "text", "id")))
    val versions = docs.map(d => (d.file, d.verId)).toDF("file", "ver_id")
    trace("Embedder.embed") {
      Embedder.embed(deduped, "text", ctx.stub)
        .join(broadcast(versions), element_at(col("metadata"), "filename") === col("file"))
        .select(col("id"), col("text"), col("metadata"), col("embedding"),
          (col("ver_id") * 1000 + col("chunk_index")).as("vec_id"))
        .localCheckpoint()
    }
  }

  private def indexOf(docs: Seq[Gen.Doc]): DataFrame =
    Retrieval.invertedIndex(docs.map(d => (d.verId, d.text)).toDF("id", "text"), "id", "text")

  private def annBatch(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))

  /** Expected effect of one ingested batch on every store. */
  private def simulate(docs: Seq[Gen.Doc]): Unit = {
    val rows = docs.flatMap(d => Gen.chunks(d.text, 200, 50).map { case (i, t) => (s"${d.file}_$i", t) })
    val kept = Gen.dedup(rows)
    val fileOf = kept.map { case (id, _) => id -> id.substring(0, id.lastIndexOf('_')) }
    fileOf.groupBy(_._2).foreach { case (f, ids) => flatFiles(f) = ids.map(_._1).toSet }
    kept.foreach { case (id, t) => bucketed(id) = t }
    annRows += kept.size
    postings += docs.map(_.text.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.length).sum
    if (trace.enabled) {
      ctx.layer("chunk.chunks") += rows.size
      ctx.layer("embed.rows") += kept.size
      ctx.layer("ingest.input_b") += docs.map(_.text.length.toLong).sum
    }
  }

  private def storeOp[A](span: String)(body: => A): A =
    ctx.measured(trace(span)(body)) { d =>
      ctx.layer("store.bytes_written") += d.getOrElse("output_b", 0.0)
    }

  private def bucketsRewritten[A](body: => A): A = {
    if (!trace.enabled) return body
    val t0 = System.currentTimeMillis()
    val out = body
    val s = Files.list(Paths.get(root, Bucketed))
    try ctx.layer("store.buckets_rewritten") += s.toArray.map(_.asInstanceOf[Path])
      .count(p => p.getFileName.toString.startsWith("file_bucket=") &&
        Files.getLastModifiedTime(p).toMillis >= t0 - 1000)
    finally s.close()
    out
  }

  private def checkStores(): Option[String] = {
    val flat = VectorStore.read(spark, root, Flat)
    val ids = flat.select("id").as[String].collect()
    val wantFlat = flatFiles.values.map(_.size).sum
    val processed = VectorStore.processedFiles(flat).select("filename", "chunks")
      .as[(String, Long)].collect().toMap
    val wantFiles = flatFiles.map { case (f, s) => f -> s.size.toLong }.toMap
    val bIds = VectorStore.read(spark, root, Bucketed).select("id").as[String].collect()
    val ann = spark.read.parquet(annPath).count()
    val post = spark.read.parquet(indexPath).agg(sum("df")).head.getLong(0)
    if (ids.distinct.length != ids.length) Some("duplicate ids in the vector store")
    else if (ids.length != wantFlat) Some(s"vector store has ${ids.length} chunks, manifest $wantFlat")
    else if (processed != wantFiles) Some(s"processedFiles differs from the manifest on " +
      s"${(processed.toSet diff wantFiles.toSet).size} files")
    else if (bIds.distinct.length != bIds.length) Some("duplicate ids in the bucketed store")
    else if (bIds.length != bucketed.size) Some(s"bucketed store has ${bIds.length} chunks, manifest ${bucketed.size}")
    else if (ann != annRows) Some(s"ANN store has $ann rows, manifest $annRows")
    else if (post != postings) Some(s"index holds $post postings, manifest $postings")
    else None
  }

  private val ok: Any => Option[String] = _ => None

  def ops(seed: Long, seconds: Int): Seq[Op] = {
    val s = IngestRefresh.scale(seconds)
    val plan = Gen.ingestPlan(seed, s.batches, s.perBatch, s.rounds,
      IngestRefresh.ModShare, IngestRefresh.DelShare, IngestRefresh.AddShare)
    var emb: DataFrame = null
    val bulk = plan.batches.zipWithIndex.flatMap { case (docs, i) =>
      val first = i == 0
      Seq(
        Op(s"embed#b$i", "embed", () => { emb = embedded(docs) }, ok,
          prepare = () => docs.foreach(d => live(d.file) = d)),
        Op(s"vector_merge#b$i", "vector_merge", () => storeOp(if (first) "VectorStore.write" else "VectorStore.merge") {
          if (first) VectorStore.write(emb, root, Flat, cfgJson) else VectorStore.merge(spark, root, Flat, emb)
        }, ok),
        Op(s"vector_upsert#b$i", "vector_upsert", () => storeOp(if (first) "VectorStore.writePartitioned" else "VectorStore.upsertPartitioned") {
          if (first) VectorStore.writePartitioned(emb, root, Bucketed, cfgJson, Buckets)
          else bucketsRewritten(VectorStore.upsertPartitioned(spark, root, Bucketed, emb, Buckets))
        }, ok),
        Op(s"index_merge#b$i", "index_merge", () => storeOp(if (first) "IndexStore.write" else "IndexStore.merge") {
          if (first) IndexStore.write(indexOf(docs), indexPath, 8)
          else IndexStore.merge(spark, indexPath, indexOf(docs), 8)
        }, ok),
        Op(s"ann_merge#b$i", "ann_merge", () => storeOp(if (first) "AnnStore.write" else "AnnStore.merge") {
          if (first) AnnStore.write(Similarity.assignNearestCentroid(annBatch(emb), "embedding",
            "vec_id", centroids, "cid", "cv").select("vec_id", "embedding", "centroid_id"), annPath)
          else AnnStore.merge(spark, annPath, annBatch(emb), centroids, "cid", "cv", "embedding", "vec_id")
          emb.unpersist()
        }, _ => { simulate(docs); checkStores() }, checkNow = true))
    }
    val refresh = plan.rounds.zipWithIndex.flatMap { case (r, i) =>
      val changed = r.added ++ r.modified
      val stale = (r.deleted ++ r.modified.map(_.file)).sorted
      def prepare(): Unit = {
        r.deleted.foreach(live.remove)
        changed.foreach(d => live(d.file) = d)
      }
      val expected = (r.added.map(_.file -> "new") ++ r.modified.map(_.file -> "modified") ++
        r.deleted.map(_ -> "deleted")).sorted
      Seq(
        Op(s"detect#r$i", "detect", () => {
          val nLive = flatFiles.size
          val st = trace("ChangeDetection.detectChanges") {
            val current = live.values.toSeq.map(d => (d.file, etag(d), mtime(d)))
              .toDF("name", "etag", "time_modified")
            val processed = VectorStore.processedFiles(VectorStore.read(spark, root, Flat))
            ChangeDetection.detectChanges(current, processed)
              .filter(col("status") =!= "unchanged").as[(String, String)].collect().toSeq.sorted
          }
          if (trace.enabled) {
            ctx.layer("refresh.changed_frac_sum") += st.size.toDouble / nLive
            ctx.layer("refresh.rounds") += 1
          }
          st
        }, got => if (got == expected) None
          else Some(s"detected ${got.asInstanceOf[Seq[_]].size} changes, plan has ${expected.size}"),
          checkNow = true, prepare = () => prepare()),
        Op(s"vector_delete#r$i", "vector_delete", () => storeOp("VectorStore.deleteStale") {
          VectorStore.deleteStale(spark, root, Flat, stale)
        }, _ => { stale.foreach(flatFiles.remove); None }, checkNow = true),
        Op(s"embed#r$i", "embed", () => { emb = embedded(changed) }, ok),
        Op(s"vector_merge#r$i", "vector_merge", () => storeOp("VectorStore.merge") {
          VectorStore.merge(spark, root, Flat, emb)
        }, ok),
        Op(s"vector_upsert#r$i", "vector_upsert", () => storeOp("VectorStore.upsertPartitioned") {
          bucketsRewritten(VectorStore.upsertPartitioned(spark, root, Bucketed, emb, Buckets))
        }, ok),
        Op(s"index_merge#r$i", "index_merge", () => storeOp("IndexStore.merge") {
          IndexStore.merge(spark, indexPath, indexOf(changed), 8)
        }, ok),
        Op(s"ann_merge#r$i", "ann_merge", () => storeOp("AnnStore.merge") {
          AnnStore.merge(spark, annPath, annBatch(emb), centroids, "cid", "cv", "embedding", "vec_id")
          emb.unpersist()
        }, _ => { simulate(changed); checkStores() }, checkNow = true))
    }
    bulk ++ refresh
  }

  def inputBytes: Long = inputB
  def storedBytes: Long =
    Seq(s"$root/$Flat", s"$root/$Bucketed", indexPath, annPath).map(dirBytes).sum
}

object IngestRefresh {
  /** Shares of the live files a refresh round edits, deletes and adds.
    * No measured change rate exists for this system; these are
    * assumptions. */
  val ModShare = 0.05
  val DelShare = 0.02
  val AddShare = 0.04

  final case class Scale(batches: Int, perBatch: Int, rounds: Int)
  /** Run size for a measuring time: 2,400 bulk documents at ten
    * seconds. */
  def scale(seconds: Int): Scale =
    Scale(batches = 2, perBatch = math.max(100, 120 * seconds), rounds = math.max(1, seconds / 8))
}

// =============================================================== analytics

/** A stratified sample of the query suite, each query built and then
  * fully materialized on its first execution in the JVM. */
final class AnalyticsMix(ctx: Ctx) extends Workload {
  import Workloads._
  import ctx.{spark, trace}

  private var stores: Seq[String] = Nil

  /** Builds the standing stores the suite's queries read (the engine's
    * consumer tags: the targets read the kNN graph and the IndexStore;
    * drawn queries may read the AnnStore), each timed as its own setup
    * component. Built whatever the draw, so a run's stored bytes do not
    * depend on the seed. */
  def setup(rep: Int): Unit = {
    val dir = dirVariant(ctx.data, rep)
    val knn = ctx.timeSetup("setup.store_knn_s")(QueryHelpers.storedKnnGraphPath(spark, dir))
    val idx = ctx.timeSetup("setup.store_index_s")(QueryHelpers.storedIndexPath(spark, dir))
    ctx.timeSetup("setup.doclen_s")(QueryHelpers.docLengths(spark, dir).count())
    val ann = ctx.timeSetup("setup.store_ann_s")(QueryHelpers.storedAnnPath(spark, dir))
    stores = Seq(knn, idx, ann)
  }

  private lazy val reference: Map[String, AnalyticsMix.Ref] =
    AnalyticsMix.loadReference(ctx.reference)

  /** Build, then materialize by collecting: every result of the suite is
    * small at this scale (at most a few thousand rows), and the collected
    * rows are what the check digests after the loop. */
  private def run(name: String): Array[Row] = {
    val fn = graft.SparkEntry.queries(name)
    val df = ctx.measured(trace("queries.build")(fn(spark, ctx.data))) { d =>
      ctx.layer("queries.eager_jobs") += d.getOrElse("jobs", 0.0)
    }
    trace("materialize.collect")(df.collect())
  }

  private def check(name: String, rows: Array[Row]): Option[String] = {
    val ref = reference(name)
    val got = Stats.digest(rows.map(AnalyticsMix.canonical))
    if (got != ref.digest) Some(s"digest $got, reference ${ref.digest}")
    else if (ref.status == "mismatch") Some("known mismatch: DuckDB disagrees with the reference run")
    else None
  }

  def ops(seed: Long, seconds: Int): Seq[Op] = {
    val pop = reference.values.filter(_.band >= 0)
      .map(r => Gen.QueryInfo(r.name, r.family, r.band)).toSeq
    Gen.analyticsSample(seed, pop, AnalyticsMix.Targets, AnalyticsMix.perBand(seconds))
      .map(q => Op(q, "query", () => run(q), rows => check(q, rows.asInstanceOf[Array[Row]])))
  }

  def inputBytes: Long = dirBytes(ctx.data)
  def storedBytes: Long = stores.map(dirBytes).sum
}

object AnalyticsMix {
  /** The queries every sample holds: the optimization targets of the
    * roadmap. */
  lazy val Targets: Seq[String] = Seq("q207", "q166", "q415", "q489", "q26", "q254",
    "q404", "q191", "q186", "q231", "q213", "q418", "q522", "q383").map { p =>
    graft.SparkEntry.queries.keys.find(_.startsWith(p + "_")).getOrElse(
      throw new IllegalStateException(s"no query with prefix $p"))
  }.sorted

  /** The queries the sample is drawn from: every fourth query of the
    * suite in name order (all family modules are covered), plus the
    * targets. */
  lazy val CalibrationSet: Seq[String] =
    (graft.SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .collect { case (q, i) if i % 4 == 0 => q } ++ Targets).distinct.sorted

  def perBand(seconds: Int): Int = math.max(1, seconds / 10)

  final case class Ref(name: String, family: String, band: Int, status: String,
                       digest: String)

  /** reference/analytics.tsv (see make_reference.py): every calibrated
    * query with its family, time band (-1: not drawn), DuckDB status and
    * digest. */
  def loadReference(path: String): Map[String, Ref] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split('\t'))
      .map(f => f(0) -> Ref(f(0), f(1), f(2).toInt, f(3), f(4))).toMap
    finally src.close()
  }

  def family(name: String): String =
    graft.queries.QueryRegistry.modules.find(_.queries.contains(name))
      .map(_.getClass.getSimpleName.stripSuffix("$")).getOrElse("?")

  /** Canonical text of a result value: exact, and independent of object
    * identity (byte arrays print as hex) and of map insertion order. */
  def canonical(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }
}
