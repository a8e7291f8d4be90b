package graft.perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Benchmark main. One run: start a session, set the workload up, run
  * its seeded operations in a closed loop (one client thread; the next
  * operation starts when the previous one returns), check every output,
  * and print one JSON line of metrics. `perfbench/run.py` builds the
  * program, makes the dataset and run dir, and launches this.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --reference FILE --cores N [--spans FILE]
  *   or: Main --calibrate --data DIR --work DIR --out DIR --cores N */
object Main {

  /** Setup repetitions per run; setup_s reports their median. */
  val SetupReps = 2

  /** Span name of a public call → the per-layer metric its self time
    * adds to. */
  val SpanLayer: Map[String, String] = Map(
    "queries.build" -> "queries.build_s",
    "materialize.collect" -> "queries.materialize_s",
    "Similarity.topK" -> "retrieve.topk_s",
    "AnnStore.probe" -> "retrieve.ivf_s",
    "Retrieval.rrfFuse" -> "retrieve.fuse_s",
    "QueryHelpers.storedBm25" -> "retrieve.bm25_s",
    "RagPipeline.vecSearch" -> "rag.vecsearch_s",
    "VectorStore.read" -> "store.vector_read_s",
    "source.load" -> "ingest.load_s",
    "Chunker.chunkWithIds" -> "chunk.s",
    "Dedup.exactDedup" -> "dedup.s",
    "Embedder.embed" -> "embed.s",
    "VectorStore.write" -> "store.vector_merge_s",
    "VectorStore.merge" -> "store.vector_merge_s",
    "VectorStore.writePartitioned" -> "store.vector_upsert_s",
    "VectorStore.upsertPartitioned" -> "store.vector_upsert_s",
    "VectorStore.deleteStale" -> "store.vector_delete_s",
    "IndexStore.write" -> "store.index_merge_s",
    "IndexStore.merge" -> "store.index_merge_s",
    "AnnStore.write" -> "store.ann_merge_s",
    "AnnStore.merge" -> "store.ann_merge_s",
    "ChangeDetection.detectChanges" -> "refresh.detect_s")

  /** Setup components; a workload times those it has, the rest read 0. */
  val SetupKeys: Seq[String] = Seq("setup.session_s", "setup.warmup_s",
    "setup.requests_warmup_s", "setup.vector_load_s", "setup.store_knn_s",
    "setup.store_index_s", "setup.store_ann_s", "setup.doclen_s", "setup.codebook_s")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (o.contains("calibrate")) Calibrate.run(o) else run(o)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** What `measure` hands back: plain values only, so nothing a workload
    * held for its checks outlives the call. */
  final case class Measured(reps: Seq[Double], latency: Seq[Double],
                            failed: Seq[(String, String)], attempted: Int,
                            inputB: Double, storedB: Double,
                            sparkDelta: Map[String, Double])

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toInt
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val load1Pre = Probe.load1

    val t0 = System.nanoTime()
    val spark = session(cores, o("work"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe(spark)
    val tracer = new Tracer(traced)
    val ctx = new Ctx(spark, o("data"), o("work"), o.getOrElse("reference", ""),
      tracer, probe)

    ctx.timeSetup("setup.warmup_s")(spark.range(100000).selectExpr("sum(id)").collect())
    val r = measure(ctx, workload, seed, seconds)
    val setup = ctx.setup.map { case (k, v) => k -> Stats.median(v.toSeq) }
    val setupS = sessionS + setup("setup.warmup_s") + Stats.median(r.reps) +
      setup("setup.requests_warmup_s")
    // the workload, its operations, their outputs and its reference state
    // are unreachable now: what stays on the heap is the engine's
    val heapMb = Probe.liveHeapMb()
    val load1Post = Probe.load1
    val lat = r.latency
    val runS = lat.sum

    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    val metrics = mutable.LinkedHashMap[String, Map[String, Any]](
      "setup_s" -> m(setupS, "s"),
      "run_s" -> m(runS, "s"))
    if (lat.nonEmpty) {
      metrics("op_p50_s") = m(Stats.percentile(lat, 0.5), "s")
      metrics("op_p90_s") = m(Stats.percentile(lat, 0.9), "s")
      metrics("op_geomean_s") = m(Stats.geomean(lat), "s")
    }
    metrics("stored_bytes_per_input_byte") = m(r.storedB / r.inputB, "ratio")
    metrics("live_heap_mb") = m(heapMb, "MB")

    val layers = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      Main.SetupKeys.foreach(layers(_) = 0.0)
      layers ++= setup
      layers("setup.session_s") = sessionS
      layers ++= Probe.sparkMetrics(r.sparkDelta, cores)
      SpanLayer.values.foreach(layers(_) = 0.0)
      tracer.selfSeconds.foreach { case (span, s) =>
        SpanLayer.get(span).foreach(k => layers(k) += s)
      }
      val l = ctx.layer
      layers("queries.eager_jobs") = l("queries.eager_jobs")
      layers("retrieve.cells_probed") = l("retrieve.cells_probed")
      layers("retrieve.rows_examined_per_result") =
        if (l("bm25.results") > 0) l("bm25.rows_examined") / l("bm25.results") else 0.0
      layers("chunk.chunks") = l("chunk.chunks")
      layers("embed.rows") = l("embed.rows")
      layers("dedup.kept_frac") =
        if (l("chunk.chunks") > 0) l("embed.rows") / l("chunk.chunks") else 0.0
      layers("store.bytes_written") = l("store.bytes_written")
      layers("store.write_amp") =
        if (l("ingest.input_b") > 0) l("store.bytes_written") / l("ingest.input_b") else 0.0
      layers("store.buckets_rewritten") = l("store.buckets_rewritten")
      layers("refresh.changed_frac") =
        if (l("refresh.rounds") > 0) l("refresh.changed_frac_sum") / l("refresh.rounds") else 0.0
      layers("box.load1_pre") = load1Pre
      layers("box.load1_post") = load1Post
      o.get("spans").foreach(tracer.writeJson)
    }

    val context = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> spark.sparkContext.defaultParallelism,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "load1_pre" -> load1Pre, "load1_post" -> load1Post,
      "tmpdir" -> sys.props("java.io.tmpdir"),
      "ops" -> r.attempted, "ops_failed" -> r.failed.size,
      "fail_frac" -> r.failed.size.toDouble / r.attempted,
      "setup_reps_s" -> r.reps, "input_bytes" -> r.inputB, "stored_bytes" -> r.storedB)
    val out = Map[String, Any](
      "correct" -> r.failed.isEmpty, "attempted" -> r.attempted, "failed" -> r.failed.size,
      "metrics" -> metrics, "layers" -> layers, "context" -> context,
      "failed_ops" -> r.failed.map { case (n, why) => s"$n: $why" })
    spark.stop()
    println(json(out))
  }

  /** The workload's setup repetitions and warm-up, then the timed closed
    * loop, then the checks. When tracing, Spark and JVM counters are read
    * just before and after each operation and their deltas summed, so the
    * checks' own jobs stay out of the per-layer figures. */
  private def measure(ctx: Ctx, workload: String, seed: Long, seconds: Int): Measured = {
    val tracer = ctx.trace
    val w = Workloads(workload, ctx)
    val reps = (SetupReps - 1 to 0 by -1).map { rep =>
      val r0 = System.nanoTime(); w.setup(rep); (System.nanoTime() - r0) / 1e9
    }
    ctx.timeSetup("setup.requests_warmup_s")(w.warmup())

    val s1 = System.nanoTime()
    val ops = w.ops(seed, seconds)
    val latency = mutable.LinkedHashMap[Int, Double]()
    val failed = mutable.LinkedHashMap[String, String]()
    val pending = mutable.ArrayBuffer[(Int, Op, Any)]()
    val sparkDelta = mutable.Map[String, Double]().withDefaultValue(0.0)
    def fail(op: Op, why: String): Unit = {
      failed(op.name) = why
      System.err.println(s"perfbench: ${op.name} FAILED: $why")
    }
    def checked(i: Int, op: Op, out: Any): Unit =
      Try(op.check(out)) match {
        case Success(None) =>
        case Success(Some(why)) => latency.remove(i); fail(op, why)
        case Failure(e) => latency.remove(i); fail(op, s"check threw $e")
      }
    tracer.reset()
    ctx.layer.clear()
    ops.zipWithIndex.foreach { case (op, i) =>
      op.prepare()
      tracer.op = i
      val before = if (tracer.enabled) ctx.probe.snapshot() else Map.empty[String, Double]
      val s0 = System.nanoTime()
      val out = Try(tracer(s"op.${op.kind}")(op.run()))
      val dt = (System.nanoTime() - s0) / 1e9
      if (tracer.enabled)
        Probe.delta(before, ctx.probe.snapshot()).foreach { case (k, v) => sparkDelta(k) += v }
      System.err.println(f"perfbench: op ${op.name} $dt%.4f s")
      out match {
        case Success(v) =>
          latency(i) = dt
          if (op.checkNow) checked(i, op, v) else pending += ((i, op, v))
        case Failure(e) =>
          e.printStackTrace()
          fail(op, s"threw $e")
      }
    }
    val loopEnd = System.nanoTime()
    Try(w.prefetch(pending.map { case (_, op, v) => (op, v) }.toSeq)).failed
      .foreach(e => pending.foreach { case (i, op, _) => latency.remove(i); fail(op, s"reference failed: $e") })
    val prefetchEnd = System.nanoTime()
    pending.foreach { case (i, op, v) => if (!failed.contains(op.name)) checked(i, op, v) }
    System.err.println(f"perfbench: setup reps ${reps.mkString(", ")} s, " +
      f"loop ${(loopEnd - s1) / 1e9}%.1f s, prefetch ${(prefetchEnd - loopEnd) / 1e9}%.1f s, " +
      f"checks ${(System.nanoTime() - prefetchEnd) / 1e9}%.1f s")
    Measured(reps, latency.values.toSeq, failed.toSeq, ops.size,
      w.inputBytes.toDouble, w.storedBytes.toDouble, sparkDelta.toMap)
  }
}

/** Reference run for the analytics workload: every query of the
  * calibration set, built and collected once (timed, for the time bands;
  * the rows give the digest), then written as parquet for the DuckDB
  * self-check. Writes `calibration.tsv` (name, family, seconds, status,
  * digest) and `oracle_sql.json` under --out. */
object Calibrate {
  def run(o: Map[String, String]): Unit = {
    val out = o("out")
    val spark = Main.session(o("cores").toInt, o("work"))
    val ctx = new Ctx(spark, o("data"), o("work"), "", new Tracer(false), new Probe(spark))
    new AnalyticsMix(ctx).setup(0)
    val lines = AnalyticsMix.CalibrationSet.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val fam = AnalyticsMix.family(name)
      Try {
        val t0 = System.nanoTime()
        val rows = fn(spark, ctx.data).collect()
        val dt = (System.nanoTime() - t0) / 1e9
        val d = Stats.digest(rows.map(AnalyticsMix.canonical))
        fn(spark, ctx.data).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        f"$name\t$fam\t$dt%.4f\tok\t$d"
      }.recover { case e => s"$name\t$fam\t0\terror\t${e.toString.replace('\t', ' ').take(200)}" }.get
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/calibration.tsv"),
      lines.mkString("", "\n", "\n"))
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      graft.SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
