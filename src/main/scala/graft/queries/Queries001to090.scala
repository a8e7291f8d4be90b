package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators._
import graft.pipeline.Embedder
import QueryHelpers._
import OracleHelpers._

/** Query builders + DuckDB oracles q001-q090, split verbatim from
  * SparkEntry (see its scaladoc for the oracle-parity contract; NOTES.md
  * for the hash/decimal replay rules). */
private[graft] object Queries001to090 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ---- Aggregations (SURVEY §2.4) -------------------------------------
    "q01_pricing_summary" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 4).as("sum_qty"),
          dsum(col("l_extendedprice"), 4).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .as("sum_charge"),
          (dsum(col("l_quantity"), 4) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice"), 4) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),


    // ---- Joins (SURVEY §2.3) --------------------------------------------
    "q02_trade_volume" -> ((s, dir) => {
      // TPC-H Q7 shape: revenue between customer-nation and supplier-nation
      // pairs. nation is broadcast twice (25 rows); the fact-side joins
      // shuffle on their keys. supplier (100·sf rows) auto-broadcasts
      // under AQE.
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val custNation = tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val suppNation = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(custNation, col("o_custkey") === col("c_custkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .filter(col("cust_nation") =!= col("supp_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(dsum(rev).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("supp_nation"), col("cust_nation"))
        .limit(20)
    }),


    "q03_revenue_by_nation" -> ((s, dir) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(dsum(rev).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("nation")
    }),


    "q04_order_priority" -> ((s, dir) => {
      // EXISTS semi-join (reference J7-shape)
      val li = tbl(s, dir, "lineitem").filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey").distinct()
      tbl(s, dir, "orders")
        .join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),


    "q05_customers_no_orders" -> ((s, dir) => {
      // insert-if-absent anti-join shape (reference J1, vector_store.py:250-257)
      val recent = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      tbl(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),


    // ---- Filters / projections / row transforms (SURVEY §2.2) -----------
    "q06_revenue_filter" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
    }),


    // ---- Set operations (SURVEY §2.6) -----------------------------------
    "q07_distinct_segments" -> ((s, dir) =>
      tbl(s, dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")),


    // ---- Sorts / limits / top-k (SURVEY §2.5) ---------------------------
    "q08_top3_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    }),


    "q09_orders_per_month" -> ((s, dir) => {
      tbl(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 4).as("total"),
          (dsum(col("o_totalprice"), 4) / count(lit(1))).as("avg_price"))
        .orderBy("month")
    }),


    "q10_brand_stats" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity"), 4).as("sum_qty"),
          (dsum(col("l_extendedprice"), 4) / count(lit(1))).as("avg_price"))
        .orderBy("p_brand")
    }),


    "q11_chunk_documents" -> ((s, dir) => {
      // P1 fixed-window splitter + P2 id enrichment
      Chunker.chunkWithIds(tbl(s, dir, "documents"), "doc_id", "text", 200, 50)
        .select(col("doc_id"), col("chunk_index"), col("start_index"),
          col("chunk_id"), col("chunk"))
        .orderBy("doc_id", "chunk_index")
    }),


    "q12_dedup_first" -> ((s, dir) => {
      // P4 content dedup, first occurrence wins (vector_store.py:112-118)
      Dedup.exactDedup(tbl(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    }),


    "q13_dedup_keepmax" -> ((s, dir) => {
      // R3 retrieval dedup keep-max (vs_retriever.py:130-151); "content" = lang
      Dedup.dedupKeepMax(tbl(s, dir, "documents"), "lang", "n_chars", "doc_id")
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang")
    }),


    // ---- Incremental / change detection (SURVEY §2.9) -------------------
    "q14_change_detection" -> ((s, dir) => {
      // J3 etag/mtime classification (oci/bucket.py:152-181); synthesizes
      // current vs processed listings deterministically from `documents`.
      val d = tbl(s, dir, "documents")
      val cur = d.filter(col("doc_id") % 5 =!= 0).select(
        concat(lit("f"), col("doc_id")).as("name"),
        when(col("doc_id") % 7 === 0, md5(concat(col("text"), lit("X"))))
          .otherwise(md5(col("text"))).as("etag"),
        (col("doc_id") % 11).cast("string").as("time_modified"))
      val proc = d.filter(col("doc_id") % 5 =!= 4).select(
        concat(lit("f"), col("doc_id")).as("filename"),
        when(col("doc_id") % 13 === 0, lit(null).cast("string"))
          .otherwise(md5(col("text"))).as("etag"),
        when(col("doc_id") % 13 === 0, lit(null).cast("string"))
          .otherwise((col("doc_id") % 11).cast("string")).as("time_modified"))
      ChangeDetection.detectChanges(cur, proc).orderBy("name")
    }),


    "q15_file_rollup" -> ((s, dir) => {
      // A1/A2 per-file metadata rollup (reference vector_store.py:379-396)
      tbl(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), max("n_chars").as("max_chars"),
          min("doc_id").as("first_doc"),
          sum("n_chars").as("total_chars"))
        .orderBy("source")
    }),


    "q16_score_normalize" -> ((s, dir) => {
      // R2 score normalization (vs_retriever.py:267-274)
      val d = (col("vec_id") % 100).cast("double") / 50.0
      tbl(s, dir, "embeddings")
        .select(col("vec_id"), d.as("distance"),
          VF.normalizeScore(d, "COSINE").as("cosine_score"),
          VF.normalizeScore(d, "DOT").as("dot_score"),
          VF.normalizeScore(d, "EUCLIDEAN").as("euclidean_score"))
        .orderBy("vec_id")
    }),


    // ---- Similarity search (J6/R1-R5) -----------------------------------
    "q17_cosine_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      Similarity.topK(e, "embedding", qv, 8, "COSINE", "vec_id")
        .select(col("vec_id"), col("label"), round(col("distance"), 6).as("distance"))
    }),


    "q18_knn_batch" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.topKBatch(e, "embedding", "vec_id", queries, "qv", "qid", 3)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("distance"), 6).as("distance"))
        .orderBy("query_id", "rank")
    }),


    "q19_mmr" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val picked = Similarity.mmr(e, "embedding", "vec_id", qv, 5, 20, 0.5)
      s.createDataFrame(picked.zipWithIndex.map { case ((id, sc), i) =>
        (i + 1, id, BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }).toDF("rank", "vec_id", "mmr_score")
    }),


    // ---- Deduplication family (beyond-reference) ------------------------
    "q20_minhash_pairs" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      nearDupPairs(corpus)
        .orderBy("doc_a", "doc_b")
    }),


    "q21_simhash_pairs" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),


    "q22_ngram_jaccard" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").filter(col("doc_id") < 50)
      val corpus = d.select(col("doc_id"), col("text")).union(
        d.select(col("doc_id") + 1000,
          expr("substring(text, 1, greatest(length(text) - 7, 1))")))
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 5, threshold = 0.6)
        .orderBy("doc_a", "doc_b")
    }),


    "q23_token_stats" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(col("doc_id"),
          TF.tokenCount(col("text")).as("tokens"),
          TF.approxSubwordCount(col("text")).as("subwords"),
          TF.punctRatio(col("text")).as("punct_ratio"),
          TF.digitRatio(col("text")).as("digit_ratio"),
          TF.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy("doc_id")
    }),


    "q24_lang_id" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TF.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),


    "q25_quality_score" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TF.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),


    "q26_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint("text").as("fp"))
        .orderBy("doc_id")),


    "q27_sessionize" -> ((s, dir) => {
      // gap-based sessionization (batch twin of the streaming operator)
      streaming.EventStreams.sessionizeNative(
          events(s, dir).select("user_id", "ts", "value"), "30 minutes")
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
        .orderBy("user_id", "session_start")
    }),


    "q28_tumbling_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("window_start", "event_type")
    }),


    // ---- Scalar functions / JSON (SURVEY §2.7) --------------------------
    "q29_json_props" -> ((s, dir) => {
      events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .groupBy("k_val").agg(count(lit(1)).as("n"))
        .orderBy("k_val")
    }),


    "q30_union_except" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      d.filter(col("doc_id") % 3 === 0).select("doc_id")
        .union(d.filter(col("doc_id") % 5 === 0).select("doc_id"))
        .distinct()
        .except(d.filter(col("doc_id") % 7 === 0).select("doc_id"))
        .orderBy("doc_id")
    }),


    "q31_topk_global" -> ((s, dir) => {
      // R4 global top-k → TakeOrderedAndProject, no full sort
      tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
    }),


    // ---- Flagship RAG pipeline (oracle replays the whole chunk→embed→
    // search chain; the store write is a side effect)
    "q32_embed_search" -> ((s, dir) => embedSearch(s, dir)),


    // ---- Multimodal plumbing (binary columns, batch decode stub) --------
    "q33_multimodal_features" -> ((s, dir) => {
      val bin = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("content_bin"))
      Multimodal.extractFeatures(bin, "content_bin", featDim = 8)
        .select(col("doc_id"), col("byte_len"), col("sha256"))
        .orderBy("doc_id")
    }),


    "q34_distinct_counts" -> ((s, dir) => {
      tbl(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
    }),


    // ---- IVF-style ANN assignment (scale path for similarity search) ----
    "q35_ivf_assign" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      Similarity.assignNearestCentroid(e, "embedding", "vec_id", centroids, "cid", "cv")
        .select(col("vec_id"), col("centroid_id"),
          round(col("centroid_dist"), 6).as("centroid_dist"))
        .orderBy("vec_id")
    }),


    "q36_embedding_neardup" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
          Similarity.hyperplaneBucket("embedding", 64, 4), 0.25)
        .select(col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("doc_a", "doc_b")
    }),


    // ---- Testbed evaluation (SURVEY §3.3: answer → judge → report) ------
    "q37_testbed_eval" -> ((s, dir) => {
      import s.implicits._
      val qa0 = testbed.Testbed.generateTestset(
          tbl(s, dir, "documents"), "text", "doc_id",
          questions = 2, chunkSize = 40, minChunks = 5)
        .withColumn("reference_answer", upper(expr("substring(reference_context, 1, 16)")))
        .withColumn("agent_answer", lit(null).cast("string"))
        .withColumn("correctness", lit(null).cast("boolean"))
        .as[testbed.Testbed.QARecord]
      val answered = testbed.Testbed.collectAnswers(qa0, q => q.toUpperCase)
      val judged = testbed.Testbed.judge(answered,
        (q, a, ref) => a == q.toUpperCase && ref.length % 2 == 0)
      testbed.Testbed.reportByTopic(judged.toDF())
        .select(col("topic"), col("n"), col("n_correct"), col("correctness"))
        .orderBy("topic")
    }),


    // ---- NL2SQL execution surface (SELECT-only guard → spark.sql) -------
    "q38_nl2sql" -> ((s, dir) => {
      Seq("part", "supplier").foreach { t =>
        tbl(s, dir, t).createOrReplaceTempView(t)
      }
      plans.SelectOnly.executeCapped(s,
        """SELECT p_brand, count(*) AS n, max(p_retailprice) AS max_price
          |FROM part WHERE p_size >= 30 GROUP BY p_brand ORDER BY p_brand""".stripMargin)
    }),


    // ---- Web-scrape row transforms (P7 slugify) -------------------------
    "q39_slugify" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TF.slugify(expr("substring(text, 1, 50)")).as("slug"))
        .orderBy("doc_id")),


    // ---- Web-scrape section extraction (S8) -----------------------------
    "q40_webscrape_sections" -> ((s, dir) => {
      // synthesized two-section pages: exercises script stripping, heading
      // splits, entity unescaping, and whitespace normalization
      val pages = tbl(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("<html><script>skip()</script><h1>"), col("source"),
            lit("</h1>"), expr("substring(text, 1, 120)"),
            lit("<h2>Details &amp; more</h2>"), expr("substring(text, 121)"),
            lit("</html>")).as("html"))
      sources.WebScrape.sections(pages, "html")
        .select(col("doc_id"), col("section_index"), col("title"), col("content"))
        .orderBy("doc_id", "section_index")
    }),


    // ---- File-corpus ingest (S1-S6; rows-only — reads a generated corpus)
    "q41_file_ingest" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      val corpusDir = Files.createDirectories(Paths.get(scratch("ingest-corpus"))).toString
      val docs = tbl(s, dir, "documents").filter(col("doc_id") < 20)
        .select("doc_id", "text").collect()
      docs.foreach { r =>
        Files.writeString(Paths.get(corpusDir, s"doc${r.getLong(0)}.txt"), r.getString(1))
      }
      Files.writeString(Paths.get(corpusDir, "readme.md"), "# corpus")
      Files.writeString(Paths.get(corpusDir, "binary.pdf"), "%PDF-fake")
      Files.writeString(Paths.get(corpusDir, "data.bin"), "xx")
      // REAL binary fixtures for the JDK-only extractors: a DOCX (zip +
      // word/document.xml) and a PDF with an uncompressed content stream —
      // expected text is a constant, so text_len is oracle-checkable
      val docxBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
        z.write(("<?xml version=\"1.0\"?><w:document><w:body>" +
          "<w:p><w:r><w:t>Spark ingest works</w:t></w:r></w:p>" +
          "<w:p><w:r><w:t xml:space=\"preserve\">Second paragraph</w:t></w:r></w:p>" +
          "</w:body></w:document>").getBytes("UTF-8"))
        z.closeEntry(); z.close(); bos.toByteArray
      }
      Files.write(Paths.get(corpusDir, "report.docx"), docxBytes)
      val xlsxBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(bos)
        z.putNextEntry(new java.util.zip.ZipEntry("xl/sharedStrings.xml"))
        z.write("<sst><si><t>region</t></si><si><t>total</t></si></sst>".getBytes("UTF-8"))
        z.closeEntry()
        z.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
        z.write(("<worksheet><sheetData>" +
          "<row r=\"1\"><c r=\"A1\" t=\"s\"><v>0</v></c><c r=\"B1\" t=\"s\"><v>1</v></c></row>" +
          "<row r=\"2\"><c r=\"A2\"><v>7</v></c><c r=\"B2\"><v>950</v></c></row>" +
          "</sheetData></worksheet>").getBytes("UTF-8"))
        z.closeEntry(); z.close(); bos.toByteArray
      }
      Files.write(Paths.get(corpusDir, "table.xlsx"), xlsxBytes)
      Files.write(Paths.get(corpusDir, "real.pdf"),
        ("%PDF-1.4\n1 0 obj\n<< /Length 44 >>\nstream\n" +
          "BT /F1 12 Tf (Hello from a real PDF) Tj ET\n" +
          "endstream\nendobj\ntrailer\n<<>>\n%%EOF").getBytes("ISO-8859-1"))
      val corpus = sources.DocumentSource.loadCorpus(s, corpusDir)
      corpus.select(col("filename"), col("ext"), col("parse_ok"),
          length(col("text")).as("text_len"), col("skip_reason"))
        .orderBy("filename")
    }),


    "q42_sliding_window" -> ((s, dir) => {
      streaming.EventStreams.slidingCounts(events(s, dir), "1 hour", "15 minutes")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }),


    "q43_revenue_by_region" -> ((s, dir) => {
      // 5-table chain exercising every dimension incl. region; dims broadcast
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .groupBy(col("r_name").as("region"))
        .agg(dsum(rev).as("revenue"), count(lit(1)).as("n_items"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy("region")
    }),


    "q44_file_stats" -> ((s, dir) => {
      // A2 file statistics with orphan accounting (vector_store.py:447-531):
      // legacy chunks with no filename roll into an __orphan__ row
      val store = tbl(s, dir, "documents").select(
        when(col("doc_id") % 10 === 0, lit(null).cast("string"))
          .otherwise(col("source")).as("filename"),
        col("n_chars"), col("doc_id"))
      store.groupBy(coalesce(col("filename"), lit("__orphan__")).as("filename"))
        .agg(count(lit(1)).as("n_chunks"), max("n_chars").as("max_chars"),
          min("doc_id").as("first_doc"))
        .orderBy("filename")
    }),


    "q45_rollup" -> ((s, dir) => {
      // multi-level aggregation (beyond the reference — it has no grouping
      // sets); subtotal levels labeled via coalesce so null-ordering
      // differences between engines never matter
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 4).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    }),


    "q46_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_custkey", "o_orderkey")
    }),


    "q47_string_funcs" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          upper(col("source")).as("up"),
          lpad(col("lang"), 5, "_").as("padded"),
          reverse(col("source")).as("rev"),
          expr("substring(text, 3, 8)").as("sub"),
          replace(col("source"), lit("src"), lit("origin")).as("repl"),
          levenshtein(col("source"), col("lang")).as("lev"),
          instr(col("text"), "spark").cast("long").as("pos"),
          repeat(col("lang"), 3).as("rep"),
          concat_ws("|", col("source"), col("lang")).as("joined"),
          sha2(col("source"), 256).as("sha"))
        .orderBy("doc_id")),


    "q48_date_funcs" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          (dayofweek(col("o_orderdate")) - 1).as("dow"), // 0=Sunday, both engines
          dayofyear(col("o_orderdate")).as("doy"),
          date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
          date_format(date_add(col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").as("plus30"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days_to_2002"))
        .orderBy("o_orderkey")),


    "q49_cube" -> ((s, dir) => {
      // full CUBE over (returnflag, linestatus) — grouping-set breadth
      // beyond the reference (it has no grouping sets at all)
      tbl(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 4).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    }),


    "q50_pivot" -> ((s, dir) => {
      // pivot with an explicit value list (deterministic output schema);
      // the oracle is the equivalent conditional aggregation
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity"), 4))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0.0)).as("f_qty"),
          coalesce(col("O"), lit(0.0)).as("o_qty"))
        .orderBy("l_returnflag")
    }),


    "q51_moving_avg" -> ((s, dir) => {
      // rows-frame window: per-customer moving average over the last 3
      // orders by date (decimal sum / count, divided as doubles for parity)
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
      tbl(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          (sum(col("o_totalprice").cast("decimal(24,4)")).over(w).cast("double")
            / count(lit(1)).over(w)).as("mov_avg3"))
        .orderBy("o_custkey", "o_orderkey")
    }),


    "q52_below_avg_bigticket" -> ((s, dir) => {
      // TPC-H Q17 shape: per-part average joined back against the facts —
      // the aggregate side reduces to part-cardinality before the join
      val perPart = tbl(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_key"))
        .agg((dsum(col("l_quantity"), 4) / count(lit(1))).as("avg_qty"))
      tbl(s, dir, "lineitem")
        .join(perPart, col("l_partkey") === col("p_key"))
        .filter(col("l_quantity") < lit(0.9) * col("avg_qty"))
        .agg(dsum(col("l_extendedprice"), 4).as("below_avg_revenue"),
          count(lit(1)).as("n_items"))
    }),


    "q53_percentiles" -> ((s, dir) => {
      // exact interpolated percentiles (sort-based; round(6) absorbs the
      // engines' different interpolation association)
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),


    "q54_ivf_search" -> ((s, dir) => {
      // IVF probe path served from the STANDING AnnStore: the corpus is
      // persisted partitionBy(centroid_id) once per (JVM, sf-dir), so the
      // nProbe=2 cell filter is a partition-pruned scan of two cell
      // directories — the literal 100 TB serving shape (q35 gates the
      // assignment machinery inline)
      val e = tbl(s, dir, "embeddings")
      val assigned = QueryHelpers.storedAssigned(s, dir)
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val cents = QueryHelpers.codebookSeq(s, dir)
      val qv = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.ivfSearch(assigned, "embedding", "vec_id", cents, qv, 8, 2)
        .select(col("vec_id"), col("centroid_id"),
          round(col("distance"), 6).as("distance"))
    }),


    "q55_multistore_search" -> ((s, dir) => {
      // the reference's flagship retrieval composite (vs_retriever.py:
      // 307-384): per-store top-k → union → threshold → dedup keep-max on
      // content → global top-k, with the searched table stamped
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      def searchStore(df: DataFrame) =
        Similarity.topK(df, "embedding", qv, 8, "COSINE", "vec_id")
          .select(col("vec_id").as("id"),
            concat(lit("vec-"), col("vec_id") % 50).as("text"), col("score"))
      val even = searchStore(e.filter(col("label") % 2 === 0))
      val odd = searchStore(e.filter(col("label") % 2 === 1))
      Similarity.multiStoreSearch(Seq("even" -> even, "odd" -> odd), 0.55, 8)
        .select(col("searched_table"), col("id"), col("text"),
          round(col("score"), 6).as("score"))
    }),


    "q56_dedup_clusters" -> ((s, dir) => {
      // cluster-level dedup: LSH pairs → connected components → min-id rep
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      val pairs = nearDupPairs(corpus)
      Dedup.dedupClusters(pairs, "doc_a", "doc_b")
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .orderBy("doc_id")
    }),


    "q57_quantize_embeddings" -> ((s, dir) => {
      // symmetric int8 quantization of the embedding column — the 4×
      // storage cut for a 100 TB vector store, with per-row reconstruction
      // error as the quality gate
      val e = tbl(s, dir, "embeddings")
      e.withColumn("scale", VF.quantScale(col("embedding")))
        .withColumn("q", VF.quantizeInt8(col("embedding"), col("scale")))
        .select(col("vec_id"), col("scale"),
          expr("aggregate(q, 0L, (acc, x) -> acc + abs(x))").as("l1_q"),
          VF.quantError(col("embedding"), col("q"), col("scale")).as("max_err"))
        .orderBy("vec_id")
    }),


    "q58_quantized_search" -> ((s, dir) => {
      // retrieval over the int8-quantized store: dequantize and rank —
      // the end-to-end check that the 4× storage cut preserves search.
      // scale/q are materialized as columns FIRST: passing the quantScale
      // expression straight into the per-element lambdas would re-evaluate
      // the O(d) array_max once per element (O(d²) per row — measured 2×
      // the whole query's runtime at sf0.1)
      val e = tbl(s, dir, "embeddings")
      val deq = e
        .withColumn("scale", VF.quantScale(col("embedding")))
        .withColumn("q", VF.quantizeInt8(col("embedding"), col("scale")))
        .select(col("vec_id"),
          VF.dequantize(col("q"), col("scale")).as("demb"))
      val qv = deq.filter(col("vec_id") === 0).select("demb")
        .head().getSeq[Double](0)
      deq.withColumn("distance", VF.cosineDistance(col("demb"), typedLit(qv)))
        .orderBy(col("distance"), col("vec_id"))
        .limit(8)
        .select(col("vec_id"), round(col("distance"), 6).as("distance"))
    }),


    "q59_frame_sample" -> ((s, dir) => {
      // frame-sampling plan over an opaque binary column: one row per
      // sampled frame (index, byte offset) — the explode side of a video
      // frame sampler, no shuffle, parallelism = input partitions
      val bin = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("content_bin"))
      Multimodal.sampleFrames(bin, "content_bin", 100)
        .select(col("doc_id"), col("frame_index"), col("frame_offset"))
        .orderBy("doc_id", "frame_index")
    }),


    "q60_promo_revenue" -> ((s, dir) => {
      // TPC-H Q14 shape: conditional-aggregate ratio over a fact⋈dim join
      // (part auto-broadcasts under AQE at bench scale)
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val promoRev = when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0.0))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * dsum(promoRev) / dsum(rev)).as("promo_pct"),
          count(lit(1)).as("n_items"))
    }),


    "q61_shipmode_priority" -> ((s, dir) => {
      // TPC-H Q12 shape: join + per-group conditional counts
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),


    "q62_interval_join" -> ((s, dir) => {
      // range join: per click, views by the same user in the preceding 10
      // minutes — equi-key on user_id keeps it a hash/SMJ join with a
      // range residual, not a quadratic theta-join
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts").as("c_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"))
      clicks.join(views,
          clicks("user_id") === views("user_id") &&
            col("v_ts") >= col("c_ts") - expr("INTERVAL 10 MINUTES") &&
            col("v_ts") < col("c_ts"),
          "left")
        .groupBy(col("event_id"))
        .agg(count(col("v_ts")).as("n_views"))
        .orderBy("event_id")
    }),


    "q63_asof_join" -> ((s, dir) => {
      // as-of join: each purchase enriched with the latest same-user click
      // at or before it (Joins.asOfJoin: one shuffle, no range explosion)
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "value")
      Joins.asOfJoin(purchases, clicks, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("asof_ts").cast("timestamp_ntz").as("click_ts"),
          col("asof_value").as("click_value"))
        .orderBy("event_id")
    }),


    "q64_salted_join" -> ((s, dir) => {
      // salted equi-join under the oracle gate: the salt fans a hot key
      // over `salt` reducers but MUST NOT change the result — the oracle
      // is the plain join
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val ords = tbl(s, dir, "orders").select("o_orderkey", "o_orderpriority")
      Joins.saltedJoin(li, ords, "o_orderkey", salt = 8)
        .groupBy("o_orderpriority")
        .agg(dsum(col("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),


    "q65_stratified_sample" -> ((s, dir) => {
      // deterministic hash-bucket sampling + train/eval split: stable
      // across runs, partitionings, and engines — unlike rand()-based
      // sampleBy (reproducibility is the point for training corpora)
      val d = tbl(s, dir, "documents")
      Sampling.trainTestSplit(
          Sampling.stratifiedSample(d, "doc_id", "lang", Map("en" -> 50), 10),
          "doc_id", 80)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")
    }),


    "q66_kmv_distinct" -> ((s, dir) => {
      // KMV distinct sketch: deterministic (value-set function), mergeable,
      // exactly oracle-replayable — vs HLL++ whose estimate depends on
      // partition merge order
      Sketches.kmvDistinct(tbl(s, dir, "lineitem"), "l_partkey", 256)
    }),


    "q67_bloom_filter" -> ((s, dir) => {
      // Bloom build+probe (the runtime join-pruning shape): bits built
      // over big-quantity orderkeys, probed by all orders; flagged ⊇ build
      // with a bounded false-positive overshoot
      val m = 131072; val k = 3
      // build is read three times (bit packing, FP anti-join, n_build) —
      // materialize the ~|build| keys once instead of rescanning lineitem
      // each time
      val build = tbl(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("key")).distinct()
        .transform(Lineage.cut(_, "q67.build"))
      val words = Sketches.packBits(Sketches.bloomBits(build, "key", m, k), m)
      val probe = tbl(s, dir, "orders").select(col("o_orderkey").as("key"))
      val flagged = Sketches.bloomProbePacked(probe, "key", words, m, k)
      // one pass over flagged for both counts (the left join marks build
      // membership; build is small enough that Catalyst broadcasts it)
      val stats = flagged.join(build.withColumn("_inb", lit(1)), Seq("key"), "left")
        .agg(count(lit(1)).as("n_flagged"),
          coalesce(sum(when(col("_inb").isNull, 1L).otherwise(0L)), lit(0L)).as("n_false_pos"))
      build.agg(count(lit(1)).as("n_build")).crossJoin(stats)
    }),


    "q68_scd_intervals" -> ((s, dir) => {
      // SCD2-style temporal modeling: each event opens a validity interval
      // closed by the user's next event (lead window); open intervals are
      // the current state
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir).filter(col("user_id") < 100)
        .select(col("user_id"), col("event_type"),
          col("ts").cast("timestamp_ntz").as("valid_from"),
          lead(col("ts"), 1).over(w).cast("timestamp_ntz").as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from")
    }),


    "q69_funnel" -> ((s, dir) => {
      // strict ordered funnel: first view → first click after it → first
      // purchase after that; per-stage reductions stay user-cardinality
      val ev = events(s, dir)
      def stage(tpe: String) = ev.filter(col("event_type") === tpe)
        .select(col("user_id"), col("ts"))
      val v = stage("view").groupBy("user_id").agg(min("ts").as("tv"))
      val c = stage("click").join(v, "user_id").filter(col("ts") > col("tv"))
        .groupBy("user_id").agg(min("ts").as("tc"))
      val p = stage("purchase").join(c, "user_id").filter(col("ts") > col("tc"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click_after_view")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_click")))
    }),


    // ---- Text analysis (beyond-reference training-data ops) -------------
    "q70_bigram_counts" -> ((s, dir) => {
      // n-gram LM statistics: top-20 token bigrams across the corpus —
      // explode is map-side, the only shuffle is the count aggregation,
      // and top-k plans as TakeOrderedAndProject
      // tokenize ONCE into a column: Catalyst does not CSE interpreted
      // higher-order expressions, so inlining the split into the per-index
      // lambda would re-split the text per bigram (quadratic)
      tbl(s, dir, "documents")
        .select(expr("filter(split(lower(text), '\\\\s+'), t -> t != '')").as("t"))
        .select(explode(expr(
          "case when size(t) < 2 then cast(array() as array<string>) " +
            "else transform(sequence(1, size(t) - 1), " +
            "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) end")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("bigram"))
        .limit(20)
    }),


    "q71_gopher_quality" -> ((s, dir) =>
      // Gopher-style document quality gate (word-count / mean-word-length /
      // stopword / uniqueness bounds) — single-pass HOF metrics, no shuffle
      TextQuality.gopherMetrics(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),


    "q72_bigram_repetition" -> ((s, dir) =>
      // duplicate/top bigram fractions (Gopher's repetition filters) —
      // ONE (doc, bigram) shuffle with map-side partial aggregation
      TextQuality.bigramRepetition(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),


    "q73_pii_redact" -> ((s, dir) => {
      // regex PII scrub (C4-style): the synthetic corpus carries no PII, so
      // inject deterministic email/IP spans per doc, then count + redact
      val withPii = tbl(s, dir, "documents").withColumn("text2",
        concat(col("text"), lit(" contact doc"), col("doc_id"),
          lit("@example.com from 10.0."), col("doc_id") % 256,
          lit("."), (col("doc_id") * 7) % 256))
      TextQuality.piiRedact(withPii, "text2")
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          length(col("redacted")).as("redacted_len"),
          expr("right(redacted, 40)").as("redacted_tail"))
        .orderBy("doc_id")
    }),


    "q74_cms_heavy_hitters" -> ((s, dir) => {
      // count-min sketch heavy hitters: the 4×1024 counter grid is fixed
      // size regardless of input (map-side partial agg), estimates join the
      // broadcast grid; est ≥ true is the CMS guarantee under the oracle
      val li = tbl(s, dir, "lineitem").select(col("l_partkey").as("key"))
      val counters = Sketches.cmsCounters(li, "key", 4, 1024)
      val top = li.groupBy("key").agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), col("key")).limit(10)
      Sketches.cmsEstimate(top, "key", counters, 4, 1024)
        .join(top, "key")
        .select(col("key"), col("true_cnt"), col("cms_est"))
        .orderBy(desc("true_cnt"), col("key"))
    }),


    "q75_hll_distinct" -> ((s, dir) => {
      // order-independent HyperLogLog per group (exact-oracle twin of
      // approx_count_distinct, whose HLL++ merge order is layout-dependent)
      val ev = events(s, dir)
      val est = Sketches.hllDistinctByGroup(ev, "event_type", "user_id", 5)
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(est, "event_type").orderBy("event_type")
    }),


    "q76_zorder_layout" -> ((s, dir) =>
      // Morton-code clustering: bucket lineitem into 64 z-ranges of
      // (partkey, suppkey) and report per-bucket min/max — the footer
      // stats a reader prunes on; narrow ranges in BOTH dims = skipping
      // works for predicates on either column
      DataLayout.zOrderStats(
          tbl(s, dir, "lineitem")
            .select((col("l_partkey") % 1024).as("px"),
              (col("l_suppkey") % 1024).as("sy")),
          "px", "sy", bits = 10, nBuckets = 64)
        .orderBy("bucket")),


    "q77_skew_profile" -> ((s, dir) =>
      // pre-shuffle join-key audit: hottest keys + ratio to the mean key
      // frequency — the decision input for saltedJoin (q64) / AQE skew
      DataLayout.skewProfile(
          tbl(s, dir, "lineitem").select(col("l_partkey")), "l_partkey", 10)),


    "q78_tfidf_top_terms" -> ((s, dir) =>
      // per-doc top-3 TF-IDF terms over a 50-doc slice (exact-ratio IDF)
      TextQuality.tfidfTopTerms(
          tbl(s, dir, "documents").filter(col("doc_id") < 50), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")),


    // ---- Governance (SURVEY §2.10) --------------------------------------
    "q79_governed_view" -> ((s, dir) => {
      // row policy (semi-join against an allowlist) + column masking +
      // numeric generalization — a governed view that still prunes at scan
      val policy = tbl(s, dir, "nation").filter(col("n_regionkey") === 1)
        .select(col("n_nationkey"))
      Governance.applyRowPolicy(tbl(s, dir, "customer"), "c_nationkey",
          policy, "n_nationkey")
        .select(col("c_custkey"),
          Governance.maskTail(col("c_name"), 9).as("name_masked"),
          Governance.generalize(col("c_acctbal"), 100.0).as("bal_band"),
          col("c_mktsegment"))
        .orderBy("c_custkey")
    }),


    "q80_url_safety" -> ((s, dir) => {
      // SSRF URL guard (the webscrape front-gate): synthesize a URL column
      // with unsafe schemes/hosts mixed in, then classify
      val d = tbl(s, dir, "documents")
      val url = when(col("doc_id") % 7 === 0,
          concat(lit("http://10."), col("doc_id") % 256, lit(".0.1/x")))
        .when(col("doc_id") % 11 === 0, lit("file:///etc/passwd"))
        .when(col("doc_id") % 13 === 0, lit("http://localhost/admin"))
        .when(col("doc_id") % 5 === 0,
          concat(lit("http://192.168.1."), col("doc_id") % 256, lit("/p")))
        .otherwise(concat(lit("https://"), col("source"),
          lit(".example.com/doc/"), col("doc_id")))
      d.select(col("doc_id"), url.as("url"))
        .withColumn("is_safe", Governance.urlIsSafe(col("url")))
        .orderBy("doc_id")
    }),


    "q81_record_linkage" -> ((s, dir) => {
      // entity resolution: link each document to its best match in a
      // shifted-window view of the corpus — blocking on (lang, source)
      // keeps candidates quadratic only within tiny blocks
      val d = tbl(s, dir, "documents")
      val blk = concat(col("lang"), lit("|"), col("source"))
      val leftT = d.select(col("doc_id"), blk.as("blk"),
          expr("substring(text, 1, 60)").as("name"))
        .filter(length(col("name")) >= 3)
      val rightT = d.select((col("doc_id") + 1000000).as("doc_id"), blk.as("blk"),
          expr("substring(text, 8, 60)").as("name"))
        .filter(length(col("name")) >= 3)
      Linkage.bestMatch(leftT, "doc_id", rightT, "doc_id", "blk", "name", 0.3)
        .orderBy("l_id")
    }),


    "q82_compaction_plan" -> ((s, dir) =>
      // key-aligned small-file compaction plan over the ship-date order:
      // files cut every 5000 rows but never splitting a date, so planned
      // min/max ranges are disjoint and a date predicate prunes to one
      // file run. The write path is DataLayout.compact (range-partition +
      // rolling maxRecordsPerFile); this is its audit view.
      DataLayout.compactionPlan(
          tbl(s, dir, "lineitem").select(col("l_shipdate")), "l_shipdate", 5000)
        .select(col("file_id"), col("n_keys"), col("n_rows"),
          col("min_key").cast("timestamp_ntz").as("min_key"),
          col("max_key").cast("timestamp_ntz").as("max_key"))
        .orderBy("file_id")),


    "q83_domain_mix" -> ((s, dir) =>
      // resample the corpus to a 40% en / 15%-each other-language mix:
      // the largest mix-consistent total is kept, rows chosen by the
      // deterministic hash-bucket rule (reproducible across engines)
      Sampling.domainMix(
          tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang",
          Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
            "fr" -> 0.15, "zh" -> 0.15))
        .select(col("doc_id"), col("lang"), col("keep_frac"), col("n_domain"))
        .orderBy("doc_id")),


    "q84_contamination" -> ((s, dir) => {
      // benchmark decontamination: 8-gram containment of each "eval" doc
      // (a substring probe set) in every training doc — containment, not
      // Jaccard, so a short benchmark buried in a long page still flags
      val d = tbl(s, dir, "documents")
      val eval = d.filter(col("doc_id") % 250 === 0)
        .select(col("doc_id").as("eval_id"),
          expr("substring(text, 20, 200)").as("etext"))
      Dedup.contaminationCheck(d, "doc_id", "text",
          eval, "eval_id", "etext", n = 8, threshold = 0.4)
        .orderBy("train_id", "eval_id")
    }),


    "q85_pack_plan" -> ((s, dir) =>
      // sequence-packing assignment: concatenate docs per lang shard in
      // doc_id order into 2000-token training windows; spans_boundary
      // marks docs crossing a window seam
      Chunker.packSequences(
          tbl(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              TF.tokenCount(col("text")).as("tokens"))
            .filter(col("tokens") > 0),
          "lang", "doc_id", "tokens", 2000)
        .select(col("doc_id"), col("lang"), col("tokens"),
          col("pack_id"), col("spans_boundary"))
        .orderBy("doc_id")),


    "q86_temperature_mix" -> ((s, dir) =>
      // α=0.5 temperature rebalancing (mT5 recipe): thin head languages
      // toward √count shares; the rarest language keeps everything
      Sampling.temperatureMix(
          tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("keep_frac"), col("n_domain"))
        .orderBy("doc_id")),


    "q87_dup_spans" -> ((s, dir) => {
      // exact duplicated-span extraction (token 8-grams) over the near-dup
      // corpus — the substring-level step after pair/cluster detection:
      // WHICH ranges of a document are copies, not just which documents
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      Dedup.dupSpans(corpus, "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start")
    }),


    "q88_returned_custs" -> ((s, dir) => {
      // TPC-H Q10 shape: returned-items revenue per customer over a
      // half-year — facts shuffle on their join keys, nation broadcasts,
      // and the top-20 plans as TakeOrderedAndProject (no global sort)
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      tbl(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    }),


    "q89_order_count_dist" -> ((s, dir) => {
      // TPC-H Q13 shape: left outer join + double aggregation — order
      // count per customer INCLUDING zero-order customers, then the
      // distribution of those counts (second agg input is customer-
      // cardinality, so the second shuffle is tiny)
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").filter(col("o_orderstatus") =!= "F"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),


    "q90_big_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: orders whose total quantity clears a threshold —
      // the HAVING side reduces lineitem to order cardinality BEFORE any
      // join, so the join input is the few qualifying orders, not the facts
      val big = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("b_orderkey"))
        .agg(dsum(col("l_quantity"), 4).as("sum_qty"))
        .filter(col("sum_qty") > 350)
      tbl(s, dir, "orders")
        .join(big, col("o_orderkey") === col("b_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
    })
  )

  def oracleSql: Map[String, String] = Map(

      "q01_pricing_summary" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  ${dsumSql("l_quantity", 4)} AS sum_qty,
           |  ${dsumSql("l_extendedprice", 4)} AS sum_base_price,
           |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           |  ${dsumSql("l_quantity", 4)} / COUNT(*) AS avg_qty,
           |  ${dsumSql("l_extendedprice", 4)} / COUNT(*) AS avg_price,
           |  COUNT(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin,


      "q02_trade_volume" ->
        s"""SELECT supp_nation, cust_nation, revenue, n_items FROM (
           |  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
           |    COUNT(*) AS n_items
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN nation cn ON c_nationkey = cn.n_nationkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation sn ON s_nationkey = sn.n_nationkey
           |  WHERE cn.n_name <> sn.n_name
           |  GROUP BY 1, 2)
           |ORDER BY revenue DESC, supp_nation, cust_nation
           |LIMIT 20""".stripMargin,


      "q03_revenue_by_nation" ->
        s"""SELECT n_name AS nation,
           |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  COUNT(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_name ORDER BY nation""".stripMargin,


      "q04_order_priority" ->
        """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1997-01-01')
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


      "q05_customers_no_orders" ->
        """SELECT c_custkey, c_name, c_acctbal FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |  AND o_orderdate >= TIMESTAMP '2000-01-01')
          |ORDER BY c_custkey""".stripMargin,


      "q06_revenue_filter" ->
        s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue,
           |  COUNT(*) AS n_items
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,


      "q07_distinct_segments" ->
        "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",


      "q08_top3_orders_per_cust" ->
        """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |    CAST(row_number() OVER (PARTITION BY o_custkey
          |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
          |  FROM orders) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,


      "q09_orders_per_month" ->
        s"""SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
           |  ${dsumSql("o_totalprice", 4)} AS total,
           |  ${dsumSql("o_totalprice", 4)} / COUNT(*) AS avg_price
           |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,


      "q10_brand_stats" ->
        s"""SELECT p_brand, COUNT(*) AS n_items,
           |  ${dsumSql("l_quantity", 4)} AS sum_qty,
           |  ${dsumSql("l_extendedprice", 4)} / COUNT(*) AS avg_price
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin,


      "q11_chunk_documents" ->
        """SELECT doc_id, CAST(s // 150 AS INT) AS chunk_index, CAST(s AS INT) AS start_index,
          |  CAST(doc_id AS VARCHAR) || '_' || CAST(s // 150 AS VARCHAR) AS chunk_id,
          |  substring(text, CAST(s AS INT) + 1, 200) AS chunk
          |FROM documents, unnest(range(0, length(text), 150)) AS t(s)
          |ORDER BY doc_id, chunk_index""".stripMargin,


      "q12_dedup_first" ->
        """SELECT doc_id, source, n_chars FROM (
          |  SELECT doc_id, source, n_chars,
          |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,


      "q13_dedup_keepmax" ->
        """SELECT lang, doc_id, n_chars FROM (
          |  SELECT lang, doc_id, n_chars,
          |    row_number() OVER (PARTITION BY md5(lang) ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM documents) WHERE rn = 1 ORDER BY lang""".stripMargin,


      "q14_change_detection" ->
        """WITH cur AS (
          |  SELECT 'f' || CAST(doc_id AS VARCHAR) AS name,
          |    CASE WHEN doc_id % 7 = 0 THEN md5(text || 'X') ELSE md5(text) END AS cur_etag,
          |    CAST(doc_id % 11 AS VARCHAR) AS cur_mtime, 1 AS cur_present
          |  FROM documents WHERE doc_id % 5 <> 0),
          |proc AS (
          |  SELECT 'f' || CAST(doc_id AS VARCHAR) AS name,
          |    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE md5(text) END AS proc_etag,
          |    CASE WHEN doc_id % 13 = 0 THEN NULL
          |         ELSE CAST(doc_id % 11 AS VARCHAR) END AS proc_mtime,
          |    1 AS proc_present
          |  FROM documents WHERE doc_id % 5 <> 4)
          |SELECT name,
          |  CASE WHEN cur_present IS NULL THEN 'deleted'
          |       WHEN proc_present IS NULL THEN 'new'
          |       WHEN proc_etag IS NULL AND proc_mtime IS NULL THEN 'unchanged'
          |       WHEN COALESCE(cur_etag <> proc_etag, FALSE)
          |         OR COALESCE(cur_mtime <> proc_mtime, FALSE) THEN 'modified'
          |       ELSE 'unchanged' END AS status
          |FROM cur FULL OUTER JOIN proc USING (name)
          |ORDER BY name""".stripMargin,


      "q15_file_rollup" ->
        """SELECT source, COUNT(*) AS n_docs, MAX(n_chars) AS max_chars,
          |  MIN(doc_id) AS first_doc, CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,


      "q16_score_normalize" ->
        """SELECT vec_id, CAST(vec_id % 100 AS DOUBLE) / 50.0 AS distance,
          |  1.0 - (CAST(vec_id % 100 AS DOUBLE) / 50.0) / 2.0 AS cosine_score,
          |  CAST(vec_id % 100 AS DOUBLE) / 50.0 AS dot_score,
          |  1.0 / (1.0 + CAST(vec_id % 100 AS DOUBLE) / 50.0) AS euclidean_score
          |FROM embeddings ORDER BY vec_id""".stripMargin,


      "q17_cosine_topk" ->
        """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
          |SELECT vec_id, label,
          |  round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS distance
          |FROM embeddings, q
          |ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), vec_id
          |LIMIT 8""".stripMargin,


      "q18_knn_batch" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id < 5)
          |SELECT query_id, rank, vec_id, round(distance, 6) AS distance FROM (
          |  SELECT q.query_id, e.vec_id,
          |    1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS distance,
          |    CAST(row_number() OVER (PARTITION BY q.query_id
          |      ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv),
          |        e.vec_id) AS INT) AS rank
          |  FROM embeddings e, q)
          |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

      "q19_mmr" -> mmrOracleSql,


      "q20_minhash_pairs" -> minhashOracleSql,

      "q21_simhash_pairs" -> simhashOracleSql,


      "q22_ngram_jaccard" ->
        s"""WITH corpus AS ($chunkCorpus),
           |grams AS (
           |  SELECT DISTINCT doc_id, substring(text, CAST(s AS INT) + 1, 5) AS gram
           |  FROM corpus, unnest(range(0, length(text) - 4, 1)) AS t(s)
           |  WHERE length(text) >= 5),
           |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
           |  FROM grams a JOIN grams b USING (gram)
           |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b,
           |  CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
           |FROM inter
           |JOIN sizes sa ON sa.doc_id = doc_a
           |JOIN sizes sb ON sb.doc_id = doc_b
           |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.6
           |ORDER BY doc_a, doc_b""".stripMargin,


      "q23_token_stats" ->
        s"""SELECT doc_id,
           |  CAST(len($toks) AS INT) AS tokens,
           |  CAST(list_sum(list_transform($toks,
           |    t -> 1 + CAST(floor((length(t) - 1) / 4) AS INT))) AS INT) AS subwords,
           |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
           |    CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
           |      / length(text) END AS punct_ratio,
           |  CASE WHEN length(text) = 0 THEN 0.0 ELSE
           |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
           |      / length(text) END AS digit_ratio,
           |  CASE WHEN len($toks) = 0 THEN 0.0 ELSE
           |    CAST(len(list_filter(list_transform($toks, t -> lower(t)),
           |      t -> t IN ('the','and','of','to','in','is','that','for','with','are','was','this','it','on','be','as','by','at'))) AS DOUBLE)
           |      / len($toks) END AS stopword_ratio
           |FROM documents ORDER BY doc_id""".stripMargin,


      "q24_lang_id" ->
        s"""SELECT doc_id, $caseExpr AS lang_pred FROM (
           |  SELECT doc_id, ${langMarkers.map(l => s"${l._1}_hits").mkString(", ")},
           |    $bestExpr AS best
           |  FROM (SELECT doc_id, ${hitCols.mkString(", ")} FROM documents)
           |) ORDER BY doc_id""".stripMargin,


      "q25_quality_score" ->
        s"""SELECT doc_id, $qualitySql AS quality
           |FROM documents ORDER BY doc_id""".stripMargin,


      "q26_fingerprint" ->
        """SELECT doc_id,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(text) + 1),
          |      i -> CAST(ord(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
          |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin,


      "q27_sessionize" ->
        """WITH e AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
          |flagged AS (
          |  SELECT user_id, ts, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1
          |      ELSE 0 END AS new_session
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |sess AS (
          |  SELECT user_id, ts, value,
          |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM flagged)
          |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
          |  COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
          |FROM sess GROUP BY user_id, session_id
          |ORDER BY user_id, session_start""".stripMargin,


      "q28_tumbling_window" ->
        s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
           |  COUNT(*) AS n, ${dsumSql("value")} AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


      "q29_json_props" ->
        """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val, COUNT(*) AS n
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,


      "q30_union_except" ->
        """(SELECT doc_id FROM documents WHERE doc_id % 3 = 0
          | UNION SELECT doc_id FROM documents WHERE doc_id % 5 = 0)
          |EXCEPT SELECT doc_id FROM documents WHERE doc_id % 7 = 0
          |ORDER BY doc_id""".stripMargin,


      "q31_topk_global" ->
        """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
          |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

      "q32_embed_search" -> embedSearchOracleSql,


      "q33_multimodal_features" ->
        """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
          |  sha256(text) AS sha256
          |FROM documents ORDER BY doc_id""".stripMargin,


      "q34_distinct_counts" ->
        """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
          |  COUNT(DISTINCT l_suppkey) AS n_supps,
          |  COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem""".stripMargin,


      "q35_ivf_assign" ->
        s"""WITH $codebookCte
          |SELECT vec_id, centroid_id, round(centroid_dist, 6) AS centroid_dist FROM (
          |  SELECT e.vec_id, c.cid AS centroid_id,
          |    list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS centroid_dist,
          |    row_number() OVER (PARTITION BY e.vec_id
          |      ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
          |  FROM embeddings e, c)
          |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

      "q36_embedding_neardup" -> embeddingNearDupOracleSql,


      "q37_testbed_eval" ->
        """WITH chunks AS (
          |  SELECT doc_id, CAST(s // 36 AS INT) AS ci,
          |    substring(text, CAST(s AS INT) + 1, 40) AS chunk
          |  FROM documents, unnest(range(0, length(text), 36)) AS t(s)),
          |elig AS (
          |  SELECT doc_id, ci, chunk,
          |    COUNT(*) OVER (PARTITION BY doc_id) AS nch
          |  FROM chunks),
          |ranked AS (
          |  SELECT doc_id, ci, chunk,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY ci) AS rk
          |  FROM elig WHERE nch >= 5),
          |final AS (
          |  SELECT CAST(doc_id AS VARCHAR) AS topic,
          |    (least(length(chunk), 16) % 2 = 0) AS correct
          |  FROM ranked WHERE rk <= 2)
          |SELECT topic, COUNT(*) AS n,
          |  CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
          |  CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS correctness
          |FROM final GROUP BY topic ORDER BY topic""".stripMargin,


      "q38_nl2sql" ->
        """SELECT p_brand, count(*) AS n, max(p_retailprice) AS max_price
          |FROM part WHERE p_size >= 30 GROUP BY p_brand ORDER BY p_brand""".stripMargin,


      "q39_slugify" ->
        """SELECT doc_id,
          |  substring(regexp_replace(regexp_replace(lower(substring(text, 1, 50)),
          |    '[^a-z0-9]+', '-', 'g'), '^-|-$', '', 'g'), 1, 40) AS slug
          |FROM documents ORDER BY doc_id""".stripMargin,


      "q40_webscrape_sections" ->
        """SELECT doc_id, section_index, title, content FROM (
          |  SELECT doc_id, 0 AS section_index, source AS title,
          |    trim(regexp_replace(substring(text, 1, 120), '\s+', ' ', 'g')) AS content
          |  FROM documents
          |  UNION ALL
          |  SELECT doc_id, 1, 'Details & more',
          |    trim(regexp_replace(substring(text, 121), '\s+', ' ', 'g'))
          |  FROM documents
          |  WHERE length(trim(regexp_replace(substring(text, 121), '\s+', ' ', 'g'))) > 0)
          |ORDER BY doc_id, section_index""".stripMargin,


      // File-corpus ingest: the corpus q41 loads is generated from the
      // documents table plus constant files, so the expected parse
      // dispatch and text lengths are exactly derivable: txt/md parse
      // directly; real.pdf extracts "Hello from a real PDF" (21) via the
      // JDK Tj parser; report.docx extracts two paragraphs (35) via
      // zip+XML; binary.pdf has no text stream → "[pdf-no-text bytes=9]"
      // (21 chars); .bin is skipped.
      "q41_file_ingest" ->
        """SELECT 'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
          |  'txt' AS ext, true AS parse_ok, CAST(length(text) AS INT) AS text_len,
          |  CAST(NULL AS VARCHAR) AS skip_reason
          |FROM documents WHERE doc_id < 20
          |UNION ALL SELECT 'readme.md', 'md', true, 8, NULL
          |UNION ALL SELECT 'binary.pdf', 'pdf', true, 21, NULL
          |UNION ALL SELECT 'real.pdf', 'pdf', true, 21, NULL
          |UNION ALL SELECT 'report.docx', 'docx', true, 35, NULL
          |UNION ALL SELECT 'table.xlsx', 'xlsx', true, 18, NULL
          |UNION ALL SELECT 'data.bin', 'bin', false, NULL, 'unsupported extension: bin'
          |ORDER BY filename""".stripMargin,


      "q42_sliding_window" ->
        s"""WITH e AS (
           |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value FROM events),
           |expanded AS (
           |  SELECT make_timestamp((us // 900000000 - k) * 900000000) AS window_start,
           |    event_type, value
           |  FROM e, unnest(range(0, 4)) AS t(k))
           |SELECT window_start, event_type, COUNT(*) AS n,
           |  ${dsumSql("value")} AS sum_value
           |FROM expanded GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


      "q43_revenue_by_region" ->
        s"""SELECT r_name AS region,
           |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  COUNT(*) AS n_items, COUNT(DISTINCT c_custkey) AS n_customers
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           |GROUP BY r_name ORDER BY region""".stripMargin,


      "q44_file_stats" ->
        """SELECT COALESCE(CASE WHEN doc_id % 10 = 0 THEN NULL ELSE source END,
          |    '__orphan__') AS filename,
          |  COUNT(*) AS n_chunks, MAX(n_chars) AS max_chars, MIN(doc_id) AS first_doc
          |FROM documents GROUP BY 1 ORDER BY filename""".stripMargin,


      "q45_rollup" ->
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           |  COALESCE(l_linestatus, 'ALL') AS linestatus,
           |  COUNT(*) AS n, ${dsumSql("l_quantity", 4)} AS sum_qty
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY returnflag, linestatus""".stripMargin,


      "q46_window_funcs" ->
        """SELECT o_custkey, o_orderkey,
          |  lag(o_totalprice, 1) OVER w AS prev_price,
          |  lead(o_totalprice, 1) OVER w AS next_price,
          |  CAST(ntile(4) OVER w AS INT) AS quartile,
          |  percent_rank() OVER w AS pct_rank,
          |  cume_dist() OVER w AS cume
          |FROM orders WHERE o_custkey < 100
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, o_orderkey""".stripMargin,


      "q47_string_funcs" ->
        """SELECT doc_id,
          |  upper(source) AS up,
          |  lpad(lang, 5, '_') AS padded,
          |  reverse(source) AS rev,
          |  substring(text, 3, 8) AS sub,
          |  replace(source, 'src', 'origin') AS repl,
          |  CAST(levenshtein(source, lang) AS INT) AS lev,
          |  CAST(strpos(text, 'spark') AS BIGINT) AS pos,
          |  repeat(lang, 3) AS rep,
          |  concat_ws('|', source, lang) AS joined,
          |  sha256(source) AS sha
          |FROM documents ORDER BY doc_id""".stripMargin,


      "q48_date_funcs" ->
        """SELECT o_orderkey,
          |  CAST(year(o_orderdate) AS INT) AS y,
          |  CAST(quarter(o_orderdate) AS INT) AS q,
          |  CAST(month(o_orderdate) AS INT) AS m,
          |  CAST(dayofmonth(o_orderdate) AS INT) AS d,
          |  CAST(dayofweek(o_orderdate) AS INT) AS dow,
          |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
          |  strftime(CAST(last_day(o_orderdate) AS DATE), '%Y-%m-%d') AS month_end,
          |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
          |  datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
          |FROM orders WHERE o_orderkey < 2000
          |ORDER BY o_orderkey""".stripMargin,


      "q49_cube" ->
        s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           |  COALESCE(l_linestatus, 'ALL') AS linestatus,
           |  COUNT(*) AS n, ${dsumSql("l_quantity", 4)} AS sum_qty
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
           |ORDER BY returnflag, linestatus""".stripMargin,


      "q50_pivot" ->
        """SELECT l_returnflag,
          |  COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F'
          |    THEN CAST(l_quantity AS DECIMAL(24,4)) END) AS DOUBLE), 0.0) AS f_qty,
          |  COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O'
          |    THEN CAST(l_quantity AS DECIMAL(24,4)) END) AS DOUBLE), 0.0) AS o_qty
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


      "q51_moving_avg" ->
        """SELECT o_custkey, o_orderkey,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,4))) OVER w AS DOUBLE)
          |    / COUNT(*) OVER w AS mov_avg3
          |FROM orders WHERE o_custkey < 200
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
          |ORDER BY o_custkey, o_orderkey""".stripMargin,


      "q52_below_avg_bigticket" ->
        s"""WITH pp AS (
           |  SELECT l_partkey AS p_key,
           |    ${dsumSql("l_quantity", 4)} / COUNT(*) AS avg_qty
           |  FROM lineitem GROUP BY 1)
           |SELECT ${dsumSql("l_extendedprice", 4)} AS below_avg_revenue,
           |  COUNT(*) AS n_items
           |FROM lineitem JOIN pp ON l_partkey = p_key
           |WHERE l_quantity < 0.9 * avg_qty""".stripMargin,


      "q53_percentiles" ->
        """SELECT l_returnflag,
          |  round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
          |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
          |  COUNT(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,


      "q54_ivf_search" ->
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
          |$codebookCte,
          |$assignCte,
          |probes AS (SELECT cid FROM c, q ORDER BY list_distance(cv, qv), cid LIMIT 2)
          |SELECT e.vec_id, a.centroid_id,
          |  round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS distance
          |FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
          |WHERE a.centroid_id IN (SELECT cid FROM probes)
          |ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), e.vec_id
          |LIMIT 8""".stripMargin,


      "q55_multistore_search" ->
        """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
          |scored AS (
          |  SELECT CASE WHEN label % 2 = 0 THEN 'even' ELSE 'odd' END AS searched_table,
          |    vec_id AS id, 'vec-' || CAST(vec_id % 50 AS VARCHAR) AS text,
          |    1.0 - (1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)) / 2.0 AS score,
          |    row_number() OVER (PARTITION BY label % 2
          |      ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), vec_id) AS rk
          |  FROM embeddings, q),
          |top AS (SELECT * FROM scored WHERE rk <= 8 AND score >= 0.55),
          |dedup AS (SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY score DESC, id) AS rn
          |  FROM top) WHERE rn = 1)
          |SELECT searched_table, id, text, round(score, 6) AS score
          |FROM dedup ORDER BY score DESC, id LIMIT 8""".stripMargin,

      "q56_dedup_clusters" -> dedupClustersOracleSql,


      "q57_quantize_embeddings" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
          |qz AS (SELECT vec_id, v, scale,
          |  CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS INT))
          |       ELSE list_transform(v, x -> CAST(round(x / scale) AS INT)) END AS q
          |  FROM s)
          |SELECT vec_id, scale,
          |  CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_q,
          |  list_max(list_transform(range(1, 65),
          |    i -> abs(v[CAST(i AS INT)] - q[CAST(i AS INT)] * scale))) AS max_err
          |FROM qz ORDER BY vec_id""".stripMargin,


      "q58_quantized_search" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |s AS (SELECT vec_id, v,
          |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
          |d AS (SELECT vec_id,
          |  CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
          |       ELSE list_transform(v, x -> CAST(round(x / scale) AS INT) * scale) END AS demb
          |  FROM s),
          |qv AS (SELECT demb AS qv FROM d WHERE vec_id = 0)
          |SELECT d.vec_id,
          |  round(1.0 - list_cosine_similarity(d.demb, qv), 6) AS distance
          |FROM d, qv
          |ORDER BY 1.0 - list_cosine_similarity(d.demb, qv), d.vec_id
          |LIMIT 8""".stripMargin,


      "q59_frame_sample" ->
        """SELECT doc_id, s AS frame_index, s * 100 AS frame_offset
          |FROM documents,
          |  unnest(range(0, greatest(CAST(ceil(length(text) / 100.0) AS BIGINT), 1))) AS t(s)
          |ORDER BY doc_id, frame_index""".stripMargin,


      "q60_promo_revenue" ->
        s"""SELECT 100.0 * ${dsumSql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
           |    / ${dsumSql("l_extendedprice * (1 - l_discount)")} AS promo_pct,
           |  COUNT(*) AS n_items
           |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,


      "q61_shipmode_priority" ->
        """SELECT l_linestatus,
          |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,


      "q62_interval_join" ->
        """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
          |c AS (SELECT event_id, user_id, ts AS c_ts FROM ev WHERE event_type = 'click'),
          |v AS (SELECT user_id, ts AS v_ts FROM ev WHERE event_type = 'view')
          |SELECT c.event_id, COUNT(v.v_ts) AS n_views
          |FROM c LEFT JOIN v ON c.user_id = v.user_id
          |  AND v.v_ts >= c.c_ts - INTERVAL 10 MINUTE AND v.v_ts < c.c_ts
          |GROUP BY c.event_id ORDER BY c.event_id""".stripMargin,


      "q63_asof_join" ->
        """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
          |    event_type, value FROM events),
          |p AS (SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, ts, MAX(value) AS value FROM ev
          |  WHERE event_type = 'click' GROUP BY user_id, ts)
          |SELECT p.event_id, p.user_id, p.ts,
          |  c.ts AS click_ts, c.value AS click_value
          |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
          |ORDER BY p.event_id""".stripMargin,


      "q64_salted_join" ->
        s"""SELECT o_orderpriority, ${dsumSql("l_quantity", 4)} AS sum_qty,
           |  COUNT(*) AS n
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,


      "q65_stratified_sample" ->
        """SELECT doc_id, lang,
          |  CASE WHEN (doc_id * 999983) % 2147483647 % 100 < 80
          |    THEN 'train' ELSE 'eval' END AS split
          |FROM documents
          |WHERE (doc_id * 1000003) % 2147483647 % 100
          |  < (CASE WHEN lang = 'en' THEN 50 ELSE 10 END)
          |ORDER BY doc_id""".stripMargin,


      "q66_kmv_distinct" ->
        """WITH h0 AS (SELECT DISTINCT (l_partkey * 1000003) % 2147483647 AS h FROM lineitem),
          |h1 AS (SELECT (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT DISTINCT (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |kmin AS (SELECT h FROM h2 ORDER BY h LIMIT 256)
          |SELECT CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
          |    ELSE 255.0 * 2147483647 / MAX(h) END AS estimate,
          |  COUNT(*) AS n_hashes
          |FROM kmin""".stripMargin,


      "q67_bloom_filter" ->
        """WITH build AS (
          |  SELECT DISTINCT l_orderkey AS key FROM lineitem WHERE l_quantity > 45),
          |probe AS (SELECT o_orderkey AS key FROM orders),
          |bh0 AS (SELECT key, (key * 1000003) % 2147483647 AS a0,
          |    (key * 999983) % 2147483647 AS b0 FROM build),
          |bh1 AS (SELECT key, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
          |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1 FROM bh0),
          |bh2 AS (SELECT key, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
          |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2 FROM bh1),
          |bits AS (SELECT DISTINCT (h1 + i * h2) % 131072 AS bit
          |  FROM bh2, unnest(range(0, 3)) AS t(i)),
          |ph0 AS (SELECT key, (key * 1000003) % 2147483647 AS a0,
          |    (key * 999983) % 2147483647 AS b0 FROM probe),
          |ph1 AS (SELECT key, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
          |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1 FROM ph0),
          |ph2 AS (SELECT key, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
          |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2 FROM ph1),
          |ppos AS (SELECT key, (h1 + i * h2) % 131072 AS bit
          |  FROM ph2, unnest(range(0, 3)) AS t(i)),
          |flagged AS (
          |  SELECT key FROM ppos JOIN bits USING (bit)
          |  GROUP BY key HAVING COUNT(*) = 3)
          |SELECT (SELECT COUNT(*) FROM build) AS n_build,
          |  (SELECT COUNT(*) FROM flagged) AS n_flagged,
          |  (SELECT COUNT(*) FROM flagged
          |   WHERE key NOT IN (SELECT key FROM build)) AS n_false_pos""".stripMargin,


      "q68_scd_intervals" ->
        """SELECT user_id, event_type,
          |  CAST(ts AS TIMESTAMP) AS valid_from,
          |  lead(CAST(ts AS TIMESTAMP), 1) OVER
          |    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to,
          |  lead(CAST(ts AS TIMESTAMP), 1) OVER
          |    (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL AS is_current
          |FROM events WHERE user_id < 100
          |ORDER BY user_id, valid_from""".stripMargin,


      "q69_funnel" ->
        """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
          |v AS (SELECT user_id, MIN(ts) AS tv FROM ev WHERE event_type = 'view' GROUP BY user_id),
          |c AS (SELECT e.user_id, MIN(e.ts) AS tc FROM ev e JOIN v ON e.user_id = v.user_id
          |  WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
          |p AS (SELECT e.user_id, MIN(e.ts) AS tp FROM ev e JOIN c ON e.user_id = c.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
          |SELECT (SELECT COUNT(*) FROM v) AS n_view,
          |  (SELECT COUNT(*) FROM c) AS n_click_after_view,
          |  (SELECT COUNT(*) FROM p) AS n_purchase_after_click""".stripMargin,


      "q70_bigram_counts" ->
        """WITH toks AS (
          |  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |bg AS (
          |  SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bigram
          |  FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i))
          |SELECT bigram, COUNT(*) AS n FROM bg
          |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,


      "q71_gopher_quality" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |m AS (
          |  SELECT doc_id,
          |    CAST(len(t) AS INT) AS n_words,
          |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS mean_word_len,
          |    CAST(len(list_filter(t, x -> x IN ('a','the','of','to','and','in','is','on','for','it'))) AS DOUBLE) / len(t) AS stopword_frac,
          |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS unique_frac,
          |    CAST(list_max(list_transform(t, x -> length(x))) AS INT) AS max_word_len
          |  FROM toks)
          |SELECT doc_id, n_words, mean_word_len, stopword_frac, unique_frac, max_word_len,
          |  (n_words >= 30 AND mean_word_len BETWEEN 4.0 AND 5.0
          |   AND stopword_frac >= 0.03 AND unique_frac >= 0.35) AS quality_pass
          |FROM m ORDER BY doc_id""".stripMargin,


      "q72_bigram_repetition" ->
        """WITH toks AS (
          |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS bg
          |  FROM toks, unnest(range(1, len(t))) AS u(i)
          |  WHERE len(t) >= 2),
          |per AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg)
          |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
          |  COUNT(*) AS distinct_bigrams,
          |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dup_bigram_frac,
          |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac
          |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,


      "q73_pii_redact" ->
        """WITH aug AS (
          |  SELECT doc_id, text || ' contact doc' || CAST(doc_id AS VARCHAR)
          |    || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
          |    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS text2
          |  FROM documents),
          |red AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text2, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
          |    CAST(len(regexp_extract_all(text2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
          |    regexp_replace(regexp_replace(text2,
          |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
          |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
          |  FROM aug)
          |SELECT doc_id, n_emails, n_ips,
          |  CAST(length(redacted) AS INT) AS redacted_len,
          |  right(redacted, 40) AS redacted_tail
          |FROM red ORDER BY doc_id""".stripMargin,


      "q74_cms_heavy_hitters" -> cmsHeavyHittersOracleSql,


      "q75_hll_distinct" ->
        s"""WITH ev AS (SELECT event_type, user_id AS key FROM events),
          |kh0 AS (SELECT event_type, (key * 1000003) % 2147483647 AS a0 FROM ev),
          |kh1 AS (SELECT event_type, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1 FROM kh0),
          |kh2 AS (SELECT event_type, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h FROM kh1),
          |br AS (SELECT event_type, h >> 26 AS b,
          |    CASE WHEN (h & 67108863) = 0 THEN 27
          |         ELSE 27 - length(bin(h & 67108863)) END AS rho FROM kh2),
          |mb AS (SELECT event_type, b, MAX(rho) AS mx FROM br GROUP BY event_type, b),
          |hs AS (SELECT event_type,
          |    SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
          |    COUNT(*) AS nb FROM mb GROUP BY event_type),
          |ex AS (SELECT event_type, COUNT(DISTINCT key) AS n_exact FROM ev GROUP BY event_type)
          |SELECT ex.event_type, n_exact,
          |  ${Sketches.hllFactor(5)} / CAST(present + (32 - nb) * 134217728 AS DOUBLE) AS hll_est
          |FROM ex JOIN hs USING (event_type) ORDER BY event_type""".stripMargin,


      "q76_zorder_layout" ->
        """WITH xy AS (SELECT l_partkey % 1024 AS px, l_suppkey % 1024 AS sy FROM lineitem),
          |z AS (SELECT px, sy, list_sum(list_transform(range(0, 10),
          |    i -> (((px >> i) & 1) << (2*i)) + (((sy >> i) & 1) << (2*i+1)))) AS zv
          |  FROM xy)
          |SELECT CAST(zv // 16384 AS INT) AS bucket, COUNT(*) AS n_rows,
          |  MIN(px) AS min_x, MAX(px) AS max_x, MIN(sy) AS min_y, MAX(sy) AS max_y
          |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,


      "q77_skew_profile" ->
        """WITH c AS (SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey),
          |t AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total FROM c)
          |SELECT l_partkey, cnt, CAST(cnt * n_keys AS DOUBLE) / total AS ratio_to_mean
          |FROM c, t ORDER BY cnt DESC, l_partkey LIMIT 10""".stripMargin,


      "q78_tfidf_top_terms" ->
        """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
          |toks AS (SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS term
          |  FROM d),
          |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
          |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          |nd AS (SELECT COUNT(*) AS n_docs FROM d),
          |scored AS (SELECT doc_id, term, CAST(tf * n_docs AS DOUBLE) / df AS score
          |  FROM tf JOIN dfq USING (term), nd),
          |rk AS (SELECT doc_id, term, score,
          |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
          |  FROM scored)
          |SELECT doc_id, rank, term, score FROM rk
          |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,


      "q79_governed_view" ->
        """SELECT c_custkey,
          |  substring(c_name, 1, 9) || repeat('*', greatest(length(c_name) - 9, 0)) AS name_masked,
          |  floor(c_acctbal / 100) * 100 AS bal_band,
          |  c_mktsegment
          |FROM customer
          |WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
          |ORDER BY c_custkey""".stripMargin,


      "q80_url_safety" ->
        """WITH u AS (SELECT doc_id,
          |  CASE WHEN doc_id % 7 = 0 THEN 'http://10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1/x'
          |       WHEN doc_id % 11 = 0 THEN 'file:///etc/passwd'
          |       WHEN doc_id % 13 = 0 THEN 'http://localhost/admin'
          |       WHEN doc_id % 5 = 0 THEN 'http://192.168.1.' || CAST(doc_id % 256 AS VARCHAR) || '/p'
          |       ELSE 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) END AS url
          |  FROM documents),
          |h AS (SELECT doc_id, url, regexp_extract(url, '^https?://([^/:]+)', 1) AS host FROM u)
          |SELECT doc_id, url,
          |  (regexp_matches(url, '^https?://')
          |   AND NOT host = 'localhost'
          |   AND NOT regexp_matches(host, '^127\.')
          |   AND NOT regexp_matches(host, '^10\.')
          |   AND NOT regexp_matches(host, '^192\.168\.')
          |   AND NOT regexp_matches(host, '^172\.(1[6-9]|2[0-9]|3[01])\.')
          |   AND NOT regexp_matches(host, '^169\.254\.')) AS is_safe
          |FROM h ORDER BY doc_id""".stripMargin,


      "q81_record_linkage" -> {
        val b1 = graft.plans.HashExpressions.PolyBase1
        val winHash = "list_reduce(list_transform(range(i, i + 3), " +
          "j -> CAST(unicode(substring(name, CAST(j AS INT), 1)) AS BIGINT)), " +
          s"(a, c) -> (a * $b1 + c) % $HP)"
        s"""WITH lt AS (SELECT doc_id AS l_id, lang || '|' || source AS blk,
           |    substring(text, 1, 60) AS name FROM documents
           |  WHERE length(substring(text, 1, 60)) >= 3),
           |rt AS (SELECT doc_id + 1000000 AS r_id, lang || '|' || source AS blk,
           |    substring(text, 8, 60) AS name FROM documents
           |  WHERE length(substring(text, 8, 60)) >= 3),
           |lh AS (SELECT l_id, blk,
           |    list_distinct(list_transform(range(1, length(name) - 1), i -> $winHash)) AS h
           |  FROM lt),
           |rh AS (SELECT r_id, blk,
           |    list_distinct(list_transform(range(1, length(name) - 1), i -> $winHash)) AS h
           |  FROM rt),
           |cand AS (SELECT l_id, r_id,
           |    len(list_intersect(lh.h, rh.h)) AS inter,
           |    len(lh.h) AS la, len(rh.h) AS lb
           |  FROM lh JOIN rh USING (blk)),
           |sc AS (SELECT l_id, r_id,
           |    CAST(inter AS DOUBLE) / (la + lb - inter) AS jaccard FROM cand),
           |rk AS (SELECT l_id, r_id, jaccard,
           |    row_number() OVER (PARTITION BY l_id ORDER BY jaccard DESC, r_id) AS rn
           |  FROM sc WHERE jaccard >= 0.3)
           |SELECT l_id, r_id AS matched_id, jaccard FROM rk
           |WHERE rn = 1 ORDER BY l_id""".stripMargin
      },


      "q82_compaction_plan" ->
        """WITH c AS (SELECT l_shipdate, COUNT(*) AS cnt FROM lineitem GROUP BY l_shipdate),
          |p AS (SELECT l_shipdate, cnt,
          |    COALESCE(SUM(cnt) OVER (ORDER BY l_shipdate
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          |  FROM c)
          |SELECT CAST(cum // 5000 AS INT) AS file_id, COUNT(*) AS n_keys,
          |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
          |  MIN(l_shipdate) AS min_key, MAX(l_shipdate) AS max_key
          |FROM p GROUP BY file_id ORDER BY file_id""".stripMargin,


      "q83_domain_mix" ->
        """WITH c AS (SELECT lang, COUNT(*) AS n_domain FROM documents GROUP BY lang),
          |s AS (SELECT lang, n_domain,
          |    CAST(CASE lang WHEN 'en' THEN 0.4 ELSE 0.15 END AS DOUBLE) AS share
          |  FROM c),
          |t AS (SELECT MIN(CAST(n_domain AS DOUBLE) / share) AS tmax FROM s),
          |k AS (SELECT lang, n_domain,
          |    LEAST(CAST(1.0 AS DOUBLE), tmax * share / CAST(n_domain AS DOUBLE)) AS keep_frac
          |  FROM s, t),
          |h0 AS (SELECT doc_id, (doc_id * 1000003) % 2147483647 AS h FROM documents),
          |h1 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT doc_id, (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1)
          |SELECT d.doc_id, d.lang, k.keep_frac, k.n_domain
          |FROM documents d JOIN k USING (lang) JOIN h2 USING (doc_id)
          |WHERE CAST(h2.h AS DOUBLE) / 2147483647 < k.keep_frac
          |ORDER BY d.doc_id""".stripMargin,


      "q84_contamination" -> {
        val b1 = graft.plans.HashExpressions.PolyBase1
        def winHash(t: String, n: Int) =
          s"list_reduce(list_transform(range(i, i + $n), " +
            s"j -> CAST(unicode(substring($t, CAST(j AS INT), 1)) AS BIGINT)), " +
            s"(a, c) -> (a * $b1 + c) % $HP)"
        s"""WITH ev AS (SELECT doc_id AS eval_id, substring(text, 20, 200) AS t
           |    FROM documents WHERE doc_id % 250 = 0 AND length(substring(text, 20, 200)) >= 8),
           |evg AS (SELECT eval_id,
           |    unnest(list_distinct(list_transform(range(1, length(t) - 6), i -> ${winHash("t", 8)}))) AS gh
           |  FROM ev),
           |evsz AS (SELECT eval_id,
           |    CAST(len(list_distinct(list_transform(range(1, length(t) - 6), i -> ${winHash("t", 8)}))) AS BIGINT) AS eval_sz
           |  FROM ev),
           |tr AS (SELECT doc_id AS train_id, text AS t FROM documents WHERE length(text) >= 8),
           |trg AS (SELECT train_id,
           |    unnest(list_distinct(list_transform(range(1, length(t) - 6), i -> ${winHash("t", 8)}))) AS gh
           |  FROM tr),
           |inter AS (SELECT train_id, eval_id, COUNT(*) AS n
           |  FROM trg JOIN evg USING (gh) GROUP BY train_id, eval_id)
           |SELECT train_id, eval_id, CAST(n AS DOUBLE) / eval_sz AS contamination
           |FROM inter JOIN evsz USING (eval_id)
           |WHERE CAST(n AS DOUBLE) / eval_sz >= 0.4
           |ORDER BY train_id, eval_id""".stripMargin
      },


      "q85_pack_plan" ->
        """WITH t AS (SELECT doc_id, lang,
          |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT) AS tokens
          |  FROM documents),
          |nz AS (SELECT * FROM t WHERE tokens > 0),
          |p AS (SELECT doc_id, lang, tokens,
          |    COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
          |  FROM nz)
          |SELECT doc_id, lang, tokens, CAST(s // 2000 AS INT) AS pack_id,
          |  ((s + tokens - 1) // 2000) > (s // 2000) AS spans_boundary
          |FROM p ORDER BY doc_id""".stripMargin,


      "q86_temperature_mix" ->
        """WITH c AS (SELECT lang, COUNT(*) AS n_domain FROM documents GROUP BY lang),
          |m AS (SELECT MIN(n_domain) AS mn FROM c),
          |k AS (SELECT lang, n_domain,
          |    SQRT(CAST(mn AS DOUBLE) / CAST(n_domain AS DOUBLE)) AS keep_frac
          |  FROM c, m),
          |h0 AS (SELECT doc_id, (doc_id * 1000003) % 2147483647 AS h FROM documents),
          |h1 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT doc_id, (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1)
          |SELECT d.doc_id, d.lang, k.keep_frac, k.n_domain
          |FROM documents d JOIN k USING (lang) JOIN h2 USING (doc_id)
          |WHERE CAST(h2.h AS DOUBLE) / 2147483647 < k.keep_frac
          |ORDER BY d.doc_id""".stripMargin,

      "q87_dup_spans" -> dupSpansOracleSql,


      "q88_returned_custs" ->
        s"""SELECT c_custkey, c_name, c_acctbal, n_name,
           |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  COUNT(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01'
           |  AND o_orderdate < TIMESTAMP '1996-07-01'
           |GROUP BY c_custkey, c_name, c_acctbal, n_name
           |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,


      "q89_order_count_dist" ->
        """WITH cnt AS (
          |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
          |  FROM customer LEFT JOIN (
          |    SELECT * FROM orders WHERE o_orderstatus <> 'F') o
          |    ON c_custkey = o_custkey
          |  GROUP BY c_custkey)
          |SELECT c_count, COUNT(*) AS custdist FROM cnt
          |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,


      "q90_big_orders" ->
        s"""WITH big AS (
           |  SELECT l_orderkey, ${dsumSql("l_quantity", 4)} AS sum_qty
           |  FROM lineitem GROUP BY l_orderkey
           |  HAVING ${dsumSql("l_quantity", 4)} > 350)
           |SELECT c_custkey, c_name, o_orderkey,
           |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
           |  o_totalprice, sum_qty
           |FROM orders
           |JOIN big ON o_orderkey = l_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin
  )
}
