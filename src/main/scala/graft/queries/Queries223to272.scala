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

/** Query builders + DuckDB oracles q223-q272, split verbatim from
  * SparkEntry (see its scaladoc for the oracle-parity contract; NOTES.md
  * for the hash/decimal replay rules). */
private[graft] object Queries223to272 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    "q223_preference_pairs" -> ((s, dir) => {
      // DPO-style preference-pair mining: each Gopher-passing doc pairs
      // with the length-CLOSEST failing doc of the same language —
      // length matching is the confound control, lang the comparability
      // block; group equi-join + one min_by argmin, no global sort
      val d = tbl(s, dir, "documents")
      val labeled = TextQuality.gopherMetrics(d, "doc_id", "text")
        .select(col("doc_id"), col("quality_pass"))
        .join(d.select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("doc_id"))
      Sampling.preferencePairs(labeled, "doc_id", "lang", "n_chars",
          "quality_pass")
        .orderBy("chosen_id")
    }),


    "q224_maxsim" -> ((s, dir) => {
      // late-interaction MaxSim (ColBERT shape): doc and query as 8×8-dim
      // sub-vectors, score = Σ over query slices of max dot vs any doc
      // slice — per-aspect matching a pooled vector can't express. Query
      // slices ride as literals: scan → 64 inline dot folds →
      // TakeOrderedAndProject, zero shuffle
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.maxSimSearch(e, "embedding", "vec_id", q,
          dim = 64, slices = 8, k = 10)
        .select(col("vec_id"), round(col("maxsim"), 6).as("maxsim"))
    }),


    "q225_attribution" -> ((s, dir) =>
      // multi-touch attribution: each purchase credits the user's views
      // in the prior 7 days — linear and U-shaped 40/20/40 models in
      // exact integer micro-credits (floor div), so the lag-curve sums
      // replay as BIGINTs under any partitioning
      streaming.EventStreams.multiTouchAttribution(events(s, dir),
          "purchase", "view", windowDays = 7)
        .orderBy("lag_days")),


    "q226_ab_test" -> ((s, dir) => {
      // hash-bucketed A/B readout: users split by the scrambled key hash
      // (a null experiment — |t| should be small), per-user purchase
      // cents, Welch's t from decimal-exact sufficient statistics
      val perUser = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).cast("long")
          .as("v100"))
        .withColumn("arm", Sketches.keyHash(col("user_id")) % 2 === 0)
      Stats.welchTTest(perUser, "arm", "v100")
    }),


    "q227_prf_expansion" -> ((s, dir) => {
      // pseudo-relevance feedback (RM3-lite): BM25 round 1 → top-2
      // co-occurring terms from the top-5 docs (by total tf, ties to the
      // smaller term) join the query → BM25 round 2. The classic
      // query-understanding step between raw BM25 (q98) and hybrid
      // fusion (q109); the expansion terms are 2 strings on the driver
      import s.implicits._
      val d = tbl(s, dir, "documents")
      val q0 = Seq("spark", "join", "vector", "window")
      val top5 = storedBm25(s, dir, q0, 5).select("id")
      val expTerms = d
        .join(top5, d("doc_id") === top5("id"), "left_semi")
        .select(explode(Retrieval.analyze(col("text"))).as("term"))
        .filter(!col("term").isin(q0: _*))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(2)
        .select("term").as[String].collect().toSeq
      storedBm25(s, dir, q0 ++ expTerms, 10)
    }),


    "q228_khop" -> ((s, dir) => {
      // k-hop reachability audit of the q101 kNN graph from seed 0:
      // frontier sizes for 1..3 directed hops — the expansion-rate
      // sanity check for graph beam search (q129); three equi-joins on
      // a k-bounded edge list
      val e = tbl(s, dir, "embeddings")
      val edges = storedKnnGraph(s, dir)
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      val h0 = e.filter(col("vec_id") === 0).select(col("vec_id").as("node"))
      def expand(frontier: DataFrame, visited: DataFrame) =
        frontier.join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
      val h1 = expand(h0, h0)
      val v1 = h0.union(h1)
      val h2 = expand(h1, v1)
      val v2 = v1.union(h2)
      val h3 = expand(h2, v2)
      def su(df: DataFrame, hop: Int) = df.agg(lit(hop).as("hop"),
        count(lit(1)).as("n_nodes"), min("node").as("min_id"),
        max("node").as("max_id"))
      su(h1, 1).unionByName(su(h2, 2)).unionByName(su(h3, 3))
        .orderBy("hop")
    }),


    "q229_centroid_drift" -> ((s, dir) => {
      // embedding-space drift monitor: per-label centroid vs the global
      // centroid, L2 over per-dim means from DECIMAL-exact sums (the
      // q193 discipline — a plain double sum over dims would be
      // partition-order-dependent); flags a stratum drifting away from
      // the corpus in representation space
      val dims = tbl(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
      val dsum18 = (c: Column) => sum(c.cast("decimal(38,18)")).cast("double")
      val per = dims.groupBy("label", "dim")
        .agg(dsum18(col("x")).as("sx"), count(lit(1)).as("n"))
        .withColumn("mean", col("sx") / col("n"))
      val glob = dims.groupBy("dim")
        .agg((dsum18(col("x")) / count(lit(1))).as("gmean"))
      per.join(glob, "dim")
        .withColumn("d2",
          (col("mean") - col("gmean")) * (col("mean") - col("gmean")))
        .groupBy("label")
        .agg(max("n").as("n_vectors"),
          round(sqrt(dsum18(col("d2"))), 6).as("drift"))
        .orderBy("label")
    }),


    "q230_scd2_merge" -> ((s, dir) => {
      // SCD2 incremental merge: intervals persisted at the Jan-20 cutoff
      // + the later event batch, merged WITHOUT rewriting closed history
      // — the oracle REBUILDS from all events, so the hash match is the
      // merge ≡ rebuild proof (q185's discipline on the dimension table)
      val ev = events(s, dir).filter(col("user_id") < 100)
      val cut = lit("2024-01-20").cast("timestamp")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val state = ev.filter(col("ts") < cut)
        .select(col("user_id"), col("event_type"),
          col("ts").cast("timestamp_ntz").as("valid_from"),
          lead(col("ts"), 1).over(w).cast("timestamp_ntz").as("valid_to"))
        .withColumn("is_current", col("valid_to").isNull)
      ChangeDetection.scd2Merge(state, ev.filter(col("ts") >= cut))
        .orderBy("user_id", "valid_from")
    }),


    "q231_rank_stability" -> ((s, dir) => {
      // ranker promote-gate: overlap@10 + exact Kendall tau between the
      // plain BM25 top-10 and its PRF-expanded rerun (q227) — "how much
      // did the expansion actually move the ordering?"
      import s.implicits._
      val d = tbl(s, dir, "documents")
      val q0 = Seq("spark", "join", "vector", "window")
      def ranked(df: org.apache.spark.sql.DataFrame) = df.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("id"))))
      val a = ranked(storedBm25(s, dir, q0, 10))
      // (score desc, id asc) is a total order: the top-10's first five
      // ranks are the top-5
      val top5 = a.filter(col("rank") <= 5).select("id")
      val expTerms = d
        .join(top5, d("doc_id") === top5("id"), "left_semi")
        .select(explode(Retrieval.analyze(col("text"))).as("term"))
        .filter(!col("term").isin(q0: _*))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(2)
        .select("term").as[String].collect().toSeq
      val b = ranked(storedBm25(s, dir, q0 ++ expTerms, 10))
      Evaluation.rankAgreement(a, b, "id", "rank", k = 10)
    }),


    "q232_topk_agg" -> ((s, dir) => {
      // per-source top-3 quality docs via the native bounded-heap
      // aggregate (graft_top_k → ObjectHashAggregate): map-side partial
      // heaps mean the shuffle carries ≤3 rows per (task, source) where
      // the q08-style window form shuffles and sorts EVERY row. DESC is
      // encoded by negation; doc_id makes the tuple total
      val d = tbl(s, dir, "documents")
        .withColumn("quality", TF.qualityScore(col("text")))
      graft.plans.TopKAggregate.topKRows(d, Seq("source"),
          Seq((-col("quality")).as("nq"), col("doc_id").as("doc_id")),
          Nil, k = 3)
        .select(col("source"), col("doc_id"), (-col("nq")).as("quality"))
        .orderBy("source", "doc_id")
    }),


    "q233_phrase_match" -> ((s, dir) =>
      // exact consecutive-token phrase scan: per-row HOF over the token
      // array, zero shuffle — grep-shaped, the right plan for a phrase
      // query without a prebuilt positional index
      Retrieval.phraseMatch(tbl(s, dir, "documents"), "doc_id", "text",
          Seq("hash", "join"))
        .orderBy("id")),


    "q234_min_span" -> ((s, dir) =>
      // minimal covering span (proximity): smallest token window holding
      // all three query terms — hits filtered map-side, ONE shuffle by
      // doc id, |terms| running-max window columns
      Retrieval.minSpanProximity(tbl(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "vector", "merge"))
        .orderBy("id")),


    "q235_snippet" -> ((s, dir) =>
      // keyword-in-context: the 8-token window with the most distinct
      // query terms (ties → earliest), with its text — bounded self-join
      // of query-term hits only, never token × token
      Retrieval.bestSnippet(tbl(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "vector", "merge"), width = 8)
        .orderBy("id")),


    "q236_bradley_terry" -> ((s, dir) => {
      // Bradley–Terry source strengths from head-to-head quality duels:
      // consecutive same-lang docs duel, higher quality wins (tie → the
      // earlier doc). One corpus window builds the duels; the 3 MM
      // rounds run on the bounded source × source match matrix
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          TF.qualityScore(col("text")).as("q"))
      val duels = d
        .withColumn("n_doc", lead("doc_id", 1).over(w))
        .withColumn("n_src", lead("source", 1).over(w))
        .withColumn("n_q", lead("q", 1).over(w))
        .filter(col("n_doc").isNotNull && col("source") =!= col("n_src"))
        .select(
          when(col("q") >= col("n_q"), col("source")).otherwise(col("n_src"))
            .as("win"),
          when(col("q") >= col("n_q"), col("n_src")).otherwise(col("source"))
            .as("lose"))
      Evaluation.bradleyTerry(duels, "win", "lose", iters = 3)
        .orderBy("item")
    }),


    "q237_audio_vad" -> ((s, dir) => {
      // energy-threshold voice-activity segmentation over REAL WAV clips
      // (the q127 corpus): 32-sample frames, exact BIGINT energies,
      // frames ≥ 20M merged gaps-and-islands into speech segments
      import s.implicits._
      val wavs = tbl(s, dir, "documents").select(col("doc_id"))
        .repartition(32).as[Long]
        .map { id =>
          val n = (128 + id % 64).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 17) % 4096) - 2048).toShort)
          (id, graft.sources.BinaryMedia.encodeWavPcm16(samples, 8000))
        }.toDF("doc_id", "wav")
      Multimodal.vadSegments(wavs, "doc_id", "wav", frameLen = 32,
          energyThreshold = 20000000L)
        .orderBy("id", "start_frame")
    }),


    "q238_benford" -> ((s, dir) =>
      // Benford first-digit audit of order totals — the synthetic-data /
      // fabricated-numbers smell test; digits from the exact cents
      // rendering, expectations as fixed 6 dp literals
      Profiling.benfordAudit(tbl(s, dir, "orders"),
          round(col("o_totalprice") * 100).cast("long"))
        .orderBy("digit")),


    "q239_link_prediction" -> ((s, dir) => {
      // common-neighbor/Jaccard link prediction over the q101 kNN graph:
      // the "should-be-neighbors" candidates that densify a kNN graph
      // before NN-descent; one shared-neighbor self-join, hub-capped
      val edges = storedKnnGraph(s, dir)
      GraphAnalytics.linkPrediction(edges, "id", "nbr_id", topN = 20)
    }),


    "q240_textrank" -> ((s, dir) =>
      // TextRank keyword centrality: the q136 fixed-point PageRank run on
      // the word co-occurrence graph (pairs within 2 tokens) instead of
      // the kNN doc graph — corpus stages shuffle by doc, the PR rounds
      // run on the bounded vocabulary graph
      GraphAnalytics.textRankKeywords(tbl(s, dir, "documents"),
          "doc_id", "text", coWindow = 2, iters = 3)
        .orderBy("rk")),


    "q241_skip_audit" -> ((s, dir) => {
      // min/max data-skipping audit: the SAME year-1997 predicate scans
      // ~every file under arrival order but prunes most under
      // sort-on-write — the quantified reason compaction (q82) sorts
      val o = tbl(s, dir, "orders")
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1997-12-31").cast("timestamp")
      val arrival = DataLayout.skipStats(o,
        expr("o_orderkey div 100"), col("o_orderdate"), lo, hi)
      val sorted = DataLayout.skipStats(
        o.withColumn("_rn",
          row_number().over(Window.orderBy("o_orderdate", "o_orderkey"))),
        expr("(_rn - 1) div 100"), col("o_orderdate"), lo, hi)
      DataLayout.skipSummary(Seq("arrival" -> arrival,
          "date_sorted" -> sorted))
        .orderBy("layout")
    }),


    "q242_quantile_norm" -> ((s, dir) =>
      // quantile normalization: each source's quality distribution maps
      // onto the global one (batch-effect correction before mixing
      // scorer outputs) — integer rank arithmetic into a 100-level
      // broadcast table
      Stats.quantileNormalize(
          tbl(s, dir, "documents")
            .withColumn("quality", TF.qualityScore(col("text"))),
          "source", "quality", "doc_id", levels = 100)
        .select(col("id").as("doc_id"), col("grp").as("source"),
          col("v").as("quality"), col("q_norm"))
        .orderBy("doc_id")),


    "q243_concurrency_peak" -> ((s, dir) =>
      // sweep-line peak concurrency over the q27 sessions: +1/−1
      // boundary events, running sum, earliest peak instant — the
      // connection-pool / rate-limit capacity number
      streaming.EventStreams.concurrencyPeak(
        streaming.EventStreams.sessionizeBatch(events(s, dir),
          gapMs = 1800000L))
        // NTZ at the edge: UTC session makes this an identity on values,
        // and the µs parquet encoding matches the oracle (q230 precedent)
        .withColumn("peak_at", col("peak_at").cast("timestamp_ntz"))),


    "q244_lift_table" -> ((s, dir) => {
      // cumulative-gains deciles of the hashed-bigram classifier against
      // the Gopher gate (the q158 pairing): per rank-decile positives and
      // the cumulative lift over random — the model-promotion curve
      val d = tbl(s, dir, "documents")
      val scored = TextQuality.classifierScore(d, "doc_id", "text")
        .select(col("doc_id"), col("margin"))
        .join(TextQuality.gopherMetrics(d, "doc_id", "text")
          .select(col("doc_id"), col("quality_pass")), Seq("doc_id"))
      Evaluation.liftTable(scored, "doc_id", "margin", "quality_pass", 10)
        .orderBy("bucket")
    }),


    "q245_passage_agg" -> ((s, dir) =>
      // MaxP-style passage aggregation: q11's chunks score by exact
      // query-term counts (zero-shuffle HOF), docs score
      // best + 0.2·(sum − best), top-10 with the best-chunk pointer
      Retrieval.passageAggregate(
          Chunker.chunkWithIds(tbl(s, dir, "documents"), "doc_id", "text",
            200, 50),
          "doc_id", "chunk_id", "chunk",
          Seq("spark", "join", "merge"), decay = 0.2, k = 10)),


    "q246_cuped" -> ((s, dir) => {
      // CUPED-adjusted A/B readout on the q226 hash arms: pre-period
      // view count is the covariate, post-period purchase cents the
      // outcome — θ from exact sums, per-arm raw vs adjusted means
      val ev = events(s, dir)
      val cut = lit("2024-01-20").cast("timestamp")
      val pre = ev.filter(col("event_type") === "view" && col("ts") < cut)
        .groupBy("user_id").agg(count(lit(1)).as("x"))
      val out = ev.filter(col("event_type") === "purchase" &&
          col("ts") >= cut)
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      val joined = ev.select("user_id").distinct()
        .join(pre, Seq("user_id"), "left")
        .join(out, Seq("user_id"), "left")
        .select(col("user_id"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
        .withColumn("arm", Sketches.keyHash(col("user_id")) % 2 === 0)
      Stats.cupedAdjust(joined, "arm", "x", "y").orderBy("arm")
    }),


    "q247_bm25f" -> ((s, dir) => {
      // fielded BM25: the first 5 tokens act as a ×2-boosted title over
      // the body — weighted tf/dl fold BEFORE the one BM25 saturation,
      // same pushed-down term filter and decimal scoring as q98
      val toks = Retrieval.analyze(col("text"))
      val d = tbl(s, dir, "documents")
        .withColumn("title", array_join(slice(toks, 1, 5), " "))
        .withColumn("body",
          array_join(slice(toks, lit(6), greatest(size(toks) - 5, lit(0))),
            " "))
      Retrieval.bm25Fielded(d, "doc_id", Seq("title" -> 2, "body" -> 1),
        Seq("spark", "join", "vector", "window"), k = 10)
    }),


    "q248_lateness_audit" -> ((s, dir) =>
      // watermark sizing from the log itself: arrival order = event_id,
      // running-max event time, drop counts at 1 min / 10 min / 1 h
      // candidate delays — picks `withWatermark` empirically
      streaming.EventStreams.latenessAudit(events(s, dir),
          Seq(60000L, 600000L, 3600000L))
        .orderBy("delay_ms")),


    "q249_dp_counts" -> ((s, dir) =>
      // DP-style release counts per (source, lang): bounded two-sided
      // geometric noise drawn from the seeded keyHash uniform of the
      // group key fingerprint — pure BIGINT threshold compares, clamped
      // at zero; the perturb-side companion to the q218 k-anonymity gate
      Governance.dpNoisyCounts(tbl(s, dir, "documents"),
          Seq("source", "lang"))
        .orderBy("source", "lang")),


    "q250_sorted_neighborhood" -> ((s, dir) => {
      // sorted-neighborhood blocking: doc names + 2-char-deleted twins
      // rank by name, pair within a 4-rank window, verify by exact
      // Levenshtein ≤ 3 — the hash-block-complementary linkage path
      val d = tbl(s, dir, "documents")
      val base = d.select(col("doc_id").as("id"),
        expr("substring(text, 1, 40)").as("name"))
      val twins = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("id"),
          concat(expr("substring(text, 1, 20)"),
            expr("substring(text, 23, 18)")).as("name"))
      Linkage.sortedNeighborhood(base.unionByName(twins), "id", "name",
          window = 4, maxDist = 3)
        .orderBy("id_a", "id_b")
    }),


    "q251_kaplan_meier" -> ((s, dir) => {
      // churn survival curve: per-user lifetime in whole hours (first →
      // last event), churn OBSERVED only when the user went quiet ≥ 12 h
      // before the log ends (else censored) — the product-limit estimate
      // plain retention means get wrong under censoring
      val per = events(s, dir).groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1"))
      val gmax = per.agg(max("t1").as("gm"))
      val life = per.crossJoin(broadcast(gmax))
        .select(expr("(t1 - t0) div 3600000000").as("t"),
          (col("t1") < col("gm") - lit(43200000000L)).as("observed"))
      Stats.kaplanMeier(life, "t", "observed").orderBy("t")
    }),


    "q252_cusum" -> ((s, dir) =>
      // CUSUM level-shift scan over daily event counts: exact BIGINT
      // scaled deviations T·cum − t·total, |peak| rows flagged — the
      // changepoint monitor that complements q152's EWMA smoothing
      Stats.cusumChangepoint(
          events(s, dir).groupBy(to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n_events")),
          "day", "n_events")
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day")),


    "q253_lagged_corr" -> ((s, dir) => {
      // lead/lag cross-correlation: daily view counts vs daily purchase
      // cents at lags −3..+3 — "do views drive purchases days later?";
      // 7 small date-shifted joins into the q111 exact-sum Pearson
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase",
              round(col("value") * 100).cast("long")).otherwise(0L))
            .as("y"))
      val pairs = (-3 to 3).map { l =>
        daily.select(col("day"), col("x"))
          .join(daily.select(date_sub(col("day"), l).as("day"), col("y")),
            "day")
          .select(lit(l).as("lag"), col("x"), col("y"))
      }.reduce(_ unionByName _)
      Stats.groupCorrelation(pairs, "lag", "x", "y").orderBy("lag")
    }),


    "q254_line_dedup" -> ((s, dir) => {
      // corpus-wide exact line dedup (C4/RefinedWeb): q99's 12-token
      // pseudo-lines over docs + full twins of every 3rd doc — only the
      // first (doc, idx) occurrence of a line survives; docs reassemble
      // from survivors, content pinned by the rolling fingerprint
      val d0 = tbl(s, dir, "documents")
      val corpus = d0.select(col("doc_id"), col("text")).unionByName(
        d0.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val withLines = corpus
        .withColumn("lines", TextQuality.tokenLinesFromText(col("text"), 12))
      TextQuality.globalLineDedup(withLines, "doc_id", "lines")
        .orderBy("id")
    }),


    "q255_zorder_skipping" -> ((s, dir) => {
      // the q76/q241 synthesis: the SAME 2-D box predicate against
      // 200-row files cut by (x, y) lexicographic sort vs z-value sort —
      // zone maps on both dims; z-order prunes on BOTH axes where the
      // lexicographic layout only prunes on the leading column
      val li = tbl(s, dir, "lineitem").select(
        (col("l_partkey") % 1024).as("px"),
        (col("l_suppkey") % 1024).as("sy"),
        col("l_orderkey"), col("l_linenumber"))
      val (loX, hiX, loY, hiY) =
        (lit(100L), lit(199L), lit(300L), lit(399L))
      def stats(ordered: DataFrame) = DataLayout.skipStats2D(
        ordered, expr("(_rn - 1) div 200"), col("px"), col("sy"),
        loX, hiX, loY, hiY)
      val lex = stats(li.withColumn("_rn", row_number().over(
        Window.orderBy("px", "sy", "l_orderkey", "l_linenumber"))))
      val zord = stats(li
        .withColumn("zv", DataLayout.zValue2(col("px"), col("sy"), 10))
        .withColumn("_rn", row_number().over(
          Window.orderBy("zv", "l_orderkey", "l_linenumber"))))
      DataLayout.skipSummary(Seq("x_then_y" -> lex, "zorder" -> zord))
        .orderBy("layout")
    }),


    "q256_ltr_features" -> ((s, dir) => {
      // learning-to-rank feature extraction: the q98 BM25 top-20
      // candidates joined with dense (query cosine distance), prior
      // (quality score) and shape (length) features — the feature-join
      // step between first-stage retrieval and a reranker
      val d = tbl(s, dir, "documents")
      val q0 = Seq("spark", "join", "vector", "window")
      val cands = storedBm25(s, dir, q0, 20)
        .select(col("id").as("doc_id"), col("score").as("bm25"),
          col("n_matched"))
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val dense = e.select(col("vec_id").as("doc_id"),
        round(call_function("graft_cosine_distance", col("embedding"),
          array(qv.map(v => lit(v)): _*)), 6).as("cos_dist"))
      val prior = d.select(col("doc_id"),
        TF.qualityScore(col("text")).as("quality"),
        length(col("text")).as("text_len"))
      cands.join(prior, "doc_id")
        .join(dense, Seq("doc_id"), "left")
        .orderBy(col("bm25").desc, col("doc_id"))
    }),


    "q257_nextevent_eval" -> ((s, dir) => {
      // next-event prediction baseline with a TEMPORAL holdout: each
      // user's final transition is held out, the q187-style transition
      // counts train on everything else, prediction = argmax count from
      // the held-out prev state (ties → lexicographic) — the accuracy
      // floor any sequence model must beat
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wd = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val seq0 = events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("nxt", lead("event_type", 1).over(w))
        .withColumn("rnd", row_number().over(wd))
        .filter(col("nxt").isNotNull)
      val held = seq0.filter(col("rnd") === 2)
        .select(col("user_id"), col("event_type").as("prev"),
          col("nxt").as("actual"))
      val train = seq0.filter(col("rnd") =!= 2)
        .groupBy(col("event_type").as("prev"), col("nxt").as("cand"))
        .agg(count(lit(1)).as("cnt"))
      val pred = held.join(broadcast(train), Seq("prev"), "left")
        .withColumn("cand", coalesce(col("cand"), lit("")))
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .groupBy("user_id", "actual")
        .agg(min_by(col("cand"),
          struct((-col("cnt")).as("nc"), col("cand"))).as("pred"))
      pred.agg(count(lit(1)).as("n_users"),
        sum(when(col("pred") === col("actual"), 1L).otherwise(0L))
          .as("n_correct"),
        (sum(when(col("pred") === col("actual"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("accuracy"))
    }),


    "q258_policy_replay" -> ((s, dir) => {
      // counterfactual policy evaluation: π(user-segment) = the action
      // with the best mean cents BEFORE Jan 20; uniform-propensity IPS
      // replay of the post-cutoff log estimates its value per segment —
      // the offline gate before an online A/B (q226/q246's third leg)
      val ev = events(s, dir)
        .withColumn("ctx", col("user_id") % 4)
        .withColumn("cents",
          coalesce(round(col("value") * 100).cast("long"), lit(0L)))
      val cut = lit("2024-01-20").cast("timestamp")
      Evaluation.ipsPolicyEval(
          ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut),
          "ctx", "event_type", "cents")
        .orderBy("ctx")
    }),


    "q259_embedding_qa" -> ((s, dir) => {
      // embedding-store QA per label: vector counts, zero-norm
      // degenerates, and the norm distribution (min/max/mean) — the
      // ingest gate before any ANN index build; each norm is a FIXED
      // left-fold sqrt(Σx²) (replayed by list_reduce), means decimal-sum
      val dsum18 = (c: Column) => sum(c.cast("decimal(38,18)")).cast("double")
      val n2 = expr("aggregate(embedding, cast(0.0 as double), " +
        "(a, x) -> a + cast(x as double) * cast(x as double))")
      val withNorm = tbl(s, dir, "embeddings")
        .select(col("label"), sqrt(n2).as("_norm"))
      withNorm.groupBy("label").agg(
          count(lit(1)).as("n_vectors"),
          sum(when(col("_norm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          round(min("_norm"), 6).as("min_norm"),
          round(max("_norm"), 6).as("max_norm"),
          round(dsum18(col("_norm")) / count(lit(1)), 6).as("mean_norm"))
        .orderBy("label")
    }),


    "q260_dim_variance" -> ((s, dir) =>
      // dead-dimension screen: per-dimension mean/variance from exact
      // decimal sums — near-constant dims flag wasted index bytes and
      // break PQ sub-space training (q124's input QA)
      tbl(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x", col("x").cast("double"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          round(sum(col("x").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 6).as("mean"),
          round((sum((col("x") * col("x")).cast("decimal(38,18)"))
              .cast("double") -
            sum(col("x").cast("decimal(38,18)")).cast("double") *
              sum(col("x").cast("decimal(38,18)")).cast("double") /
              count(lit(1))) / count(lit(1)), 6).as("variance"))
        .orderBy("dim")),


    "q261_gap_percentiles" -> ((s, dir) => {
      // inter-event gap percentiles (exact lower-rank p50/p90/p99 in
      // µs) — the empirical basis for the q27 session gap and the q248
      // watermark delay, instead of folklore 30-minute constants
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val g = events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("prev", lag("ts_us", 1).over(w))
        .filter(col("prev").isNotNull)
        .select((col("ts_us") - col("prev")).as("gap_us"))
      val n = g.agg(count(lit(1)).as("n"))
      val ranked = g.withColumn("r",
        row_number().over(Window.orderBy("gap_us")).cast("long"))
      Seq(50, 90, 99).map { p =>
        ranked.crossJoin(broadcast(n))
          .filter(col("r") === greatest(lit(1L), expr(s"($p * n) div 100")))
          .select(lit(p).as("pct"), col("gap_us"), col("n").as("n_gaps"))
      }.reduce(_ unionByName _).orderBy("pct")
    }),


    "q262_backlog_curve" -> ((s, dir) => {
      // monthly order-backlog curve: an order is open from o_orderdate
      // until its last line ships; open-at-month-start = started in
      // earlier months − closed in earlier months, all integer cumsums
      // over the bounded month table (the q243 sweep at month grain)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("start_d"))
      val closes = tbl(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(max(to_date(col("l_shipdate"))).as("close_d"))
      val iv = o.join(closes, col("o_orderkey") === col("l_orderkey"))
      val sm = iv.groupBy(trunc(col("start_d"), "month").as("m"))
        .agg(count(lit(1)).as("n_started"))
      val cm = iv.groupBy(trunc(col("close_d"), "month").as("m"))
        .agg(count(lit(1)).as("n_closed"))
      val w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
      sm.select("m").unionByName(cm.select("m")).distinct()
        .join(sm, Seq("m"), "left").join(cm, Seq("m"), "left")
        .select(col("m"),
          coalesce(col("n_started"), lit(0L)).as("n_started"),
          coalesce(col("n_closed"), lit(0L)).as("n_closed"))
        .withColumn("open_at_month_start",
          coalesce(sum("n_started").over(w), lit(0L)) -
            coalesce(sum("n_closed").over(w), lit(0L)))
        .select(date_format(col("m"), "yyyy-MM").as("month"),
          col("n_started"), col("n_closed"), col("open_at_month_start"))
        .orderBy("month")
    }),


    "q263_abc_classes" -> ((s, dir) => {
      // ABC/Pareto inventory classes: parts ranked by revenue, class A
      // covers the first 80% of cumulative cents, B to 95%, C the tail —
      // all-integer threshold compares (cum·100 vs tot·80), one window
      val rev = tbl(s, dir, "lineitem").groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      val tot = rev.agg(sum("cents").as("_tot"))
      val w = Window.orderBy(col("cents").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.crossJoin(broadcast(tot))
        .withColumn("_cum", sum("cents").over(w))
        .withColumn("cls",
          when(col("_cum") * 100 <= col("_tot") * 80, "A")
            .when(col("_cum") * 100 <= col("_tot") * 95, "B")
            .otherwise("C"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_parts"), sum("cents").as("revenue_cents"),
          (sum("cents").cast("double") / max("_tot")).as("revenue_share"))
        .orderBy("cls")
    }),


    "q264_cohort_ltv" -> ((s, dir) => {
      // cohort LTV curve: cumulative purchase cents per signup-week
      // cohort by weeks-since-signup (the revenue twin of q107's
      // retention matrix); exact integer cumsums per cohort
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        col("value"),
        expr("cast(datediff(cast(ts as date), date'1970-01-01') div 7 " +
          "as int)").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_week"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(cohort, "user_id")
        .groupBy(col("cohort_week"), (col("wk") - col("cohort_week"))
          .as("week_offset"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_cents", sum("cents").over(w))
        .orderBy("cohort_week", "week_offset")
    }),


    "q265_dup_payments" -> ((s, dir) => {
      // duplicate-payment flags: same user, same dollar amount, within
      // 24 h of the previous occurrence — one window over
      // (user, dollars), the classic sparse fraud rule
      val p = events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          expr("cast(round(value * 100) as bigint) div 100").as("dollars"),
          unix_micros(col("ts")).as("tu"))
      val w = Window.partitionBy("user_id", "dollars")
        .orderBy(col("tu"), col("event_id"))
      p.withColumn("gap_us", col("tu") - lag("tu", 1).over(w))
        .filter(col("gap_us").isNotNull &&
          col("gap_us") <= 86400000000L)
        .select(col("user_id"), col("event_id"), col("dollars"),
          col("gap_us"))
        .orderBy("user_id", "event_id")
    }),


    "q266_rfm_segments" -> ((s, dir) => {
      // RFM segmentation: per purchasing user the recency / frequency /
      // monetary quintile codes (5 = best, exact ceil-rank arithmetic,
      // ties → user_id), rolled up per segment — the classic customer
      // grid, all-integer
      val p = events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("tu"),
          round(col("value") * 100).cast("long").as("cents"))
      val per = p.groupBy("user_id").agg(max("tu").as("last_tu"),
        count(lit(1)).as("freq"), sum("cents").as("monetary"))
      val n = per.agg(count(lit(1)).as("n"))
      val coded = per.crossJoin(broadcast(n))
        .withColumn("_r_r", row_number().over(
          Window.orderBy(col("last_tu"), col("user_id"))).cast("long"))
        .withColumn("_r_f", row_number().over(
          Window.orderBy(col("freq"), col("user_id"))).cast("long"))
        .withColumn("_r_m", row_number().over(
          Window.orderBy(col("monetary"), col("user_id"))).cast("long"))
        .select(col("monetary"),
          expr("(5 * _r_r + n - 1) div n").as("r_code"),
          expr("(5 * _r_f + n - 1) div n").as("f_code"),
          expr("(5 * _r_m + n - 1) div n").as("m_code"))
      coded.groupBy("r_code", "f_code", "m_code")
        .agg(count(lit(1)).as("n_users"),
          sum("monetary").as("cents"),
          (sum("monetary").cast("double") / count(lit(1)))
            .as("mean_cents"))
        .orderBy("r_code", "f_code", "m_code")
    }),


    "q267_cycle_time" -> ((s, dir) => {
      // order cycle-time percentiles per priority: orderdate → last
      // line shipped, exact lower-rank p50/p90 WITHIN each priority
      // (the q261 selection per group)
      val cyc = tbl(s, dir, "orders")
        .join(tbl(s, dir, "lineitem").groupBy("l_orderkey")
          .agg(max(to_date(col("l_shipdate"))).as("last_ship")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"), col("o_orderkey"),
          datediff(col("last_ship"), to_date(col("o_orderdate")))
            .as("cycle_days"))
      val wg = Window.partitionBy("priority")
        .orderBy(col("cycle_days"), col("o_orderkey"))
      val ranked = cyc
        .withColumn("r", row_number().over(wg).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("priority")))
      Seq(50, 90).map { pq =>
        ranked.filter(col("r") ===
            greatest(lit(1L), expr(s"($pq * n) div 100")))
          .select(col("priority"), lit(pq).as("pct"), col("cycle_days"),
            col("n").as("n_orders"))
      }.reduce(_ unionByName _).orderBy("priority", "pct")
    }),


    "q268_dow_seasonality" -> ((s, dir) => {
      // day-of-week seasonality index: per ISO weekday the event volume
      // vs the all-days mean — index = n_dow · n_days / (total · d_days),
      // exact ints into one double division
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", weekday(col("day")) + 1)
      val tot = daily.agg(sum("n").as("_tn"), count(lit(1)).as("_td"))
      daily.groupBy("dow")
        .agg(sum("n").as("n_events"), count(lit(1)).as("n_days"))
        .crossJoin(broadcast(tot))
        .withColumn("index",
          (col("n_events") * col("_td")).cast("double") /
            (col("_tn") * col("n_days")))
        .select("dow", "n_events", "n_days", "index")
        .orderBy("dow")
    }),


    "q269_basket_lift" -> ((s, dir) => {
      // event-type co-occurrence lift within user-day baskets:
      // lift = n_ab·N / (n_a·n_b) over distinct (user, day, type) sets —
      // the unordered companion to q187's ordered transitions
      val basket = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"))
        .distinct()
      val nb = basket.select("user_id", "day").distinct()
        .agg(count(lit(1)).as("_N"))
      val single = basket.groupBy("event_type")
        .agg(count(lit(1)).as("n_one"))
      val pairs = basket.select(col("user_id"), col("day"),
          col("event_type").as("a"))
        .join(basket.select(col("user_id"), col("day"),
          col("event_type").as("b")), Seq("user_id", "day"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(single.select(col("event_type").as("a"),
          col("n_one").as("n_a"))), "a")
        .join(broadcast(single.select(col("event_type").as("b"),
          col("n_one").as("n_b"))), "b")
        .crossJoin(broadcast(nb))
        .withColumn("lift", (col("n_both") * col("_N")).cast("double") /
          (col("n_a") * col("n_b")))
        .select("a", "b", "n_both", "lift")
        .orderBy("a", "b")
    }),


    "q270_order_regularity" -> ((s, dir) => {
      // purchase-rhythm audit: coefficient of variation of a customer's
      // inter-order gaps (≥ 5 orders) — clumpy vs metronomic buyers;
      // exact gap sums, one fixed sqrt/division tree, 20 most regular
      val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
      val gaps = tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"))
        .withColumn("gap", datediff(col("d"), lag("d", 1).over(w)))
        .filter(col("gap").isNotNull)
        .select(col("o_custkey"), col("gap").cast("long").as("gap"))
      gaps.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_gaps"), sum("gap").as("_sx"),
          sum(col("gap") * col("gap")).as("_sxx"))
        .filter(col("n_gaps") >= 4) // ≥5 orders
        .withColumn("mean_gap",
          col("_sx").cast("double") / col("n_gaps"))
        .withColumn("cv", round(
          sqrt((col("_sxx").cast("double") -
            col("_sx").cast("double") * col("_sx").cast("double") /
              col("n_gaps")) / col("n_gaps")) /
            (col("_sx").cast("double") / col("n_gaps")), 6))
        .select(col("o_custkey"), col("n_gaps"),
          round(col("mean_gap"), 6).as("mean_gap"), col("cv"))
        .orderBy(col("cv"), col("o_custkey")).limit(20)
    }),


    "q271_discount_elasticity" -> ((s, dir) =>
      // does a deeper discount move more units? exact-decimal Pearson
      // of (discount, quantity) per brand — the q111 machinery on the
      // lineitem ⋈ broadcast part join
      Stats.groupCorrelation(
          tbl(s, dir, "lineitem")
            .join(broadcast(tbl(s, dir, "part")
              .select(col("p_partkey"), col("p_brand"))),
              col("l_partkey") === col("p_partkey")),
          "p_brand", "l_discount", "l_quantity")
        .orderBy("p_brand")),


    "q272_capture_recapture" -> ((s, dir) => {
      // Lincoln–Petersen population estimate: users active in week 1 vs
      // week 2 as two "captures" — N̂ = n1·n2/m estimates the TOTAL user
      // base incl. never-seen users; exact counts, one double division
      val ev = events(s, dir).select(col("user_id"),
        expr("cast(datediff(cast(ts as date), date'1970-01-01') div 7 " +
          "as int)").as("wk"))
      val w0 = ev.agg(min("wk").as("_w0"))
      val tagged = ev.crossJoin(broadcast(w0))
      val s1 = tagged.filter(col("wk") === col("_w0"))
        .select("user_id").distinct()
      val s2 = tagged.filter(col("wk") === col("_w0") + 1)
        .select("user_id").distinct()
      val n1 = s1.agg(count(lit(1)).as("n1"))
      val n2 = s2.agg(count(lit(1)).as("n2"))
      val m = s1.join(s2, "user_id").agg(count(lit(1)).as("m"))
      n1.crossJoin(n2).crossJoin(m)
        .withColumn("n_hat", when(col("m") > 0,
          (col("n1") * col("n2")).cast("double") / col("m")))
    })
  )

  def oracleSql: Map[String, String] = Map(


      // the q158 scored CTEs give the Gopher gate; block join on lang,
      // argmin by (len_diff, rejected_id) replayed as a QUALIFY window
      "q223_preference_pairs" ->
        s"""$scoredMarginCtes,
           |lab AS (SELECT s.doc_id, s.quality_pass, d.lang, d.n_chars
           |  FROM scored s JOIN documents d USING (doc_id)),
           |ch AS (SELECT lang, doc_id AS chosen_id, n_chars AS chosen_len
           |  FROM lab WHERE quality_pass),
           |rj AS (SELECT lang, doc_id AS rejected_id,
           |    n_chars AS rejected_len
           |  FROM lab WHERE NOT quality_pass),
           |p AS (SELECT ch.chosen_id, rj.rejected_id, ch.chosen_len,
           |    rj.rejected_len,
           |    abs(ch.chosen_len - rj.rejected_len) AS len_diff
           |  FROM ch JOIN rj ON ch.lang = rj.lang)
           |SELECT chosen_id, rejected_id, chosen_len, rejected_len,
           |  len_diff
           |FROM p
           |QUALIFY row_number() OVER (PARTITION BY chosen_id
           |  ORDER BY len_diff, rejected_id) = 1
           |ORDER BY chosen_id""".stripMargin,


      "q224_maxsim" -> maxSimOracleSql,


      "q225_attribution" ->
        """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
          |    event_type FROM events),
          |conv AS (SELECT user_id, event_id AS conv_id, epoch_us(ts) AS cts
          |  FROM e WHERE event_type = 'purchase'),
          |touch AS (SELECT user_id, event_id AS touch_id, epoch_us(ts) AS tts
          |  FROM e WHERE event_type = 'view'),
          |j AS (SELECT conv_id, touch_id, cts, tts
          |  FROM conv JOIN touch USING (user_id)
          |  WHERE tts < cts AND tts >= cts - 604800000000),
          |p AS (SELECT conv_id, (cts - tts) // 86400000000 AS lag_days,
          |    COUNT(*) OVER (PARTITION BY conv_id) AS n,
          |    row_number() OVER (PARTITION BY conv_id
          |      ORDER BY tts, touch_id) AS pos
          |  FROM j),
          |c AS (SELECT lag_days, 1000000 // n AS linear_mc,
          |    CASE WHEN n = 1 THEN 1000000
          |      WHEN pos = 1 OR pos = n THEN 400000
          |      ELSE 200000 // (n - 2) END AS position_mc
          |  FROM p)
          |SELECT lag_days, CAST(count(*) AS BIGINT) AS n_touches,
          |  CAST(SUM(linear_mc) AS BIGINT) AS linear_mcredit,
          |  CAST(SUM(position_mc) AS BIGINT) AS position_mcredit
          |FROM c GROUP BY lag_days ORDER BY lag_days""".stripMargin,


      // the q206/q212 keyHash chain on user_id splits the arms; Welch's
      // t over decimal-exact (n, Σv, Σv²) with the identical tree
      "q226_ab_test" ->
        """WITH pu AS (SELECT user_id,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |      AS v100
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
          |h0 AS (SELECT v100, (user_id * 1000003) % 2147483647 AS h FROM pu),
          |h1 AS (SELECT v100, (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT v100, (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1),
          |arm AS (SELECT v100, h % 2 = 0 AS arm FROM h2),
          |sa AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
          |    CAST(SUM(CAST(v100 AS DECIMAL(38,0))) AS DOUBLE) AS sv_a,
          |    CAST(SUM(CAST(v100 * v100 AS DECIMAL(38,0))) AS DOUBLE) AS svv_a
          |  FROM arm WHERE arm),
          |sb AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
          |    CAST(SUM(CAST(v100 AS DECIMAL(38,0))) AS DOUBLE) AS sv_b,
          |    CAST(SUM(CAST(v100 * v100 AS DECIMAL(38,0))) AS DOUBLE) AS svv_b
          |  FROM arm WHERE NOT arm)
          |SELECT n_a, n_b, sv_a / n_a AS mean_a, sv_b / n_b AS mean_b,
          |  sv_a / n_a - sv_b / n_b AS diff,
          |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
          |    (sv_a / n_a - sv_b / n_b)
          |    / sqrt(((svv_a - sv_a * sv_a / n_a) / (n_a - 1)) / n_a
          |      + ((svv_b - sv_b * sv_b / n_b) / (n_b - 1)) / n_b)
          |  END AS t_stat
          |FROM sa, sb""".stripMargin,


      // q98's scoring CTEs run twice: round-1 top-5 picks the expansion
      // terms (total tf desc, term), round 2 scores the joined term set
      "q227_prf_expansion" ->
        """WITH docs AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |dl AS (SELECT id, len(t) AS dl, t FROM docs),
          |stats AS (SELECT COUNT(*) AS n_docs,
          |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          |tf1 AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
          |    SELECT id, dl, unnest(t) AS term FROM dl)
          |  WHERE term IN ('spark', 'join', 'vector', 'window')
          |  GROUP BY id, dl, term),
          |dfq1 AS (SELECT term, COUNT(*) AS term_df FROM tf1 GROUP BY term),
          |sc1 AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          |      AS contrib
          |  FROM tf1 JOIN dfq1 USING (term), stats),
          |top5 AS (SELECT id,
          |    round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6)
          |      AS score
          |  FROM sc1 GROUP BY id ORDER BY score DESC, id LIMIT 5),
          |expt AS (SELECT term FROM (
          |    SELECT term, COUNT(*) AS cnt FROM (
          |      SELECT unnest(t) AS term FROM dl JOIN top5 USING (id))
          |    WHERE term NOT IN ('spark', 'join', 'vector', 'window')
          |    GROUP BY term)
          |  ORDER BY cnt DESC, term LIMIT 2),
          |t2 AS (SELECT unnest(['spark', 'join', 'vector', 'window']) AS term
          |  UNION ALL SELECT term FROM expt),
          |tf2 AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
          |    SELECT id, dl, unnest(t) AS term FROM dl) u
          |  JOIN t2 USING (term)
          |  GROUP BY id, dl, term),
          |dfq2 AS (SELECT term, COUNT(*) AS term_df FROM tf2 GROUP BY term),
          |sc2 AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          |      AS contrib
          |  FROM tf2 JOIN dfq2 USING (term), stats)
          |SELECT id,
          |  round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6)
          |    AS score,
          |  COUNT(*) AS n_matched
          |FROM sc2 GROUP BY id
          |ORDER BY score DESC, id LIMIT 10""".stripMargin,


      // the q101 edge CTEs; three frontier expansions with NOT-IN
      // visited sets
      "q228_khop" ->
        s"""$knnEdgesPrefixSql,
           |h1 AS (SELECT DISTINCT nbr_id AS node FROM g0 WHERE id = 0),
           |v1 AS (SELECT CAST(0 AS BIGINT) AS node UNION SELECT node FROM h1),
           |h2 AS (SELECT DISTINCT g0.nbr_id AS node
           |  FROM h1 JOIN g0 ON h1.node = g0.id
           |  WHERE g0.nbr_id NOT IN (SELECT node FROM v1)),
           |v2 AS (SELECT node FROM v1 UNION SELECT node FROM h2),
           |h3 AS (SELECT DISTINCT g0.nbr_id AS node
           |  FROM h2 JOIN g0 ON h2.node = g0.id
           |  WHERE g0.nbr_id NOT IN (SELECT node FROM v2))
           |SELECT CAST(1 AS INT) AS hop, CAST(count(*) AS BIGINT) AS n_nodes,
           |  min(node) AS min_id, max(node) AS max_id FROM h1
           |UNION ALL
           |SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT), min(node),
           |  max(node) FROM h2
           |UNION ALL
           |SELECT CAST(3 AS INT), CAST(count(*) AS BIGINT), min(node),
           |  max(node) FROM h3
           |ORDER BY hop""".stripMargin,


      // per-dim decimal-exact means (q193 discipline), diff², decimal
      // re-accumulation across dims, sqrt+round once
      "q229_centroid_drift" ->
        """WITH dims AS (SELECT label, CAST(i AS INT) - 1 AS dim,
          |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
          |  FROM embeddings, unnest(range(1, 65)) AS u(i)),
          |per AS (SELECT label, dim,
          |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM dims GROUP BY 1, 2),
          |perm AS (SELECT label, dim, sx / n AS mean, n FROM per),
          |gl AS (SELECT dim,
          |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / count(*)
          |      AS gmean
          |  FROM dims GROUP BY dim),
          |d2 AS (SELECT label, n, (mean - gmean) * (mean - gmean) AS d2
          |  FROM perm JOIN gl USING (dim))
          |SELECT label, max(n) AS n_vectors,
          |  round(sqrt(CAST(SUM(CAST(d2 AS DECIMAL(38,18))) AS DOUBLE)), 6)
          |    AS drift
          |FROM d2 GROUP BY label ORDER BY label""".stripMargin,


      // REBUILD from all events — matching the Spark side's incremental
      // merge path proves merge(state, delta) ≡ rebuild
      "q230_scd2_merge" ->
        """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
          |    event_type FROM events WHERE user_id < 100)
          |SELECT user_id, event_type, ts AS valid_from,
          |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |    AS valid_to,
          |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |    IS NULL AS is_current
          |FROM e ORDER BY user_id, valid_from""".stripMargin,


      // the q227 CTE chain ranked twice; concordant/discordant pair
      // counts over the common ids, tau = (2C − P)/P
      "q231_rank_stability" ->
        """WITH docs AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |dl AS (SELECT id, len(t) AS dl, t FROM docs),
          |stats AS (SELECT COUNT(*) AS n_docs,
          |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          |tf1 AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
          |    SELECT id, dl, unnest(t) AS term FROM dl)
          |  WHERE term IN ('spark', 'join', 'vector', 'window')
          |  GROUP BY id, dl, term),
          |dfq1 AS (SELECT term, COUNT(*) AS term_df FROM tf1 GROUP BY term),
          |sc1 AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          |      AS contrib
          |  FROM tf1 JOIN dfq1 USING (term), stats),
          |s1 AS (SELECT id,
          |    round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6)
          |      AS score
          |  FROM sc1 GROUP BY id),
          |ra AS (SELECT id, row_number() OVER (ORDER BY score DESC, id)
          |    AS rka
          |  FROM (SELECT id, score FROM s1 ORDER BY score DESC, id LIMIT 10)),
          |top5 AS (SELECT id FROM s1 ORDER BY score DESC, id LIMIT 5),
          |expt AS (SELECT term FROM (
          |    SELECT term, COUNT(*) AS cnt FROM (
          |      SELECT unnest(t) AS term FROM dl JOIN top5 USING (id))
          |    WHERE term NOT IN ('spark', 'join', 'vector', 'window')
          |    GROUP BY term)
          |  ORDER BY cnt DESC, term LIMIT 2),
          |t2 AS (SELECT unnest(['spark', 'join', 'vector', 'window']) AS term
          |  UNION ALL SELECT term FROM expt),
          |tf2 AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
          |    SELECT id, dl, unnest(t) AS term FROM dl) u
          |  JOIN t2 USING (term)
          |  GROUP BY id, dl, term),
          |dfq2 AS (SELECT term, COUNT(*) AS term_df FROM tf2 GROUP BY term),
          |sc2 AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          |      AS contrib
          |  FROM tf2 JOIN dfq2 USING (term), stats),
          |rb AS (SELECT id, row_number() OVER (ORDER BY score DESC, id)
          |    AS rkb
          |  FROM (SELECT id,
          |      round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6)
          |        AS score
          |    FROM sc2 GROUP BY id ORDER BY score DESC, id LIMIT 10)),
          |cm AS (SELECT ra.id, rka, rkb FROM ra JOIN rb USING (id)),
          |pr AS (SELECT CASE WHEN (a.rka - b.rka) * (a.rkb - b.rkb) > 0
          |      THEN 1 ELSE 0 END AS conc
          |  FROM cm a JOIN cm b ON a.id < b.id),
          |pa AS (SELECT CAST(count(*) AS BIGINT) AS np,
          |    CAST(coalesce(SUM(conc), 0) AS BIGINT) AS c FROM pr),
          |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM cm)
          |SELECT n_common,
          |  CAST(n_common AS DOUBLE) / 10 AS overlap_at_k,
          |  c AS n_concordant, np - c AS n_discordant,
          |  CASE WHEN np > 0
          |    THEN CAST(2 * c - np AS DOUBLE) / np END AS tau
          |FROM nc, pa""".stripMargin,


      // row_number window replay of the bounded-heap aggregate —
      // identical quality replay as q25, DESC + doc_id tie-break
      "q232_topk_agg" ->
        s"""WITH d AS (SELECT source, doc_id, $qualitySql AS quality
           |  FROM documents),
           |r AS (SELECT source, doc_id, quality,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY quality DESC, doc_id) AS rn
           |  FROM d)
           |SELECT source, doc_id, quality FROM r WHERE rn <= 3
           |ORDER BY source, doc_id""".stripMargin,


      // 1-based window starts replayed with a range unnest; j+1 never
      // exceeds len(t) because range's stop is exclusive
      "q233_phrase_match" ->
        """WITH toks AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM documents),
          |st AS (SELECT id, j FROM toks, unnest(range(1, len(t))) AS r(j)
          |  WHERE t[j] = 'hash' AND t[j+1] = 'join')
          |SELECT id, count(*) AS n_occurrences,
          |  CAST(min(j) AS INT) AS first_pos
          |FROM st GROUP BY id ORDER BY id""".stripMargin,


      // identical running-max last-seen windows; covers require all
      // three terms seen at or before the current hit
      "q234_min_span" ->
        """WITH toks AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM documents),
          |hits AS (SELECT id, j AS pos, t[j] AS term
          |  FROM toks, unnest(range(1, len(t) + 1)) AS r(j)
          |  WHERE t[j] IN ('spark', 'vector', 'merge')),
          |wl AS (SELECT id, pos,
          |    max(CASE WHEN term = 'spark' THEN pos END)
          |      OVER (PARTITION BY id ORDER BY pos) AS l0,
          |    max(CASE WHEN term = 'vector' THEN pos END)
          |      OVER (PARTITION BY id ORDER BY pos) AS l1,
          |    max(CASE WHEN term = 'merge' THEN pos END)
          |      OVER (PARTITION BY id ORDER BY pos) AS l2
          |  FROM hits)
          |SELECT id, CAST(min(pos - least(l0, l1, l2) + 1) AS INT)
          |    AS min_span,
          |  count(*) AS n_covers
          |FROM wl
          |WHERE l0 IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL
          |GROUP BY id ORDER BY id""".stripMargin,


      // bounded hit × hit self-join per doc; DuckDB list slice is
      // 1-based inclusive → [start : start+7] is the 8-token window
      "q235_snippet" ->
        """WITH toks AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM documents),
          |hits AS (SELECT id, j AS pos, t[j] AS term
          |  FROM toks, unnest(range(1, len(t) + 1)) AS r(j)
          |  WHERE t[j] IN ('spark', 'vector', 'merge')),
          |win AS (SELECT a.id, a.pos AS start,
          |    count(DISTINCT b.term) AS n_terms
          |  FROM hits a JOIN hits b ON a.id = b.id
          |    AND b.pos >= a.pos AND b.pos < a.pos + 8
          |  GROUP BY a.id, a.pos),
          |best AS (SELECT id, start, n_terms, row_number()
          |    OVER (PARTITION BY id ORDER BY n_terms DESC, start) AS rn
          |  FROM win)
          |SELECT b.id, CAST(b.start AS INT) AS start, b.n_terms,
          |  array_to_string(t[b.start : b.start + 7], ' ') AS snippet
          |FROM best b JOIN toks USING (id) WHERE rn = 1
          |ORDER BY id""".stripMargin,


      // the 3 MM rounds unrolled as CTE pairs (dN = decimal-summed
      // opponent denominators, sN = wins/dN); identical division trees
      "q236_bradley_terry" ->
        s"""WITH d AS (SELECT doc_id, lang, source, $qualitySql AS q
           |  FROM documents),
           |du AS (SELECT source, q,
           |    lead(doc_id) OVER w AS n_doc,
           |    lead(source) OVER w AS n_src,
           |    lead(q) OVER w AS n_q
           |  FROM d WINDOW w AS (PARTITION BY lang ORDER BY doc_id)),
           |pw AS (SELECT
           |    CASE WHEN q >= n_q THEN source ELSE n_src END AS win,
           |    CASE WHEN q >= n_q THEN n_src ELSE source END AS lose
           |  FROM du WHERE n_doc IS NOT NULL AND source <> n_src),
           |wn AS (SELECT win AS item, CAST(count(*) AS BIGINT) AS wins
           |  FROM pw GROUP BY 1),
           |mm AS (SELECT i, j, count(*) AS m FROM (
           |    SELECT win AS i, lose AS j FROM pw
           |    UNION ALL SELECT lose AS i, win AS j FROM pw)
           |  GROUP BY i, j),
           |it AS (SELECT DISTINCT i AS item FROM mm),
           |w0 AS (SELECT item, CAST(coalesce(wins, 0) AS BIGINT) AS wins
           |  FROM it LEFT JOIN wn USING (item)),
           |s0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS s FROM it),
           |d1 AS (SELECT mm.i, CAST(SUM(CAST(
           |      CAST(m AS DOUBLE) / (si.s + sj.s) AS DECIMAL(38,18)))
           |    AS DOUBLE) AS dd
           |  FROM mm JOIN s0 si ON mm.i = si.item
           |    JOIN s0 sj ON mm.j = sj.item GROUP BY mm.i),
           |s1 AS (SELECT w0.item, CAST(wins AS DOUBLE) / dd AS s
           |  FROM w0 JOIN d1 ON w0.item = d1.i),
           |d2 AS (SELECT mm.i, CAST(SUM(CAST(
           |      CAST(m AS DOUBLE) / (si.s + sj.s) AS DECIMAL(38,18)))
           |    AS DOUBLE) AS dd
           |  FROM mm JOIN s1 si ON mm.i = si.item
           |    JOIN s1 sj ON mm.j = sj.item GROUP BY mm.i),
           |s2 AS (SELECT w0.item, CAST(wins AS DOUBLE) / dd AS s
           |  FROM w0 JOIN d2 ON w0.item = d2.i),
           |d3 AS (SELECT mm.i, CAST(SUM(CAST(
           |      CAST(m AS DOUBLE) / (si.s + sj.s) AS DECIMAL(38,18)))
           |    AS DOUBLE) AS dd
           |  FROM mm JOIN s2 si ON mm.i = si.item
           |    JOIN s2 sj ON mm.j = sj.item GROUP BY mm.i),
           |s3 AS (SELECT w0.item, CAST(wins AS DOUBLE) / dd AS s
           |  FROM w0 JOIN d3 ON w0.item = d3.i),
           |tot AS (SELECT CAST(SUM(CAST(s AS DECIMAL(38,18))) AS DOUBLE)
           |    AS tot FROM s3),
           |gm AS (SELECT i AS item, CAST(SUM(m) AS BIGINT) AS n_duels
           |  FROM mm GROUP BY 1)
           |SELECT item, n_duels, wins, round(s / tot, 6) AS strength
           |FROM w0 JOIN s3 USING (item) JOIN gm USING (item), tot
           |ORDER BY item""".stripMargin,


      // the q127 synthetic PCM replayed arithmetically: 32-sample frame
      // energies (partial trailing frame dropped), islands by
      // frame − row_number
      "q237_audio_vad" ->
        """WITH sm AS (SELECT doc_id, i,
          |    ((doc_id * 31 + i * 17) % 4096) - 2048 AS v
          |  FROM documents, unnest(range(0, 128 + doc_id % 64)) t(i)),
          |fr AS (SELECT doc_id, i // 32 AS frame,
          |    CAST(SUM(v * v) AS BIGINT) AS energy
          |  FROM sm WHERE i // 32 < (128 + doc_id % 64) // 32
          |  GROUP BY doc_id, i // 32),
          |sp AS (SELECT doc_id, frame, energy,
          |    frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame)
          |      AS isl
          |  FROM fr WHERE energy >= 20000000)
          |SELECT doc_id AS id, CAST(min(frame) AS INT) AS start_frame,
          |  CAST(max(frame) AS INT) AS end_frame, count(*) AS n_frames,
          |  CAST(SUM(energy) AS BIGINT) AS energy
          |FROM sp GROUP BY doc_id, isl ORDER BY id, start_frame""".stripMargin,


      // integer-cents rendering gives the first digit; expectations are
      // the same 6 dp literals the Spark side embeds
      "q238_benford" ->
        """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
          |  FROM orders WHERE round(o_totalprice * 100) > 0),
          |d AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT)
          |    AS digit FROM c),
          |raw AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
          |n AS (SELECT g.digit, coalesce(raw.n, 0) AS n
          |  FROM (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit) g
          |  LEFT JOIN raw ON g.digit = raw.digit),
          |t AS (SELECT SUM(n) AS tot FROM n),
          |e AS (SELECT digit, n,
          |    CAST(n AS DOUBLE) / tot AS share,
          |    CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
          |      WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910
          |      WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
          |      WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
          |      WHEN 9 THEN 0.045757 ELSE 0.0 END AS expected_share
          |  FROM n, t)
          |SELECT digit, n, share, expected_share,
          |  abs(share - expected_share) AS abs_dev
          |FROM e ORDER BY digit""".stripMargin,


      // undirected q101 edges → shared-neighbor self-join; jaccard is a
      // single exact-int division; top-20 totally ordered
      "q239_link_prediction" ->
        s"""$knnEdgesPrefixSql,
           |u0 AS (SELECT DISTINCT least(id, nbr_id) AS a,
           |    greatest(id, nbr_id) AS b
           |  FROM g0 WHERE id <> nbr_id),
           |nb AS (SELECT a AS v, b AS n FROM u0
           |  UNION ALL SELECT b AS v, a AS n FROM u0),
           |dg2 AS (SELECT v, count(*) AS deg FROM nb GROUP BY v),
           |cn AS (SELECT x.v AS xa, y.v AS yb, count(*) AS n_common
           |  FROM nb x JOIN nb y ON x.n = y.n AND x.v < y.v
           |  GROUP BY x.v, y.v),
           |cand AS (SELECT xa, yb, n_common FROM cn
           |  WHERE NOT EXISTS (SELECT 1 FROM u0
           |    WHERE u0.a = cn.xa AND u0.b = cn.yb)),
           |j AS (SELECT xa AS node_a, yb AS node_b,
           |    CAST(n_common AS BIGINT) AS n_common,
           |    CAST(n_common AS DOUBLE) / (dx.deg + dy.deg - n_common)
           |      AS jaccard
           |  FROM cand JOIN dg2 dx ON cand.xa = dx.v
           |    JOIN dg2 dy ON cand.yb = dy.v)
           |SELECT node_a, node_b, n_common, jaccard FROM j
           |ORDER BY jaccard DESC, node_a, node_b LIMIT 20""".stripMargin,


      "q240_textrank" -> textRankOracleSql,


      // per-layout zone maps: min/max per file id, skippable when the
      // [min,max] misses the 1997 range entirely
      "q241_skip_audit" ->
        """WITH pr AS (SELECT CAST('1997-01-01' AS TIMESTAMP) AS lo,
          |    CAST('1997-12-31' AS TIMESTAMP) AS hi),
          |a AS (SELECT o_orderkey // 100 AS f, o_orderdate AS p
          |  FROM orders),
          |af AS (SELECT f, min(p) AS mn, max(p) AS mx, count(*) AS nr
          |  FROM a GROUP BY f),
          |s AS (SELECT (row_number() OVER (ORDER BY o_orderdate,
          |      o_orderkey) - 1) // 100 AS f, o_orderdate AS p
          |  FROM orders),
          |sf AS (SELECT f, min(p) AS mn, max(p) AS mx, count(*) AS nr
          |  FROM s GROUP BY f),
          |u AS (SELECT 'arrival' AS layout, mn, mx, nr FROM af
          |  UNION ALL SELECT 'date_sorted', mn, mx, nr FROM sf)
          |SELECT layout, count(*) AS n_files,
          |  CAST(SUM(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_skippable,
          |  CAST(SUM(CASE WHEN mx < lo OR mn > hi THEN nr ELSE 0 END)
          |    AS BIGINT) AS rows_skipped,
          |  CAST(SUM(CASE WHEN mx < lo OR mn > hi THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*) AS file_skip_frac
          |FROM u, pr GROUP BY layout ORDER BY layout""".stripMargin,


      // within-source rank → ⌈100·r/m⌉ level → global value at rank
      // (lv·n)//100 — all integer arithmetic into a 100-row table
      "q242_quantile_norm" ->
        s"""WITH d AS (SELECT doc_id, source, $qualitySql AS q
           |  FROM documents),
           |rk AS (SELECT doc_id, source, q,
           |    row_number() OVER (PARTITION BY source ORDER BY q, doc_id)
           |      AS r,
           |    count(*) OVER (PARTITION BY source) AS m
           |  FROM d),
           |gl AS (SELECT q, row_number() OVER (ORDER BY q, doc_id) AS gr
           |  FROM d),
           |nn AS (SELECT count(*) AS n FROM d),
           |tb AS (SELECT x.lv, gl.q AS q_norm FROM (
           |    SELECT l.lv, greatest(1, (l.lv * n) // 100) AS grank
           |    FROM (SELECT unnest(range(1, 101)) AS lv) l, nn) x
           |  JOIN gl ON gl.gr = x.grank)
           |SELECT rk.doc_id, rk.source, rk.q AS quality, tb.q_norm
           |FROM rk JOIN tb
           |  ON tb.lv = (100 * rk.r + rk.m - 1) // rk.m
           |ORDER BY doc_id""".stripMargin,


      // the q27 session CTEs; +1 rows order before −1 at equal ts
      // (closed intervals), peak_at is the earliest max
      "q243_concurrency_peak" ->
        """WITH e AS (
          |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
          |flagged AS (
          |  SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
          |      THEN 1 ELSE 0 END AS new_session
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |sx AS (
          |  SELECT user_id, ts,
          |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS UNBOUNDED PRECEDING) AS session_id
          |  FROM flagged),
          |sess AS (SELECT MIN(ts) AS session_start, MAX(ts) AS session_end
          |  FROM sx GROUP BY user_id, session_id),
          |ev AS (SELECT session_start AS ts, 1 AS d FROM sess
          |  UNION ALL SELECT session_end, -1 FROM sess),
          |cum AS (SELECT ts, d, SUM(d) OVER (ORDER BY ts, d DESC
          |    ROWS UNBOUNDED PRECEDING) AS c FROM ev),
          |pk AS (SELECT CAST(max(c) AS BIGINT) AS peak_concurrent FROM cum),
          |pa AS (SELECT min(ts) AS peak_at FROM cum, pk
          |  WHERE c = peak_concurrent),
          |ns AS (SELECT count(*) AS n_sessions FROM sess)
          |SELECT n_sessions, peak_concurrent, peak_at
          |FROM ns, pk, pa""".stripMargin,


      // the q158 scored CTEs; ceil-rank deciles, HUGEINT window sums
      // cast back to BIGINT, lift = one exact-int double division
      "q244_lift_table" ->
        s"""$scoredMarginCtes,
           |tot AS (SELECT count(*) AS tn,
           |    CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END)
           |      AS BIGINT) AS tp
           |  FROM scored),
           |rk AS (SELECT doc_id, quality_pass,
           |    row_number() OVER (ORDER BY margin DESC, doc_id) AS r
           |  FROM scored),
           |bk AS (SELECT (10 * r + tn - 1) // tn AS bucket, quality_pass,
           |    tn, tp FROM rk, tot),
           |per AS (SELECT bucket, count(*) AS n,
           |    CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_pos,
           |    max(tn) AS tn, max(tp) AS tp
           |  FROM bk GROUP BY bucket),
           |cm AS (SELECT bucket, n, n_pos,
           |    CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
           |      AS BIGINT) AS cum_n,
           |    CAST(SUM(n_pos) OVER (ORDER BY bucket
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
           |    tn, tp FROM per)
           |SELECT bucket, n, n_pos, cum_n, cum_pos,
           |  CASE WHEN tp > 0 THEN CAST(cum_pos * tn AS DOUBLE)
           |    / (cum_n * tp) END AS cum_lift
           |FROM cm ORDER BY bucket""".stripMargin,


      // q11's chunk replay scored by query-term token counts; doc score
      // best + 0.2·(sum − best); arg-best chunk via a per-doc window
      "q245_passage_agg" ->
        """WITH ch AS (SELECT doc_id,
          |    CAST(doc_id AS VARCHAR) || '_' || CAST(s // 150 AS VARCHAR)
          |      AS chunk_id,
          |    substring(text, CAST(s AS INT) + 1, 200) AS chunk
          |  FROM documents, unnest(range(0, length(text), 150)) AS t(s)),
          |sc AS (SELECT doc_id, chunk_id,
          |    CAST(len(list_filter(
          |      list_filter(regexp_split_to_array(lower(chunk), '\s+'),
          |        x -> x <> ''),
          |      x -> x IN ('spark', 'join', 'merge'))) AS BIGINT) AS score
          |  FROM ch),
          |pos AS (SELECT * FROM sc WHERE score > 0),
          |rk AS (SELECT doc_id, chunk_id, score, row_number()
          |    OVER (PARTITION BY doc_id ORDER BY score DESC, chunk_id)
          |      AS rn
          |  FROM pos),
          |ag AS (SELECT doc_id, count(*) AS n_chunks,
          |    CAST(max(score) AS BIGINT) AS best_score,
          |    CAST(SUM(score) AS BIGINT) AS total_score
          |  FROM pos GROUP BY doc_id),
          |j AS (SELECT ag.doc_id, ag.n_chunks, ag.best_score,
          |    ag.total_score, rk.chunk_id AS best_chunk_id,
          |    CAST(ag.best_score AS DOUBLE) +
          |      0.2 * CAST(ag.total_score - ag.best_score AS DOUBLE)
          |      AS doc_score
          |  FROM ag JOIN rk ON ag.doc_id = rk.doc_id AND rk.rn = 1)
          |SELECT doc_id, n_chunks, best_score, total_score, best_chunk_id,
          |  doc_score
          |FROM j ORDER BY doc_score DESC, doc_id LIMIT 10""".stripMargin,


      // the q226 hash-arm chain over per-user (pre views, post cents);
      // θ and x̄ from one exact-sum row, identical adjustment trees
      "q246_cuped" ->
        """WITH uu AS (SELECT DISTINCT user_id FROM events),
          |px AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
          |  FROM events WHERE event_type = 'view'
          |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20'
          |  GROUP BY user_id),
          |py AS (SELECT user_id,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
          |  FROM events WHERE event_type = 'purchase'
          |    AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-20'
          |  GROUP BY user_id),
          |base AS (SELECT uu.user_id, coalesce(x, 0) AS x,
          |    coalesce(y, 0) AS y
          |  FROM uu LEFT JOIN px USING (user_id)
          |    LEFT JOIN py USING (user_id)),
          |h0 AS (SELECT x, y, (user_id * 1000003) % 2147483647 AS h
          |  FROM base),
          |h1 AS (SELECT x, y, (xor(h, h >> 16) * 73244475) % 2147483647
          |    AS h FROM h0),
          |h2 AS (SELECT x, y, (xor(h, h >> 13) * 73244475) % 2147483647
          |    AS h FROM h1),
          |arm AS (SELECT x, y, h % 2 = 0 AS arm FROM h2),
          |g AS (SELECT count(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
          |    CAST(SUM(y) AS BIGINT) AS sy,
          |    CAST(SUM(x * x) AS BIGINT) AS sxx,
          |    CAST(SUM(x * y) AS BIGINT) AS sxy
          |  FROM arm),
          |th AS (SELECT CASE WHEN n * sxx - sx * sx <> 0
          |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
          |      / CAST(n * sxx - sx * sx AS DOUBLE) ELSE 0.0 END AS theta,
          |    CAST(sx AS DOUBLE) / n AS xbar
          |  FROM g),
          |adj AS (SELECT arm, y,
          |    CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar)
          |      AS y_adj, theta
          |  FROM arm, th)
          |SELECT arm, count(*) AS n_users,
          |  CAST(SUM(y) AS DOUBLE) / count(*) AS mean_raw,
          |  CAST(SUM(CAST(y_adj AS DECIMAL(38,18))) AS DOUBLE) / count(*)
          |    AS mean_adj,
          |  max(theta) AS theta
          |FROM adj GROUP BY arm ORDER BY arm""".stripMargin,


      // q98's CTE chain with ×2 title weights folded into tf and dl
      // before the one saturation pass
      "q247_bm25f" ->
        """WITH docs AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM documents),
          |fl AS (SELECT id, t[1:5] AS title, t[6:] AS body FROM docs),
          |dl AS (SELECT id,
          |    CAST(2 * len(title) + len(body) AS BIGINT) AS dl,
          |    title, body FROM fl),
          |stats AS (SELECT COUNT(*) AS n_docs,
          |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          |tfu AS (SELECT id, dl, term, 2 AS w FROM (
          |    SELECT id, dl, unnest(title) AS term FROM dl)
          |  WHERE term IN ('spark', 'join', 'vector', 'window')
          |  UNION ALL SELECT id, dl, term, 1 AS w FROM (
          |    SELECT id, dl, unnest(body) AS term FROM dl)
          |  WHERE term IN ('spark', 'join', 'vector', 'window')),
          |tf1 AS (SELECT id, dl, term, CAST(SUM(w) AS BIGINT) AS tf
          |  FROM tfu GROUP BY id, dl, term),
          |dfq AS (SELECT term, COUNT(*) AS term_df FROM tf1 GROUP BY term),
          |sc AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 *
          |        (1.0 - 0.75 + 0.75 * dl / avgdl))) AS contrib
          |  FROM tf1 JOIN dfq USING (term), stats)
          |SELECT id,
          |  round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6)
          |    AS score,
          |  count(*) AS n_matched
          |FROM sc GROUP BY id ORDER BY score DESC, id LIMIT 10""".stripMargin,


      // arrival order = event_id; runmax − ts vs each candidate delay
      "q248_lateness_audit" ->
        """WITH e AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP))
          |    AS ts_us FROM events),
          |lm AS (SELECT ts_us, max(ts_us) OVER (ORDER BY event_id
          |    ROWS UNBOUNDED PRECEDING) - ts_us AS late_us FROM e),
          |d AS (SELECT CAST(unnest([60000, 600000, 3600000]) AS BIGINT)
          |    AS delay_ms)
          |SELECT delay_ms, count(*) AS n_events,
          |  CAST(SUM(CASE WHEN late_us > delay_ms * 1000 THEN 1 ELSE 0
          |    END) AS BIGINT) AS n_dropped,
          |  CAST(SUM(CASE WHEN late_us > delay_ms * 1000 THEN 1 ELSE 0
          |    END) AS DOUBLE) / count(*) AS dropped_frac
          |FROM lm, d GROUP BY delay_ms ORDER BY delay_ms""".stripMargin,


      // the q26 fingerprint fold on the group key, the q226 keyHash
      // chain, then pure-BIGINT CDF threshold compares
      "q249_dp_counts" ->
        """WITH c AS (SELECT source, lang, count(*) AS n,
          |    source || '|' || lang AS gk
          |  FROM documents GROUP BY source, lang),
          |fp AS (SELECT source, lang, n,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(range(1, length(gk) + 1),
          |        i -> CAST(ord(substring(gk, CAST(i AS INT), 1))
          |          AS BIGINT))),
          |      (acc, ch) -> (acc * 31 + ch) % 1000000007) AS f
          |  FROM c),
          |h0 AS (SELECT source, lang, n, (f * 1000003) % 2147483647 AS h
          |  FROM fp),
          |h1 AS (SELECT source, lang, n,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT source, lang, n,
          |    (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |nz AS (SELECT source, lang, n, CAST(CASE
          |    WHEN h < 2803503 THEN -8 WHEN h < 8410510 THEN -7
          |    WHEN h < 19624524 THEN -6 WHEN h < 42052551 THEN -5
          |    WHEN h < 86908607 THEN -4 WHEN h < 176620717 THEN -3
          |    WHEN h < 356044938 THEN -2 WHEN h < 714893381 THEN -1
          |    WHEN h < 1432590265 THEN 0 WHEN h < 1791438708 THEN 1
          |    WHEN h < 1970862929 THEN 2 WHEN h < 2060575039 THEN 3
          |    WHEN h < 2105431095 THEN 4 WHEN h < 2127859122 THEN 5
          |    WHEN h < 2139073136 THEN 6 WHEN h < 2144680143 THEN 7
          |    ELSE 8 END AS BIGINT) AS noise
          |  FROM h2)
          |SELECT source, lang, n, noise,
          |  greatest(CAST(0 AS BIGINT), n + noise) AS noisy_n
          |FROM nz ORDER BY source, lang""".stripMargin,


      // rank by name, 3 offset equi-joins, exact levenshtein verify
      "q250_sorted_neighborhood" ->
        """WITH base AS (SELECT doc_id AS id, substring(text, 1, 40)
          |    AS name FROM documents
          |  UNION ALL SELECT doc_id + 1000000,
          |    substring(text, 1, 20) || substring(text, 23, 18)
          |  FROM documents WHERE doc_id % 5 = 0),
          |rk AS (SELECT id, name, row_number()
          |    OVER (ORDER BY name, id) AS r FROM base),
          |cand AS (SELECT a.id AS id_a, a.name AS name_a, b.id AS id_b,
          |    b.name AS name_b
          |  FROM rk a JOIN rk b ON b.r - a.r BETWEEN 1 AND 3)
          |SELECT id_a, id_b, name_a, name_b,
          |  CAST(levenshtein(name_a, name_b) AS INT) AS dist
          |FROM cand WHERE levenshtein(name_a, name_b) <= 3
          |ORDER BY id_a, id_b""".stripMargin,


      // suffix-sum at-risk counts; the survival product folds the SAME
      // ordered factor list (list_reduce over list(f ORDER BY u))
      "q251_kaplan_meier" ->
        """WITH per AS (SELECT user_id,
          |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
          |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
          |  FROM events GROUP BY user_id),
          |gm AS (SELECT max(t1) AS gm FROM per),
          |life AS (SELECT (t1 - t0) // 3600000000 AS t,
          |    t1 < gm - 43200000000 AS observed FROM per, gm),
          |pt AS (SELECT t, count(*) AS n_all,
          |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
          |      AS d
          |  FROM life GROUP BY t),
          |tt AS (SELECT CAST(SUM(n_all) AS BIGINT) AS N FROM pt),
          |ar AS (SELECT t, d, N - CAST(coalesce(SUM(n_all)
          |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
          |        AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
          |  FROM pt, tt),
          |st AS (SELECT t, n_at_risk, d AS n_events,
          |    CAST(n_at_risk - d AS DOUBLE) / n_at_risk AS f
          |  FROM ar WHERE d > 0)
          |SELECT a.t, a.n_at_risk, a.n_events,
          |  list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
          |    list(CAST(b.f AS DOUBLE) ORDER BY b.t)), (x, y) -> x * y)
          |    AS survival
          |FROM st a JOIN st b ON b.t <= a.t
          |GROUP BY a.t, a.n_at_risk, a.n_events
          |ORDER BY a.t""".stripMargin,


      // scaled CUSUM: T·cum − t·total, all BIGINT; ties all flagged
      "q252_cusum" ->
        """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
          |  FROM events GROUP BY 1),
          |tt AS (SELECT count(*) AS T, CAST(SUM(n_events) AS BIGINT) AS S
          |  FROM d),
          |c AS (SELECT day, n_events,
          |    CAST(T * SUM(n_events) OVER (ORDER BY day
          |        ROWS UNBOUNDED PRECEDING)
          |      - row_number() OVER (ORDER BY day) * S AS BIGINT) AS cusum
          |  FROM d, tt),
          |m AS (SELECT max(abs(cusum)) AS mx FROM c)
          |SELECT strftime(day, '%Y-%m-%d') AS day, n_events, cusum,
          |  abs(cusum) = mx AS is_peak
          |FROM c, m ORDER BY day""".stripMargin,


      // 7 date-shifted self-joins of the daily frame into the q111
      // exact-decimal Pearson
      "q253_lagged_corr" ->
        """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
          |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS x,
          |    CAST(SUM(CASE WHEN event_type = 'purchase'
          |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          |      AS BIGINT) AS y
          |  FROM events GROUP BY 1),
          |lg AS (SELECT CAST(unnest([-3, -2, -1, 0, 1, 2, 3]) AS INT)
          |    AS lag),
          |pr AS (SELECT lag, a.x AS x, b.y AS y
          |  FROM lg, daily a JOIN daily b ON b.day = a.day + lag),
          |st AS (SELECT lag, COUNT(*) AS n,
          |    CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(y AS DECIMAL(24,6))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(x * x AS DECIMAL(24,6))) AS DOUBLE) AS sxx,
          |    CAST(SUM(CAST(y * y AS DECIMAL(24,6))) AS DOUBLE) AS syy,
          |    CAST(SUM(CAST(x * y AS DECIMAL(24,6))) AS DOUBLE) AS sxy
          |  FROM pr GROUP BY lag)
          |SELECT lag, n,
          |  round((n * sxy - sx * sy) /
          |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
          |    AS corr
          |FROM st ORDER BY lag""".stripMargin,


      // the q99 pseudo-line CTEs over the twinned corpus; winner =
      // row_number 1 over (line ORDER BY id, idx); reassembled text
      // pinned by the q26 fingerprint fold
      "q254_line_dedup" ->
        """WITH c AS (SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents
          |  WHERE doc_id % 3 = 0),
          |d AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
          |      AS toks
          |  FROM c),
          |l AS (SELECT doc_id,
          |    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    ELSE list_transform(
          |      range(0, CAST(floor((len(toks) - 1) / 12) AS BIGINT) + 1),
          |      i -> array_to_string(
          |        toks[CAST(i * 12 + 1 AS INT) : CAST(i * 12 + 12 AS INT)],
          |        ' '))
          |    END AS lines
          |  FROM d),
          |ex AS (SELECT doc_id AS id, i - 1 AS idx,
          |    lines[CAST(i AS INT)] AS line
          |  FROM l, unnest(range(1, len(lines) + 1)) AS r(i)),
          |wn AS (SELECT id, idx, line, row_number()
          |    OVER (PARTITION BY line ORDER BY id, idx) AS rn FROM ex),
          |per AS (SELECT id,
          |    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_kept,
          |    CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_dropped,
          |    coalesce(array_to_string(list(line ORDER BY idx)
          |      FILTER (rn = 1), ' '), '') AS nt
          |  FROM wn GROUP BY id)
          |SELECT id, n_kept, n_dropped,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT),
          |    list_transform(range(1, length(nt) + 1),
          |      i -> CAST(ord(substring(nt, CAST(i AS INT), 1)) AS BIGINT))),
          |    (acc, ch) -> (acc * 31 + ch) % 1000000007) AS new_fp
          |FROM per ORDER BY id""".stripMargin,


      // the q76 z-value fold; identical rank-cut files and 2-D zone-map
      // skip conditions for both layouts
      "q255_zorder_skipping" ->
        """WITH b AS (SELECT l_partkey % 1024 AS px, l_suppkey % 1024
          |    AS sy, l_orderkey, l_linenumber FROM lineitem),
          |lx AS (SELECT px, sy, (row_number() OVER (ORDER BY px, sy,
          |    l_orderkey, l_linenumber) - 1) // 200 AS f FROM b),
          |lf AS (SELECT f, min(px) AS xmn, max(px) AS xmx, min(sy)
          |    AS ymn, max(sy) AS ymx, count(*) AS nr FROM lx GROUP BY f),
          |zb AS (SELECT px, sy, l_orderkey, l_linenumber,
          |    list_sum(list_transform(range(0, 10),
          |      i -> (((px >> i) & 1) << (2*i)) +
          |        (((sy >> i) & 1) << (2*i+1)))) AS zv FROM b),
          |zx AS (SELECT px, sy, (row_number() OVER (ORDER BY zv,
          |    l_orderkey, l_linenumber) - 1) // 200 AS f FROM zb),
          |zf AS (SELECT f, min(px) AS xmn, max(px) AS xmx, min(sy)
          |    AS ymn, max(sy) AS ymx, count(*) AS nr FROM zx GROUP BY f),
          |u AS (SELECT 'x_then_y' AS layout, xmn, xmx, ymn, ymx, nr
          |    FROM lf
          |  UNION ALL SELECT 'zorder', xmn, xmx, ymn, ymx, nr FROM zf),
          |sk AS (SELECT layout, nr,
          |    xmx < 100 OR xmn > 199 OR ymx < 300 OR ymn > 399 AS s
          |  FROM u)
          |SELECT layout, count(*) AS n_files,
          |  CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_skippable,
          |  CAST(SUM(CASE WHEN s THEN nr ELSE 0 END) AS BIGINT)
          |    AS rows_skipped,
          |  CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
          |    AS file_skip_frac
          |FROM sk GROUP BY layout ORDER BY layout""".stripMargin,


      // the q98 candidate CTE joined to the q17 cosine replay and the
      // q25 quality replay — one row per candidate with all features
      "q256_ltr_features" ->
        s"""WITH cand AS ($bm25OracleSql),
           |qvx AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id = 0),
           |dense AS (SELECT vec_id AS id,
           |    round(1.0 - list_cosine_similarity(
           |      CAST(embedding AS DOUBLE[]), qv), 6) AS cos_dist
           |  FROM embeddings, qvx),
           |pri AS (SELECT doc_id AS id, $qualitySql AS quality,
           |    CAST(length(text) AS INT) AS text_len FROM documents)
           |SELECT c.id AS doc_id, c.score AS bm25, c.n_matched,
           |  p.quality, p.text_len, d.cos_dist
           |FROM cand c JOIN pri p USING (id)
           |  LEFT JOIN dense d USING (id)
           |ORDER BY bm25 DESC, doc_id""".stripMargin,


      // identical two-window split; argmax via row_number over
      // (cnt DESC, cand); unseen prev states predict '' and miss
      "q257_nextevent_eval" ->
        """WITH e AS (SELECT user_id, event_id, event_type,
          |    CAST(ts AS TIMESTAMP) AS ts FROM events),
          |sq AS (SELECT user_id, event_type,
          |    lead(event_type) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id) AS nxt,
          |    row_number() OVER (PARTITION BY user_id
          |      ORDER BY ts DESC, event_id DESC) AS rnd
          |  FROM e),
          |pr AS (SELECT user_id, event_type, nxt, rnd FROM sq
          |  WHERE nxt IS NOT NULL),
          |held AS (SELECT user_id, event_type AS prev, nxt AS actual
          |  FROM pr WHERE rnd = 2),
          |tr AS (SELECT event_type AS prev, nxt AS cand, count(*) AS cnt
          |  FROM pr WHERE rnd <> 2 GROUP BY 1, 2),
          |cd AS (SELECT h.user_id, h.actual,
          |    coalesce(t.cand, '') AS cand, coalesce(t.cnt, 0) AS cnt
          |  FROM held h LEFT JOIN tr t ON h.prev = t.prev),
          |pk AS (SELECT user_id, actual, cand, row_number()
          |    OVER (PARTITION BY user_id, actual
          |      ORDER BY cnt DESC, cand) AS rn
          |  FROM cd)
          |SELECT count(*) AS n_users,
          |  CAST(SUM(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_correct,
          |  CAST(SUM(CASE WHEN cand = actual THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*) AS accuracy
          |FROM pk WHERE rn = 1""".stripMargin,


      // policy = argmax mean train cents per ctx (row_number over
      // mean DESC, act); IPS = K·matched-cents / n_eval, exact ints
      "q258_policy_replay" ->
        """WITH e AS (SELECT user_id % 4 AS ctx, event_type AS act,
          |    coalesce(CAST(round(value * 100) AS BIGINT), 0) AS r,
          |    CAST(ts AS TIMESTAMP) AS ts
          |  FROM events),
          |tr AS (SELECT * FROM e WHERE ts < TIMESTAMP '2024-01-20'),
          |ev AS (SELECT * FROM e WHERE ts >= TIMESTAMP '2024-01-20'),
          |mn AS (SELECT ctx, act, CAST(SUM(r) AS DOUBLE) / count(*)
          |    AS m FROM tr GROUP BY ctx, act),
          |pol AS (SELECT ctx, act AS pi FROM (
          |    SELECT ctx, act, row_number() OVER (PARTITION BY ctx
          |      ORDER BY m DESC, act) AS rn FROM mn) WHERE rn = 1),
          |kk AS (SELECT count(DISTINCT act) AS K FROM tr)
          |SELECT ev.ctx, pol.pi, count(*) AS n_eval,
          |  CAST(SUM(CASE WHEN ev.act = pol.pi THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_matched,
          |  CAST(SUM(CASE WHEN ev.act = pol.pi THEN r ELSE 0 END)
          |    AS BIGINT) AS matched_cents,
          |  CAST(max(K) * SUM(CASE WHEN ev.act = pol.pi THEN r ELSE 0 END)
          |    AS DOUBLE) / count(*) AS ips_value
          |FROM ev JOIN pol ON ev.ctx = pol.ctx, kk
          |GROUP BY ev.ctx, pol.pi ORDER BY ev.ctx""".stripMargin,


      // per-row norms as the SAME left fold (list_reduce), means in
      // decimal
      "q259_embedding_qa" ->
        """WITH n AS (SELECT label,
          |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
          |      (a, b) -> a + b)) AS nrm
          |  FROM embeddings)
          |SELECT label, count(*) AS n_vectors,
          |  CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_zero,
          |  round(min(nrm), 6) AS min_norm,
          |  round(max(nrm), 6) AS max_norm,
          |  round(CAST(SUM(CAST(nrm AS DECIMAL(38,18))) AS DOUBLE)
          |    / count(*), 6) AS mean_norm
          |FROM n GROUP BY label ORDER BY label""".stripMargin,


      // identical (Sxx − Sx·Sx/n)/n parenthesization on decimal-exact
      // sums
      "q260_dim_variance" ->
        """WITH d AS (SELECT CAST(i - 1 AS INT) AS dim,
          |    CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) AS x
          |  FROM embeddings e,
          |    unnest(range(1, len(e.embedding) + 1)) AS r(i))
          |SELECT dim, count(*) AS n,
          |  round(CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
          |    / count(*), 6) AS mean,
          |  round((CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE)
          |    - CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
          |      * CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE)
          |      / count(*)) / count(*), 6) AS variance
          |FROM d GROUP BY dim ORDER BY dim""".stripMargin,


      // identical lower-rank selection: value at rank
      // greatest(1, (p·n)//100) of the ascending gap order
      "q261_gap_percentiles" ->
        """WITH e AS (SELECT user_id, event_id,
          |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
          |g AS (SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id
          |    ORDER BY ts_us, event_id) AS gap_us FROM e),
          |gg AS (SELECT gap_us FROM g WHERE gap_us IS NOT NULL),
          |nn AS (SELECT count(*) AS n FROM gg),
          |rk AS (SELECT gap_us, row_number() OVER (ORDER BY gap_us) AS r
          |  FROM gg),
          |pp AS (SELECT CAST(unnest([50, 90, 99]) AS INT) AS pct)
          |SELECT pct, gap_us, n AS n_gaps
          |FROM pp CROSS JOIN nn JOIN rk
          |  ON rk.r = greatest(1, (pct * n) // 100)
          |ORDER BY pct""".stripMargin,


      // month-truncated starts/closes, strict-prior cumsums
      "q262_backlog_curve" ->
        """WITH iv AS (SELECT o.o_orderkey,
          |    date_trunc('month', CAST(o.o_orderdate AS DATE)) AS sm,
          |    date_trunc('month', CAST(c.close_d AS DATE)) AS cm
          |  FROM orders o JOIN (SELECT l_orderkey,
          |      max(CAST(l_shipdate AS DATE)) AS close_d
          |    FROM lineitem GROUP BY l_orderkey) c
          |    ON o.o_orderkey = c.l_orderkey),
          |s AS (SELECT sm AS m, count(*) AS n_started FROM iv GROUP BY sm),
          |c AS (SELECT cm AS m, count(*) AS n_closed FROM iv GROUP BY cm),
          |mm AS (SELECT m FROM s UNION SELECT m FROM c),
          |j AS (SELECT mm.m, coalesce(n_started, 0) AS n_started,
          |    coalesce(n_closed, 0) AS n_closed
          |  FROM mm LEFT JOIN s USING (m) LEFT JOIN c USING (m))
          |SELECT strftime(m, '%Y-%m') AS month,
          |  CAST(n_started AS BIGINT) AS n_started,
          |  CAST(n_closed AS BIGINT) AS n_closed,
          |  CAST(coalesce(SUM(n_started) OVER (ORDER BY m
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    - coalesce(SUM(n_closed) OVER (ORDER BY m
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) AS open_at_month_start
          |FROM j ORDER BY month""".stripMargin,


      // revenue-ranked cumsum, integer threshold compares
      "q263_abc_classes" ->
        """WITH rev AS (SELECT l_partkey,
          |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
          |      AS BIGINT) AS cents
          |  FROM lineitem GROUP BY l_partkey),
          |tt AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM rev),
          |cm AS (SELECT cents, CAST(SUM(cents) OVER (ORDER BY cents DESC,
          |      l_partkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |    tot
          |  FROM rev, tt),
          |cl AS (SELECT cents, tot, CASE
          |    WHEN cum * 100 <= tot * 80 THEN 'A'
          |    WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS cls
          |  FROM cm)
          |SELECT cls, count(*) AS n_parts,
          |  CAST(SUM(cents) AS BIGINT) AS revenue_cents,
          |  CAST(SUM(cents) AS DOUBLE) / max(tot) AS revenue_share
          |FROM cl GROUP BY cls ORDER BY cls""".stripMargin,


      // the q107 week arithmetic; per-cohort integer cumsum
      "q264_cohort_ltv" ->
        """WITH e AS (SELECT user_id, event_type, value,
          |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |      - DATE '1970-01-01') // 7 AS INT) AS wk
          |  FROM events),
          |ch AS (SELECT user_id, min(wk) AS cohort_week FROM e
          |  GROUP BY user_id),
          |rv AS (SELECT cohort_week, wk - cohort_week AS week_offset,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM e JOIN ch USING (user_id)
          |  WHERE event_type = 'purchase'
          |  GROUP BY cohort_week, wk - cohort_week)
          |SELECT cohort_week, week_offset, cents,
          |  CAST(SUM(cents) OVER (PARTITION BY cohort_week
          |    ORDER BY week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
          |    AS cum_cents
          |FROM rv ORDER BY cohort_week, week_offset""".stripMargin,


      // same-user same-dollar within 24 h of the previous occurrence
      "q265_dup_payments" ->
        """WITH p AS (SELECT user_id, event_id,
          |    CAST(round(value * 100) AS BIGINT) // 100 AS dollars,
          |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu
          |  FROM events WHERE event_type = 'purchase'),
          |l AS (SELECT user_id, event_id, dollars,
          |    tu - lag(tu) OVER (PARTITION BY user_id, dollars
          |      ORDER BY tu, event_id) AS gap_us
          |  FROM p)
          |SELECT user_id, event_id, dollars, gap_us
          |FROM l WHERE gap_us IS NOT NULL AND gap_us <= 86400000000
          |ORDER BY user_id, event_id""".stripMargin,


      // three ceil-rank quintile codes over purchasing users
      "q266_rfm_segments" ->
        """WITH p AS (SELECT user_id,
          |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu,
          |    CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events WHERE event_type = 'purchase'),
          |per AS (SELECT user_id, max(tu) AS last_tu, count(*) AS freq,
          |    CAST(SUM(cents) AS BIGINT) AS monetary
          |  FROM p GROUP BY user_id),
          |nn AS (SELECT count(*) AS n FROM per),
          |cd AS (SELECT monetary,
          |    (5 * row_number() OVER (ORDER BY last_tu, user_id)
          |      + n - 1) // n AS r_code,
          |    (5 * row_number() OVER (ORDER BY freq, user_id)
          |      + n - 1) // n AS f_code,
          |    (5 * row_number() OVER (ORDER BY monetary, user_id)
          |      + n - 1) // n AS m_code
          |  FROM per, nn)
          |SELECT r_code, f_code, m_code, count(*) AS n_users,
          |  CAST(SUM(monetary) AS BIGINT) AS cents,
          |  CAST(SUM(monetary) AS DOUBLE) / count(*) AS mean_cents
          |FROM cd GROUP BY r_code, f_code, m_code
          |ORDER BY r_code, f_code, m_code""".stripMargin,


      // per-priority exact lower-rank p50/p90 of orderdate → last ship
      "q267_cycle_time" ->
        """WITH ls AS (SELECT l_orderkey,
          |    max(CAST(l_shipdate AS DATE)) AS last_ship
          |  FROM lineitem GROUP BY l_orderkey),
          |cy AS (SELECT o.o_orderpriority AS priority, o.o_orderkey,
          |    date_diff('day', CAST(o.o_orderdate AS DATE), last_ship)
          |      AS cycle_days
          |  FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey),
          |rk AS (SELECT priority, cycle_days,
          |    row_number() OVER (PARTITION BY priority
          |      ORDER BY cycle_days, o_orderkey) AS r,
          |    count(*) OVER (PARTITION BY priority) AS n
          |  FROM cy),
          |pp AS (SELECT CAST(unnest([50, 90]) AS INT) AS pct)
          |SELECT priority, pct, CAST(cycle_days AS INT) AS cycle_days,
          |  n AS n_orders
          |FROM pp CROSS JOIN rk
          |WHERE rk.r = greatest(1, (pct * n) // 100)
          |ORDER BY priority, pct""".stripMargin,


      // isodow ≡ Spark weekday+1 (Monday 1 .. Sunday 7)
      "q268_dow_seasonality" ->
        """WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n
          |  FROM events GROUP BY 1),
          |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, count(*) AS td
          |  FROM d)
          |SELECT CAST(isodow(day) AS INT) AS dow,
          |  CAST(SUM(n) AS BIGINT) AS n_events, count(*) AS n_days,
          |  CAST(SUM(n) * td AS DOUBLE) / (tn * count(*)) AS index
          |FROM d, t GROUP BY isodow(day), tn, td
          |ORDER BY dow""".stripMargin,


      // distinct (user, day, type) baskets; lift = n_ab·N/(n_a·n_b)
      "q269_basket_lift" ->
        """WITH bk AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
          |    event_type FROM events),
          |nb AS (SELECT count(*) AS N FROM (
          |    SELECT DISTINCT user_id, day FROM bk)),
          |s1 AS (SELECT event_type, count(*) AS n_one FROM bk
          |  GROUP BY event_type),
          |pr AS (SELECT x.event_type AS a, y.event_type AS b,
          |    count(*) AS n_both
          |  FROM bk x JOIN bk y ON x.user_id = y.user_id
          |    AND x.day = y.day AND x.event_type < y.event_type
          |  GROUP BY 1, 2)
          |SELECT a, b, CAST(n_both AS BIGINT) AS n_both,
          |  CAST(n_both * N AS DOUBLE) / (sa.n_one * sb.n_one) AS lift
          |FROM pr JOIN s1 sa ON pr.a = sa.event_type
          |  JOIN s1 sb ON pr.b = sb.event_type, nb
          |ORDER BY a, b""".stripMargin,


      // identical sqrt/division tree on exact gap sums
      "q270_order_regularity" ->
        """WITH o AS (SELECT o_custkey, o_orderkey,
          |    CAST(o_orderdate AS DATE) AS d FROM orders),
          |g AS (SELECT o_custkey,
          |    date_diff('day', lag(d) OVER (PARTITION BY o_custkey
          |      ORDER BY d, o_orderkey), d) AS gap
          |  FROM o),
          |gg AS (SELECT o_custkey, CAST(gap AS BIGINT) AS gap FROM g
          |  WHERE gap IS NOT NULL),
          |ag AS (SELECT o_custkey, count(*) AS n_gaps,
          |    CAST(SUM(gap) AS BIGINT) AS sx,
          |    CAST(SUM(gap * gap) AS BIGINT) AS sxx
          |  FROM gg GROUP BY o_custkey)
          |SELECT o_custkey, n_gaps,
          |  round(CAST(sx AS DOUBLE) / n_gaps, 6) AS mean_gap,
          |  round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
          |      * CAST(sx AS DOUBLE) / n_gaps) / n_gaps)
          |    / (CAST(sx AS DOUBLE) / n_gaps), 6) AS cv
          |FROM ag WHERE n_gaps >= 4
          |ORDER BY cv, o_custkey LIMIT 20""".stripMargin,


      // the q111 exact-decimal Pearson over lineitem ⋈ part brands
      "q271_discount_elasticity" ->
        """WITH j AS (SELECT p.p_brand, l.l_discount AS x,
          |    l.l_quantity AS y
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
          |st AS (SELECT p_brand, COUNT(*) AS n,
          |    CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(y AS DECIMAL(24,6))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(x * x AS DECIMAL(24,6))) AS DOUBLE) AS sxx,
          |    CAST(SUM(CAST(y * y AS DECIMAL(24,6))) AS DOUBLE) AS syy,
          |    CAST(SUM(CAST(x * y AS DECIMAL(24,6))) AS DOUBLE) AS sxy
          |  FROM j GROUP BY p_brand)
          |SELECT p_brand, n,
          |  round((n * sxy - sx * sy) /
          |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
          |    AS corr
          |FROM st ORDER BY p_brand""".stripMargin,


      // two weekly captures, N̂ = n1·n2/m
      "q272_capture_recapture" ->
        """WITH e AS (SELECT user_id,
          |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |      - DATE '1970-01-01') // 7 AS INT) AS wk FROM events),
          |w0 AS (SELECT min(wk) AS w0 FROM e),
          |s1 AS (SELECT DISTINCT user_id FROM e, w0 WHERE wk = w0),
          |s2 AS (SELECT DISTINCT user_id FROM e, w0 WHERE wk = w0 + 1),
          |c1 AS (SELECT count(*) AS n1 FROM s1),
          |c2 AS (SELECT count(*) AS n2 FROM s2),
          |cm AS (SELECT count(*) AS m FROM s1 JOIN s2 USING (user_id))
          |SELECT n1, n2, m, CASE WHEN m > 0
          |  THEN CAST(n1 * n2 AS DOUBLE) / m END AS n_hat
          |FROM c1, c2, cm""".stripMargin
  )
}
