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

/** Query builders + DuckDB oracles q478-q509, split verbatim from
  * SparkEntry (see its scaladoc for the oracle-parity contract; NOTES.md
  * for the hash/decimal replay rules). */
private[graft] object Queries478to509 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    "q478_texttiling" -> ((s, dir) =>
      // Hearst block-comparison segmentation readout: per doc the
      // 30-token-block boundary Dice similarities, cuts below 0.15 —
      // the semantic chunker between fixed windows (q11) and CDC
      // (q333); only docs long enough to have >= 2 blocks appear
      Chunker.textTilingBoundaries(tbl(s, dir, "documents"), "doc_id",
          "text", blockTokens = 30, tau = 0.15)
        .orderBy("doc_id")),


    "q479_matrix_profile" -> ((s, dir) =>
      // repeated-shape mining on the hourly event series: top-10
      // non-overlapping 24h window pairs by exact integer distance² —
      // recurring daily traffic patterns without any normalization
      Stats.matrixProfileMotifs(
        events(s, dir).groupBy(
            expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("n")),
        "hr", "n", m = 24, k = 10)),


    "q480_boosted_stumps" -> ((s, dir) =>
      // two L2 boosting rounds from sufficient statistics only:
      // quantity-split then discount-split-on-residuals over lineitem
      // revenue DOLLARS (cents would push Σy² past 2^53, where DuckDB's
      // int128→double conversion stops being correctly rounded) — split
      // argmax and leaf values replay exactly, per-row residuals never
      // materialize
      Stats.boostedStumps(
        tbl(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          expr("cast(round(l_discount * 100) as bigint)").as("disc"),
          expr("cast(round(l_extendedprice) as bigint)").as("usd")),
        "qty", "disc", "usd")),


    "q481_lsh_planner" -> ((s, dir) =>
      // design-time minhash planner: the analytic S-curve 1−(1−s^r)^b
      // integrated against τ=0.8 — fp_area is verifier join volume,
      // fn_area lost recall; power-of-two (b,r) so the curve replays by
      // repeated squaring, no pow()/libm (companion of q143/q468)
      operators.Dedup.lshPlanner(s,
        Seq((16, 2), (64, 2), (4, 4), (8, 4), (16, 4), (32, 4), (64, 4),
          (8, 8), (16, 8), (32, 8), (4, 16), (8, 16)),
        tau = 0.8)),


    "q482_selectivity_audit" -> ((s, dir) =>
      // base-table selectivity q-error: equi-width histogram +
      // uniform-within-bin estimate vs exact count for a grid of
      // `o_totalprice <= t` predicates — the other half of q426's
      // join-cardinality audit
      Profiling.selectivityAudit(
        tbl(s, dir, "orders")
          .select(expr("cast(round(o_totalprice * 100) as bigint)")
            .as("cents")),
        "cents", binWidth = 3000000L, nBins = 20,
        thresholds = (1 to 10).map(_ * 5000000L))),


    "q483_coherent_sample" -> ((s, dir) =>
      // hash-coherent 20% sampling on the JOIN KEY of customer⋈orders:
      // sample-join = join-sample by construction, HT scale-up ×5 is
      // exact-rational — how dev pipelines shrink 100 TB without
      // destroying referential structure
      Sampling.coherentSampleAudit(
        tbl(s, dir, "customer"), "c_custkey",
        tbl(s, dir, "orders"), "o_custkey",
        modulus = 10, keep = 2)),


    "q484_hierarchical_forecast" -> ((s, dir) => {
      // median forecasts don't add: per region the direct median of
      // weekly order totals vs the sum of per-nation medians (last 5
      // weeks, zero-filled grid) — the coherence gap a reconciliation
      // step must distribute; exact order statistics throughout
      val o = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"),
          expr("cast(datediff(cast(o_orderdate as date), " +
            "date'1970-01-01') div 7 as bigint)").as("wk"),
          lit(1L).as("one"))
      Stats.hierarchicalMedianForecast(o, "r_name", "n_name", "wk",
        "one", window = 5).orderBy("r_name")
    }),


    "q485_bitmap_index" -> ((s, dir) =>
      // bitmap-index algebra on real data: per (returnflag, linestatus)
      // the AND/OR cardinalities from 32-bit word popcounts vs the
      // direct count — the word-wise pushdown arithmetic that replaces
      // a second scan under multi-predicate filters
      DataLayout.bitmapIndexAudit(
        tbl(s, dir, "lineitem").select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("rid"),
          col("l_returnflag"), col("l_linestatus")),
        "rid", "l_returnflag", "l_linestatus")),


    "q486_huber_mean" -> ((s, dir) =>
      // robust order-value center per priority: 3 IRLS rounds of the
      // Huber ψ-clip from the mean — `shift` says how far the tail
      // drags the plain mean; weights branch (never divide by a
      // possible zero), sums decimal-accumulate
      Stats.huberMean(
        tbl(s, dir, "orders").select(col("o_orderpriority"),
          expr("cast(round(o_totalprice) as bigint)").as("usd")),
        "o_orderpriority", "usd", c = 50000L, iters = 3)
        .orderBy("o_orderpriority")),


    "q487_borda_fusion" -> ((s, dir) => {
      // positional-vote fusion of three document rankings (length,
      // vocabulary size, 'data' term count) — the linear-weight
      // alternative to RRF (q109) for mid-list-sensitive selection;
      // ranks deterministic under ties, points = 100000 − rank
      val toks = tbl(s, dir, "documents").select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")
          .as("tk"))
      operators.Retrieval.bordaFusion(Seq(
        "len" -> toks.select(col("doc_id"), size(col("tk")).as("s")),
        "vocab" -> toks.select(col("doc_id"),
          size(array_distinct(col("tk"))).as("s")),
        "tf_data" -> toks.select(col("doc_id"),
          size(filter(col("tk"), t => t === "data")).as("s"))),
        "doc_id", "s", universe = 100000L, topK = 20)
    }),


    "q488_lru_stack_distance" -> ((s, dir) =>
      // Mattson stack distances over each customer's part-access
      // sequence: one pass of exact distinct-interval distances yields
      // the whole LRU hit-rate-vs-capacity curve — no per-capacity
      // simulation; the distinct-count is a banded per-customer join
      DataLayout.lruStackDistance(
        tbl(s, dir, "lineitem")
          .join(tbl(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"), col("o_orderdate"),
            col("o_orderkey"), col("l_linenumber"), col("l_partkey")),
        "o_custkey",
        Seq("o_orderdate", "o_orderkey", "l_linenumber", "l_partkey"),
        "l_partkey", capacities = Seq(1, 2, 4, 8, 16))),


    "q489_merkle_diff" -> ((s, dir) => {
      // anti-entropy as a query: snapshot B = lineitem with every
      // 97th order's quantities bumped; the 256-leaf/16-mid Merkle
      // tree names the subtrees and leaves to re-sync — rows_to_sync
      // vs the table is the "ship a few leaves, not 100 TB" number
      val a = tbl(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_quantity").cast("long").as("qty"),
        col("l_returnflag"))
      val b = a.withColumn("qty",
        when(pmod(col("l_orderkey"), lit(97L)) === 0, col("qty") + 1)
          .otherwise(col("qty")))
      Profiling.merkleDiff(a, b, Seq("l_orderkey", "l_linenumber"),
        Seq("qty", "l_returnflag"), leaves = 256, fanIn = 16)
    }),


    "q490_partition_advisor" -> ((s, dir) =>
      // shuffle.partitions sizing from MEASURED bytes: per candidate
      // count the actual max-partition bytes under the replayable key
      // hash (skew_ratio explains failures a row-count model misses);
      // budget 1 MiB at this SF stands in for executor memory at 100 TB
      DataLayout.partitionAdvisor(
        tbl(s, dir, "lineitem"),
        "l_orderkey",
        rowBytes = lit(8L * 8) + octet_length(col("l_returnflag")) +
          octet_length(col("l_linestatus")),
        candidates = Seq(4, 8, 16, 32, 64, 128),
        budgetBytes = 1L << 20)),


    "q491_aqp_audit" -> ((s, dir) =>
      // certify the 20% hash sample before serving dashboards from it:
      // per priority the sampled mean ± 1.96·se vs the full-scan truth
      // in ONE pass (conditional aggregates) — the AQP error-model
      // evidence table
      Sampling.aqpAudit(
        tbl(s, dir, "orders").select(col("o_orderpriority"),
          col("o_orderkey"),
          expr("cast(round(o_totalprice) as bigint)").as("usd")),
        "o_orderpriority", "o_orderkey", "usd",
        modulus = 10, keep = 2)
        .orderBy("o_orderpriority")),


    "q492_fs_em" -> ((s, dir) => {
      // Splink-style EM over agreement patterns: blocked customer pairs
      // collapse to ≤8 pattern counts, 3 EM rounds learn (π, m_k, u_k)
      // at zero extra corpus cost — the learned upgrade of q337's
      // assumed-m Fellegi-Sunter
      val c = tbl(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"),
        expr("right(c_name, 1)").as("name_tail"),
        (col("c_acctbal") < 0).as("neg_bal"),
        col("c_mktsegment"))
      operators.Linkage.fellegiSunterEm(c, "c_custkey", "c_nationkey",
        Seq("name_tail", "neg_bal", "c_mktsegment"), iters = 3)
    }),


    "q493_auc_bootstrap" -> ((s, dir) =>
      // error bars for AUC: 16 deterministic Poisson replicas reweight
      // the rank-sum statistic (score levels explode, never the
      // corpus); rep −1 is the unweighted point estimate — does doc
      // length separate English from the rest, and how surely?
      operators.Evaluation.aucBootstrap(
        tbl(s, dir, "documents").select(col("doc_id"),
          col("n_chars"), (col("lang") === "en").as("is_en")),
        "doc_id", "n_chars", "is_en", reps = 16)),


    "q494_binning_mse" -> ((s, dir) =>
      // which 16-bin histogram represents order values better: fixed
      // edges or quantile edges? quantization MSE from sufficient
      // statistics only (tens-of-dollars units keep Σv² < 2^53, the
      // int→double parity bound)
      DataLayout.binningMse(
        tbl(s, dir, "orders").select(col("o_orderkey"),
          expr("cast(round(o_totalprice) as bigint) div 10").as("v10")),
        "o_orderkey", "v10", bins = 16)),


    "q495_ldp_frequency" -> ((s, dir) =>
      // k-ary randomized response over event types at p = 3/4: the
      // collector's observed counts, the unbiased debias, and the
      // privacy-utility rel_err per category — tail categories pay most
      Governance.ldpFrequency(events(s, dir), "event_id", "event_type",
        Seq("click", "error", "purchase", "signup", "view"),
        pNum = 3, pDen = 4)),


    "q496_dawid_skene" -> ((s, dir) => {
      // three deterministic noisy raters (90% / 70% / 60% accurate) over
      // {en, other, zh}; Dawid-Skene EM recovers each rater's confusion
      // matrix and the class priors WITHOUT the ground truth, reported
      // next to the empirically-true confusion
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("lang").isin("en", "zh"), col("lang")).otherwise("other")
          .as("cls"))
      val wide = Annotation.synthAnnotations(docs, "doc_id", "cls",
        Seq("en", "other", "zh"), AnnotatorPanel)
      Annotation.dawidSkene(wide, 3, Seq("en", "other", "zh"), iters = 2)
    }),


    "q497_agreement" -> ((s, dir) => {
      // same rater panel: Krippendorff's alpha (nominal), Fleiss' kappa,
      // pairwise agreement — all from exact integer per-item counts
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("lang").isin("en", "zh"), col("lang")).otherwise("other")
          .as("cls"))
      val wide = Annotation.synthAnnotations(docs, "doc_id", "cls",
        Seq("en", "other", "zh"), AnnotatorPanel)
      Annotation.agreementMetrics(wide, 3, Seq("en", "other", "zh"))
    }),


    "q498_vopt_histogram" -> ((s, dir) =>
      // V-optimal histogram DP curve vs equal-width at each bucket
      // budget b = 1..6 over 48 base bins of order value (tens-of-dollar
      // units keep sum(v^2) inside the int->double parity bound)
      DataLayout.vOptimalCurve(
        tbl(s, dir, "orders").select(col("o_orderkey"),
          expr("cast(round(o_totalprice) as bigint) div 10").as("v10")),
        "o_orderkey", "v10", nBins = 48, maxB = 6)),


    "q499_littles_law" -> ((s, dir) =>
      // per-day lambda / W / L decomposition + peak concurrency over the
      // 30-min-gap sessions; little_gap isolates the midnight edge effect
      streaming.EventStreams.littlesLawAudit(
        streaming.EventStreams.sessionizeBatch(events(s, dir), 1800000L))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day")),


    "q500_join_order" -> ((s, dir) =>
      // every left-deep cross-product-free join order over the 5-table
      // chain region-nation-customer-orders-lineitem, costed with
      // MEASURED intermediate cardinalities (Selinger objective)
      Profiling.joinOrderAudit(
        Seq("region", "nation", "customer", "orders", "lineitem")
          .map(t => (t, tbl(s, dir, t))),
        Seq(("r_regionkey", "n_regionkey"), ("n_nationkey", "c_nationkey"),
          ("c_custkey", "o_custkey"), ("o_orderkey", "l_orderkey")))),


    "q501_pareto_skyline" -> ((s, dir) =>
      // per-brand price/size Pareto frontier of the part catalog —
      // level-collapse + window, no O(n²) dominance join
      Profiling.paretoSkyline2D(tbl(s, dir, "part"), "p_brand",
          col("p_size").cast("int"),
          expr("cast(round(p_retailprice * 100) as bigint)"))
        .select(col("p_brand"), col("gain").as("p_size"),
          col("min_cost").as("min_cents"))
        .orderBy("p_brand", "p_size")),


    "q502_cluster_quality" -> ((s, dir) => {
      // dedup-cluster quality vs ground truth: the q420 3-variant corpus
      // (truth group = doc_id mod 1e6), LSH pairs → connected components
      // (singletons kept as their own cluster), pair-counting
      // precision/recall/F1/Rand/ARI — all exact BIGINT pair counts
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
        .union(d.select(col("doc_id") + 2000000,
          expr("substring(text, 1, greatest(length(text) - 14, 1))")))
      val pairs = nearDupPairs(corpus)
      val cl = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      val assign = corpus.select("doc_id").join(cl, Seq("doc_id"), "left")
        .select((col("doc_id") % 1000000).as("truth"),
          coalesce(col("cluster_rep"), col("doc_id")).as("pred"))
      Evaluation.clusterPairMetrics(assign, "pred", "truth")
    }),


    "q503_set_cover" -> ((s, dir) => {
      // coverage-driven source selection: which sources greedily buy the
      // most TAIL capability — universe = the 200 rarest token bigrams
      // (the 31-type unigram vocab is flat across sources; bigrams are
      // where the tail lives, the q392 lesson), ≤6 greedy rounds
      // bigrams via the native graft_word_ngrams (r11): identical
      // strings/order to the transform(sequence(...)) lambda it
      // replaces (HashExpressionsSpec pins it) with the interpreted
      // per-element HOF cost gone from the corpus scan
      val bg = tbl(s, dir, "documents")
        .select(col("source"), explode(call_function(
          "graft_word_ngrams", col("text"), lit(2))).as("token"))
      // bounded aggregate state (r12, closing the r11 verdict's scale
      // caveat): no collect_set builds source ARRAYS for the common
      // bigrams the limit(200) then throws away (at corpus scale the
      // head of the distribution would accumulate ~every source per
      // token in an agg buffer — the query's OOM). ONE corpus pass
      // collapses to per-(token, source) COUNTS — fixed-width buffers,
      // never arrays — checkpointed once; the universe pick regroups it
      // and the membership frame is a semi-join of its keys against the
      // 200 winners (distinct by construction). Checkpoint size is
      // |distinct (bigram, source)| — the collapsed tail vocabulary, not
      // the corpus; at cluster scale this frame would persist to the
      // store instead of executor blocks (the Itemsets.tf note)
      val ts = bg.groupBy("token", "source").agg(count(lit(1)).as("_n"))
        .transform(Lineage.cut(_, "q503.ts"))
      val univ = ts.groupBy("token").agg(sum("_n").cast("long").as("c"))
        .orderBy(col("c").asc, col("token")).limit(200)
      val members = ts
        .join(broadcast(univ.select("token")), Seq("token"), "left_semi")
        .select(col("token"), col("source"))
      Sampling.greedySetCover(members,
          "source", "token", rounds = 6)
        .withColumnRenamed("set", "source")
        .withColumn("coverage", round(col("coverage"), 6))
        .orderBy("round")
    }),


    "q504_bellman_ford" -> ((s, dir) => {
      // weighted shortest paths on the q101 kNN graph (edge weight =
      // neighbor rank 1..3, read from the persisted GraphStore), 6
      // synchronous relaxation rounds from vec 0; exact integer costs —
      // the navigable-graph analog of the BFS suite
      GraphAnalytics.bellmanFord(storedKnnGraph(s, dir), "id", "nbr_id",
          "rank", sourceId = 0L, rounds = 6)
        .orderBy("min_cost", "node").limit(30)
    }),


    "q505_ridge_cv" -> ((s, dir) => {
      // 5-fold CV over the no-intercept price≈β·quantity ridge sweep:
      // folds from the replayable xorshift hash chain, y unit-scaled to
      // whole dollars so Σy² stays BIGINT (the q480 rule)
      val li = tbl(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        expr("cast(round(l_extendedprice) as bigint)").as("y"),
        (Sketches.keyHash(col("l_orderkey") * 8 + col("l_linenumber")) % 5)
          .cast("int").as("fold"))
      Stats.ridgeCv(li, col("x"), col("y"), col("fold"), nFolds = 5,
          lambdas = Seq(0L, 1000L, 100000L, 10000000L))
        .orderBy("lambda", "fold")
    }),


    "q506_hierarchical_entry" -> ((s, dir) => {
      // HNSW-complete stored-graph ANN: entry points come from a
      // centroid-level coarse graph (2-NN among the 8 codebook cells,
      // L2), greedy-descended from cell 0 toward the query, landing
      // cell + coarse neighbors contribute their MEDOIDS as entries,
      // then the q378 beam search runs from those entries over the
      // PERSISTED kNN store — every hop L2/cosine-exact, so the oracle
      // replays descent, medoids and beam bit-for-bit; the assignment
      // too serves from its standing store (both standing indexes in
      // one query — the full HNSW serving stack)
      val centroids = codebook(s, dir)
      val assigned = storedAssigned(s, dir)
      store.GraphStore.hierarchicalBeamSearch(s,
          storedKnnGraphPath(s, dir), nBuckets = 16, assigned,
          "embedding", "vec_id", centroids, "cid", "cv",
          queryId = 11L, startCid = 0, coarseK = 2, descentHops = 2,
          beam = 8, iters = 2, k = 5)
        .select(col("rank"), col("vec_id"),
          round(col("distance"), 6).as("distance"))
        .orderBy("rank")
    }),


    "q507_pipeline_guards" -> ((s, dir) => {
      // P10 + P11 oracle gate: the pipeline's untrusted-string surfaces —
      // identifier validation (SecureViews.isValidIdentifier, reference
      // deepsec/database.py:55-67), fenced-JSON table selection
      // (RagPipeline.validateTableSelection, vs_retriever.py:53-127) and
      // the rephrase guard (RagPipeline.guardRephrase, vs_rephrase.py:
      // 35-45) — driven by hostile inputs keyed off doc ids (SQL
      // injection string, digit-start name, $-name, unfenced garbage,
      // out-of-catalog tables, multi-line / blank rephrases); the oracle
      // re-derives every verdict independently with SQL regex machinery
      import s.implicits._
      val catalog = Seq("tab0", "tab1", "tab2")
      val ids = tbl(s, dir, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id").cast("long")).as[Long].collect().sorted.toSeq
      val rows = ids.map { id =>
        val ident = (id % 5) match {
          case 0 => s"tbl_$id"
          case 1 => s"${id}_tbl"
          case 2 => "drop table t; --"
          case 3 => s"_ok_$id"
          case _ => s"v$$$id"
        }
        val raw = (id % 4) match {
          case 0 => "```json\n[\"tab1\", \"zzz\"]\n```"
          case 1 => "```\n[\"tab2\", \"tab1\", \"tab0\", \"tab3\"]\n```"
          case 2 => "no json here"
          case _ => "[\"nope\"]"
        }
        val reph = (id % 3) match {
          case 0 => s"  better q $id  "
          case 1 => "line1\nline2"
          case _ => "   "
        }
        (id, ident, plans.SecureViews.isValidIdentifier(ident),
          pipeline.RagPipeline.validateTableSelection(raw, catalog)
            .mkString(","),
          pipeline.RagPipeline.guardRephrase(s"orig q $id", reph))
      }
      rows.toDF("doc_id", "ident", "ident_valid", "selected", "rephrased")
        .orderBy("doc_id")
    }),


    "q508_usage_apportion" -> ((s, dir) => {
      // A5 + A7 oracle gate: the DISTRIBUTED token-usage fold
      // (TokenUsage.foldDf — reference add_usage, runtime/common.py:
      // 150-160) over a per-document usage ledger, and divmod question
      // apportioning (Testbed.apportion, endpoints/testbed.py:242-246)
      // across the corpus's distinct sources — per-file quotas and the
      // folded totals all restated by the oracle from documents alone
      import s.implicits._
      val docs = tbl(s, dir, "documents")
      val folded = pipeline.RagPipeline.TokenUsage.foldDf(
        docs.select(col("n_chars").cast("long").as("prompt"),
          (col("doc_id") % 7).cast("long").as("completion")))
      val nFiles = docs.select("source").distinct().count().toInt
      testbed.Testbed.apportion(25, nFiles).zipWithIndex
        .map { case (q, i) => (i, q) }
        .toDF("file_idx", "quota")
        .withColumn("prompt_total", lit(folded.prompt))
        .withColumn("completion_total", lit(folded.completion))
        .withColumn("total_tokens", lit(folded.total))
        .orderBy("file_idx")
    }),


    "q509_route_matrix" -> ((s, dir) => {
      // the full route-resolution matrix (reference runtime/common.py:
      // 86-96) × grade outcomes (vs_grade.py contract: a "no" vote
      // empties the answer's docs) in ONE gated frame: LLM_ONLY,
      // VECSEARCH grade-pass, VECSEARCH grade-fail, NL2SQL, and COMBINED
      // under all three classifier labels — route strings, doc counts
      // and answer text restated by the oracle from embeddings+documents
      import pipeline.RagPipeline
      val e = tbl(s, dir, "embeddings")
      def storeOf(parity: Int) = e.filter(col("label") % 2 === parity)
        .select(col("vec_id").as("id"),
          concat(lit("vec-"), col("vec_id") % 50).as("text"),
          col("embedding"))
      val stores = Map("docs_even" -> storeOf(0), "docs_odd" -> storeOf(1))
      val vecMap = e.filter(col("vec_id").isin(3L, 7L))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val embedFn: pipeline.Embedder.EmbedFn = texts => texts.map { t =>
        vecMap("\\d+".r.findFirstIn(t).map(_.toLong).getOrElse(3L))
      }
      tbl(s, dir, "documents").createOrReplaceTempView("graft_docs_rm")
      val runSql: String => String = _ => {
        val n = plans.SelectOnly.executeCapped(s,
          "SELECT count(*) AS n FROM graft_docs_rm").head().getLong(0)
        s"docs=$n"
      }
      val baseSlots = RagPipeline.Slots(
        classify = q => if (q.startsWith("summarize")) "both"
                        else RagPipeline.Slots().classify(q))
      val qVec = "describe vec 3 design patterns"
      val cases = Seq(
        (0, false, false, false, true, "hello there"),
        (1, true, false, true, true, qVec),
        (2, true, false, true, false, qVec),
        (3, false, true, false, true, "how many documents total"),
        (4, true, true, false, true, "how many documents total"),
        (5, true, true, false, true, qVec),
        (6, true, true, false, true, "summarize vec 7 blend"))
      val rows = cases.map { case (cid, von, son, gon, gvote, q) =>
        val res = RagPipeline.execute(s, stores, q, Nil, embedFn, runSql,
          cfg = RagPipeline.Config(gradeEnabled = gon),
          slots = baseSlots.copy(grade = (_, _) => gvote),
          vecSearchEnabled = von, nl2sqlEnabled = son)
        (cid, von, son, gon, gvote, res.route.toString.toLowerCase,
          res.docs.count(), res.answer)
      }
      import s.implicits._
      rows.toDF("case_id", "vec_on", "sql_on", "grade_on", "grade_vote",
          "route", "n_docs", "answer")
        .withColumn("case_id", col("case_id").cast("int"))
        .orderBy("case_id")
    })
  )

  def oracleSql: Map[String, String] = Map(


      // adjacent 30-token-block multiset Dice per boundary; cuts below
      // 0.15; mean decimal-accumulated then display-rounded
      "q478_texttiling" ->
        """WITH toks AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text),
          |      '[^a-z0-9]+'), x -> x <> '') AS t
          |  FROM documents),
          |tok AS (SELECT id, t[j] AS term, (j - 1) // 30 AS blk
          |  FROM toks, unnest(range(1, len(t) + 1)) AS r(j)),
          |tf AS (SELECT id, blk, term, count(*) AS c
          |  FROM tok GROUP BY 1, 2, 3),
          |bt AS (SELECT id, blk, CAST(SUM(c) AS BIGINT) AS nt
          |  FROM tf GROUP BY 1, 2),
          |nb AS (SELECT id, count(*) AS n_blocks FROM bt GROUP BY 1),
          |inter AS (SELECT l.id, l.blk,
          |    CAST(SUM(least(l.c, r.c)) AS BIGINT) AS inter
          |  FROM tf l JOIN tf r ON r.id = l.id AND r.blk = l.blk + 1
          |    AND r.term = l.term
          |  GROUP BY 1, 2),
          |sims AS (SELECT a.id, a.blk,
          |    (2.0 * CAST(coalesce(i.inter, 0) AS DOUBLE))
          |      / CAST(a.nt + b.nt AS DOUBLE) AS sim
          |  FROM bt a JOIN bt b ON b.id = a.id AND b.blk = a.blk + 1
          |  LEFT JOIN inter i ON i.id = a.id AND i.blk = a.blk)
          |SELECT id AS doc_id, max(n_blocks) AS n_blocks,
          |  count(*) AS n_boundaries,
          |  CAST(SUM(CASE WHEN sim < 0.15 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_cuts,
          |  round(CAST(SUM(CAST(sim AS DECIMAL(38,18))) AS DOUBLE)
          |    / count(*), 6) AS mean_sim
          |FROM sims JOIN nb USING (id)
          |GROUP BY id ORDER BY doc_id""".stripMargin,


      // 24h windows over the hourly series; exact integer distance²
      // between all non-overlapping pairs, top-10 motifs
      "q479_matrix_profile" ->
        """WITH s AS (SELECT
          |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1),
          |w AS (SELECT hr, list(n) OVER (ORDER BY hr
          |    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS win
          |  FROM s),
          |f AS (SELECT hr, win FROM w WHERE len(win) = 24),
          |p AS (SELECT a.hr AS ta, b.hr AS tb,
          |    CAST(list_sum(list_transform(range(1, 25), i ->
          |      (a.win[i] - b.win[i]) * (a.win[i] - b.win[i])))
          |      AS BIGINT) AS dist2
          |  FROM f a JOIN f b ON a.hr < b.hr AND b.hr - a.hr >= 24)
          |SELECT ta, tb, dist2 FROM p
          |ORDER BY dist2, ta, tb LIMIT 10""".stripMargin,


      // round-1 stump on quantity, round-2 stump on discount against
      // residual SUFFICIENT STATS only ({count, Σy, #left-leaf} per
      // discount value — small exact ints); split scores and mse are
      // fixed double trees; all int→double conversions stay < 2^53
      "q480_boosted_stumps" ->
        """WITH base AS (SELECT CAST(l_quantity AS BIGINT) AS f1,
          |    CAST(round(l_discount * 100) AS BIGINT) AS f2,
          |    CAST(round(l_extendedprice) AS BIGINT) AS y
          |  FROM lineitem),
          |g AS (SELECT count(*) AS nn,
          |    CAST(SUM(y * y) AS BIGINT) AS syy FROM base),
          |p1 AS (SELECT f1 AS f, count(*) AS n,
          |    CAST(SUM(y) AS BIGINT) AS s FROM base GROUP BY 1),
          |c1 AS (SELECT f,
          |    SUM(n) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS n_l,
          |    SUM(s) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS s_l,
          |    SUM(n) OVER () AS n_t, SUM(s) OVER () AS s_t
          |  FROM p1),
          |b1 AS (SELECT f AS thr1, n_l AS n1l, s_l AS s1l,
          |    n_t - n_l AS n1r, s_t - s_l AS s1r,
          |    CAST(s_l AS DOUBLE) * CAST(s_l AS DOUBLE) / n_l
          |      + CAST(s_t - s_l AS DOUBLE) * CAST(s_t - s_l AS DOUBLE)
          |        / (n_t - n_l) AS fit1
          |  FROM c1 WHERE n_t - n_l > 0
          |  ORDER BY fit1 DESC, f LIMIT 1),
          |p2 AS (SELECT f2 AS f, count(*) AS n,
          |    CAST(SUM(y) AS BIGINT) AS sy,
          |    CAST(SUM(CASE WHEN f1 <= thr1 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS inl
          |  FROM base, b1 GROUP BY 1),
          |c2 AS (SELECT f,
          |    SUM(n) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS m_l,
          |    SUM(sy) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS sy_l,
          |    SUM(inl) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING) AS a_l,
          |    SUM(n) OVER () AS m_t, SUM(sy) OVER () AS sy_t,
          |    SUM(inl) OVER () AS a_t
          |  FROM p2),
          |s2 AS (SELECT f, m_l, m_t - m_l AS m_r,
          |    CAST(sy_l AS DOUBLE)
          |      - CAST(a_l AS DOUBLE) * (CAST(s1l AS DOUBLE) / n1l)
          |      - CAST(m_l - a_l AS DOUBLE) * (CAST(s1r AS DOUBLE) / n1r)
          |      AS rl,
          |    CAST(sy_t - sy_l AS DOUBLE)
          |      - CAST(a_t - a_l AS DOUBLE) * (CAST(s1l AS DOUBLE) / n1l)
          |      - CAST((m_t - m_l) - (a_t - a_l) AS DOUBLE)
          |        * (CAST(s1r AS DOUBLE) / n1r) AS rr
          |  FROM c2, b1 WHERE m_t - m_l > 0),
          |b2 AS (SELECT f AS thr2, m_l AS n2l, rl, m_r AS n2r, rr
          |  FROM s2
          |  ORDER BY rl * rl / m_l + rr * rr / m_r DESC, f LIMIT 1)
          |SELECT 1 AS round, thr1 AS thr,
          |  round(CAST(s1l AS DOUBLE) / n1l, 6) AS leaf_lo,
          |  round(CAST(s1r AS DOUBLE) / n1r, 6) AS leaf_hi,
          |  round((CAST(syy AS DOUBLE) - fit1) / nn, 6) AS mse
          |FROM b1, g
          |UNION ALL
          |SELECT 2, thr2, round(rl / n2l, 6), round(rr / n2r, 6),
          |  round((CAST(syy AS DOUBLE) - fit1
          |    - (rl * rl / n2l + rr * rr / n2r)) / nn, 6)
          |FROM b1, b2, g ORDER BY round""".stripMargin,


      // analytic S-curve by repeated squaring (power-of-two b, r — the
      // identical multiplication tree Spark builds), midpoint Riemann
      "q481_lsh_planner" -> {
        def powSql(x: String, k: Int): String =
          if (k == 1) x else powSql(s"($x * $x)", k / 2)
        val rCase = Seq(1, 2, 4, 8, 16, 32)
          .map(k => s"WHEN $k THEN ${powSql("s", k)}")
          .mkString("CASE r ", " ", " END")
        val bCase = Seq(1, 2, 4, 8, 16, 32, 64, 128)
          .map(k => s"WHEN $k THEN ${powSql("q", k)}")
          .mkString("CASE b ", " ", " END")
        val cand = Seq((16, 2), (64, 2), (4, 4), (8, 4), (16, 4),
          (32, 4), (64, 4), (8, 8), (16, 8), (32, 8), (4, 16), (8, 16))
          .map { case (b, r) => s"($b, $r)" }.mkString(", ")
        s"""WITH cand AS (SELECT * FROM (VALUES $cand) AS t(b, r)),
           |grid AS (SELECT (CAST(i AS DOUBLE) * 2 + 1) / 200.0 AS s
           |  FROM range(100) t(i)),
           |c1 AS (SELECT b, r, s, $rCase AS sr FROM cand, grid),
           |c2 AS (SELECT b, r, s, 1.0 - sr AS q FROM c1),
           |c3 AS (SELECT b, r, s, 1.0 - ($bCase) AS p FROM c2),
           |ag AS (SELECT b, r,
           |    SUM(CASE WHEN s <= 0.8 THEN CAST(p AS DECIMAL(38,18))
           |      ELSE CAST(0.0 AS DECIMAL(38,18)) END) AS fp,
           |    SUM(CASE WHEN s > 0.8 THEN CAST(1.0 - p AS DECIMAL(38,18))
           |      ELSE CAST(0.0 AS DECIMAL(38,18)) END) AS fn
           |  FROM c3 GROUP BY 1, 2)
           |SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r,
           |  CAST(b * r AS INT) AS sig_size,
           |  round(CAST(fp AS DOUBLE) / 100, 6) AS fp_area,
           |  round(CAST(fn AS DOUBLE) / 100, 6) AS fn_area,
           |  round(CAST(fp + fn AS DOUBLE) / 100, 6) AS total_err
           |FROM ag
           |ORDER BY total_err, sig_size, b""".stripMargin
      },


      // equi-width histogram + uniform-within-bin estimate vs exact
      // count; q-error = max/min of the two
      "q482_selectivity_audit" -> {
        val thrVals = (1 to 10)
          .map(i => s"(${i * 5000000L}, ${i - 1})").mkString(", ")
        s"""WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
           |    AS v FROM orders),
           |h AS (SELECT least(greatest(v // 3000000, 0), 19) AS bin,
           |    CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
           |thr AS (SELECT CAST(t AS BIGINT) AS t, ti,
           |    least(greatest(t // 3000000, 0), 19) AS tbin
           |  FROM (VALUES $thrVals) AS x(t, ti)),
           |e AS (SELECT t, ti, tbin,
           |    CAST(coalesce(SUM(CASE WHEN bin < tbin THEN c ELSE 0
           |      END), 0) AS BIGINT) AS n_below,
           |    CAST(coalesce(SUM(CASE WHEN bin = tbin THEN c ELSE 0
           |      END), 0) AS BIGINT) AS n_inbin
           |  FROM thr LEFT JOIN h ON bin <= tbin
           |  GROUP BY 1, 2, 3),
           |es AS (SELECT t, ti,
           |    CAST(n_below AS DOUBLE) + CAST(n_inbin AS DOUBLE)
           |      * (CAST(t - tbin * 3000000 AS DOUBLE) / 3000000) AS est
           |  FROM e),
           |a AS (SELECT ti, CAST(count(*) AS BIGINT) AS act
           |  FROM v, thr WHERE v <= t GROUP BY 1)
           |SELECT t AS threshold, round(est, 6) AS est,
           |  coalesce(act, 0) AS act,
           |  round(CASE WHEN coalesce(act, 0) > 0 AND est > 0 THEN
           |    greatest(est, CAST(act AS DOUBLE))
           |      / least(est, CAST(act AS DOUBLE)) END, 6) AS q_error
           |FROM es LEFT JOIN a USING (ti)
           |ORDER BY threshold""".stripMargin
      },


      // keyHash-coherent 20% key sampling both sides; HT = joined·5
      "q483_coherent_sample" -> {
        def hashSql(k: String): String = {
          val p = 2147483647L
          val mix = graft.plans.HashExpressions.Mix
          val b = graft.plans.HashExpressions.PolyBase1
          val h0 = s"(($k) * $b) % $p"
          val h1 = s"((xor($h0, ($h0) >> 16)) * $mix) % $p"
          s"((xor($h1, ($h1) >> 13)) * $mix) % $p"
        }
        s"""WITH ls AS (SELECT c_custkey AS k FROM customer
           |  WHERE (${hashSql("c_custkey")}) % 10 < 2),
           |rs AS (SELECT o_custkey AS k FROM orders
           |  WHERE (${hashSql("o_custkey")}) % 10 < 2),
           |j AS (SELECT count(*) AS n_joined FROM ls JOIN rs USING (k)),
           |f AS (SELECT count(*) AS n_full FROM customer
           |  JOIN orders ON o_custkey = c_custkey),
           |l AS (SELECT count(*) AS n_left FROM ls),
           |r AS (SELECT count(*) AS n_right FROM rs)
           |SELECT n_left, n_right, n_joined, n_full,
           |  round(CAST(n_joined AS DOUBLE) * 10 / 2, 6) AS ht_estimate,
           |  round(CASE WHEN n_full > 0 THEN
           |    abs(CAST(n_joined AS DOUBLE) * 10 / 2
           |      - CAST(n_full AS DOUBLE)) / n_full END, 6) AS rel_err
           |FROM l, r, j, f""".stripMargin
      },


      // zero-filled (nation × last-5-weeks) grid; exact rank-3 medians
      // per nation and per region total; gap = Σ child medians − direct
      "q484_hierarchical_forecast" ->
        """WITH o AS (SELECT r_name AS p, n_name AS c,
          |    CAST(datediff('day', DATE '1970-01-01',
          |      CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS t,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |  JOIN nation ON c_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  GROUP BY 1, 2, 3),
          |mt AS (SELECT max(t) AS _mt FROM o),
          |ticks AS (SELECT CAST(w AS BIGINT) AS t
          |  FROM mt, unnest(range(_mt - 4, _mt + 1)) AS r(w)),
          |pc AS (SELECT DISTINCT p, c FROM o),
          |grid AS (SELECT pc.p, pc.c, ticks.t,
          |    CAST(coalesce(o.n, 0) AS BIGINT) AS n
          |  FROM pc CROSS JOIN ticks
          |  LEFT JOIN o ON o.p = pc.p AND o.c = pc.c AND o.t = ticks.t),
          |cm AS (SELECT p, c, n FROM (SELECT p, c, n,
          |    row_number() OVER (PARTITION BY p, c ORDER BY n, t) AS rk
          |  FROM grid) WHERE rk = 3),
          |bu AS (SELECT p, count(*) AS n_children,
          |    CAST(SUM(n) AS BIGINT) AS bottom_up FROM cm GROUP BY 1),
          |pt AS (SELECT p, t, CAST(SUM(n) AS BIGINT) AS n
          |  FROM grid GROUP BY 1, 2),
          |dm AS (SELECT p, n AS direct_med FROM (SELECT p, n,
          |    row_number() OVER (PARTITION BY p ORDER BY n, t) AS rk
          |  FROM pt) WHERE rk = 3)
          |SELECT p AS r_name, n_children, direct_med, bottom_up,
          |  bottom_up - direct_med AS gap
          |FROM bu JOIN dm USING (p)
          |ORDER BY r_name""".stripMargin,


      // 32-bit-word bitmaps; AND popcount == direct count, OR via
      // inclusion-exclusion on the same words
      "q485_bitmap_index" ->
        """WITH base AS (SELECT l_orderkey * 8 + l_linenumber AS rid,
          |    l_returnflag AS a, l_linestatus AS b FROM lineitem),
          |ba AS (SELECT a, rid // 32 AS word,
          |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(rid % 32 AS INT))
          |      AS BIGINT) AS w_a
          |  FROM base GROUP BY 1, 2),
          |bb AS (SELECT b, rid // 32 AS word,
          |    CAST(bit_or(CAST(1 AS BIGINT) << CAST(rid % 32 AS INT))
          |      AS BIGINT) AS w_b
          |  FROM base GROUP BY 1, 2),
          |ands AS (SELECT a, b, count(*) AS n_shared_words,
          |    CAST(SUM(bit_count(w_a & w_b)) AS BIGINT) AS and_count
          |  FROM ba JOIN bb USING (word) GROUP BY 1, 2),
          |ta AS (SELECT a, CAST(SUM(bit_count(w_a)) AS BIGINT) AS n_a
          |  FROM ba GROUP BY 1),
          |tb2 AS (SELECT b, CAST(SUM(bit_count(w_b)) AS BIGINT) AS n_b
          |  FROM bb GROUP BY 1),
          |act AS (SELECT a, b, CAST(count(*) AS BIGINT) AS actual
          |  FROM base GROUP BY 1, 2)
          |SELECT a, b, n_shared_words, and_count,
          |  n_a + n_b - and_count AS or_count,
          |  coalesce(actual, 0) AS actual,
          |  and_count = coalesce(actual, 0) AS match
          |FROM ands JOIN ta USING (a) JOIN tb2 USING (b)
          |LEFT JOIN act USING (a, b)
          |ORDER BY a, b""".stripMargin,


      // 3 chained IRLS rounds; weights branch on |y−m| <= c (no
      // division at a possible zero), Σwy/Σw decimal-accumulated
      "q486_huber_mean" -> {
        val w = "CASE WHEN abs(CAST(y AS DOUBLE) - m) <= 50000 " +
          "THEN 1.0 ELSE 50000.0 / abs(CAST(y AS DOUBLE) - m) END"
        def iter(prev: String, out: String) =
          s"""$out AS (SELECT b.g, max(n) AS n, max(mean) AS mean,
             |    CAST(SUM(CAST(($w) * y AS DECIMAL(38,18))) AS DOUBLE)
             |      / CAST(SUM(CAST(($w) AS DECIMAL(38,18))) AS DOUBLE)
             |      AS m
             |  FROM b JOIN $prev ON $prev.g = b.g GROUP BY b.g)"""
            .stripMargin
        s"""WITH b AS (SELECT o_orderpriority AS g,
           |    CAST(round(o_totalprice) AS BIGINT) AS y FROM orders),
           |m0 AS (SELECT g, count(*) AS n, CAST(SUM(y) AS BIGINT) AS sy
           |  FROM b GROUP BY 1),
           |s0 AS (SELECT g, n, CAST(sy AS DOUBLE) / n AS mean,
           |    CAST(sy AS DOUBLE) / n AS m FROM m0),
           |${iter("s0", "i1")},
           |${iter("i1", "i2")},
           |${iter("i2", "i3")}
           |SELECT g AS o_orderpriority, n, round(mean, 6) AS mean,
           |  round(m, 6) AS huber_m, round(m - mean, 6) AS shift
           |FROM i3 ORDER BY o_orderpriority""".stripMargin
      },


      // three deterministic rankings, points = 100000 − rank, top-20
      "q487_borda_fusion" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text),
          |      '[^a-z0-9]+'), x -> x <> '') AS tk
          |  FROM documents),
          |sc AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS s_len,
          |    CAST(len(list_distinct(tk)) AS BIGINT) AS s_voc,
          |    CAST(len(list_filter(tk, x -> x = 'data')) AS BIGINT)
          |      AS s_tf
          |  FROM toks),
          |u AS (
          |  SELECT doc_id, row_number() OVER (ORDER BY s_len DESC,
          |    doc_id) AS rank FROM sc
          |  UNION ALL
          |  SELECT doc_id, row_number() OVER (ORDER BY s_voc DESC,
          |    doc_id) FROM sc
          |  UNION ALL
          |  SELECT doc_id, row_number() OVER (ORDER BY s_tf DESC,
          |    doc_id) FROM sc)
          |SELECT doc_id, count(*) AS n_lists,
          |  CAST(SUM(100000 - rank) AS BIGINT) AS borda
          |FROM u GROUP BY 1
          |ORDER BY borda DESC, doc_id LIMIT 20""".stripMargin,


      // per-customer positions; distinct-in-interval via the
      // last-use-before-i trick (j counts iff next_j >= i)
      "q488_lru_stack_distance" ->
        """WITH acc0 AS (SELECT o_custkey AS g, l_partkey AS k,
          |    o_orderdate AS od, o_orderkey AS ok, l_linenumber AS ln
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
          |acc AS (SELECT g, k, row_number() OVER (PARTITION BY g
          |    ORDER BY od, ok, ln, k) AS pos FROM acc0),
          |ak AS (SELECT g, k, pos, lag(pos) OVER wk AS prev,
          |    lead(pos) OVER wk AS nxt FROM acc
          |  WINDOW wk AS (PARTITION BY g, k ORDER BY pos)),
          |re AS (SELECT g, prev, pos FROM ak WHERE prev IS NOT NULL),
          |ds AS (SELECT re.g, re.pos, count(*) AS d
          |  FROM re JOIN ak j ON j.g = re.g AND j.pos > re.prev
          |    AND j.pos < re.pos AND (j.nxt IS NULL OR j.nxt >= re.pos)
          |  GROUP BY 1, 2),
          |ad AS (SELECT re.g, re.pos, coalesce(ds.d, 0) AS d
          |  FROM re LEFT JOIN ds ON ds.g = re.g AND ds.pos = re.pos),
          |tot AS (SELECT count(*) AS n_accesses,
          |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_cold FROM ak),
          |caps AS (SELECT c FROM (VALUES (1), (2), (4), (8), (16))
          |  t(c)),
          |hc AS (SELECT c AS cache_size, count(*) AS n_reuses,
          |    CAST(SUM(CASE WHEN d < c THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_hits
          |  FROM ad, caps GROUP BY 1)
          |SELECT c AS cache_size, n_accesses, n_cold,
          |  coalesce(n_reuses, 0) AS n_reuses,
          |  coalesce(n_hits, 0) AS n_hits,
          |  round(CASE WHEN coalesce(n_reuses, 0) > 0 THEN
          |    CAST(n_hits AS DOUBLE) / n_reuses END, 6) AS hit_rate
          |FROM caps LEFT JOIN hc ON hc.cache_size = caps.c, tot
          |ORDER BY cache_size""".stripMargin,


      // both snapshots' 256/16/1 Merkle trees; diffs per level with
      // rows-under-differing-nodes from snapshot B
      "q489_merkle_diff" -> {
        def snap(name: String, qty: String) =
          s"""$name AS (SELECT
             |    CAST(l_orderkey AS VARCHAR) || chr(31) ||
             |      CAST(l_linenumber AS VARCHAR) AS kr,
             |    CAST(l_orderkey AS VARCHAR) || chr(31) ||
             |      CAST(l_linenumber AS VARCHAR) || chr(31) ||
             |      CAST($qty AS VARCHAR) || chr(31) || l_returnflag
             |      AS rr
             |  FROM lineitem)""".stripMargin
        def fp(e: String) =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(range(1, length($e) + 1),
             |        i -> CAST(ord(substring($e, CAST(i AS INT), 1))
             |          AS BIGINT))),
             |      (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin
        def tree(src: String, sfx: String) =
          s"""lf_$sfx AS (SELECT (${fp("kr")}) % 256 AS leaf,
             |    count(*) AS n_rows,
             |    CAST(CAST(SUM(CAST(${fp("rr")} AS DECIMAL(38,0)))
             |      AS HUGEINT) % 1000000007 AS BIGINT) AS digest
             |  FROM $src GROUP BY 1),
             |md_$sfx AS (SELECT leaf // 16 AS mid,
             |    CAST(SUM(n_rows) AS BIGINT) AS n_rows,
             |    CAST(CAST(SUM(CAST((digest + leaf) * 31 % 1000000007
             |      AS DECIMAL(38,0))) AS HUGEINT) % 1000000007
             |      AS BIGINT) AS digest
             |  FROM lf_$sfx GROUP BY 1),
             |rt_$sfx AS (SELECT 0 AS rid,
             |    CAST(SUM(n_rows) AS BIGINT) AS n_rows,
             |    CAST(CAST(SUM(CAST((digest + mid) * 31 % 1000000007
             |      AS DECIMAL(38,0))) AS HUGEINT) % 1000000007
             |      AS BIGINT) AS digest
             |  FROM md_$sfx)""".stripMargin
        def diff(xa: String, xb: String, id: String, lvl: String) =
          s"""SELECT '$lvl' AS level, count(*) AS n_nodes,
             |  CAST(SUM(CASE WHEN coalesce(a.digest <> b.digest, true)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_differing,
             |  CAST(coalesce(SUM(CASE WHEN coalesce(a.digest <>
             |    b.digest, true) THEN b.n_rows END), 0) AS BIGINT)
             |    AS rows_to_sync
             |FROM $xa a FULL OUTER JOIN $xb b USING ($id)""".stripMargin
        s"""WITH ${snap("sa", "CAST(l_quantity AS BIGINT)")},
           |${snap("sb",
             "(CASE WHEN l_orderkey % 97 = 0 THEN " +
               "CAST(l_quantity AS BIGINT) + 1 " +
               "ELSE CAST(l_quantity AS BIGINT) END)")},
           |${tree("sa", "a")},
           |${tree("sb", "b")}
           |${diff("rt_a", "rt_b", "rid", "1_root")}
           |UNION ALL
           |${diff("md_a", "md_b", "mid", "2_mid")}
           |UNION ALL
           |${diff("lf_a", "lf_b", "leaf", "3_leaf")}
           |ORDER BY level""".stripMargin
      },


      // replayable key hash → per-candidate actual partition bytes
      "q490_partition_advisor" -> {
        val p = 2147483647L
        val mix = graft.plans.HashExpressions.Mix
        val pb = graft.plans.HashExpressions.PolyBase1
        s"""WITH r AS (SELECT l_orderkey AS k,
           |    CAST(64 + strlen(l_returnflag)
           |      + strlen(l_linestatus) AS BIGINT) AS bytes
           |  FROM lineitem),
           |h0 AS (SELECT (k * $pb) % $p AS h, bytes FROM r),
           |h1 AS (SELECT (xor(h, h >> 16) * $mix) % $p AS h, bytes
           |  FROM h0),
           |h2 AS (SELECT (xor(h, h >> 13) * $mix) % $p AS h, bytes
           |  FROM h1),
           |e AS (SELECT h, bytes, c AS n_parts FROM h2,
           |  (VALUES (4), (8), (16), (32), (64), (128)) t(c)),
           |pp AS (SELECT n_parts, h % n_parts AS part,
           |    CAST(SUM(bytes) AS BIGINT) AS pbytes
           |  FROM e GROUP BY 1, 2),
           |ag AS (SELECT n_parts,
           |    CAST(SUM(pbytes) AS BIGINT) AS total_bytes,
           |    CAST(max(pbytes) AS BIGINT) AS max_part_bytes,
           |    count(*) AS n_nonempty
           |  FROM pp GROUP BY 1)
           |SELECT n_parts, total_bytes, n_nonempty,
           |  total_bytes // n_parts AS even_bytes, max_part_bytes,
           |  round(CAST(max_part_bytes AS DOUBLE) * n_parts
           |    / total_bytes, 6) AS skew_ratio,
           |  max_part_bytes <= 1048576 AS fits
           |FROM ag ORDER BY n_parts""".stripMargin
      },


      // one-pass conditional aggregates; CLT interval on the 20% hash
      // sample vs the full-scan truth, coverage on UNROUNDED values
      "q491_aqp_audit" -> {
        def hashSql(k: String): String = {
          val p = 2147483647L
          val mix = graft.plans.HashExpressions.Mix
          val b = graft.plans.HashExpressions.PolyBase1
          val h0 = s"(($k) * $b) % $p"
          val h1 = s"((xor($h0, ($h0) >> 16)) * $mix) % $p"
          s"((xor($h1, ($h1) >> 13)) * $mix) % $p"
        }
        s"""WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS k,
           |    CAST(round(o_totalprice) AS BIGINT) AS v FROM orders),
           |h AS (SELECT g, v, (${hashSql("k")}) % 10 < 2 AS s FROM b),
           |a AS (SELECT g, count(*) AS n,
           |    CAST(SUM(v) AS BIGINT) AS sv,
           |    CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_sample,
           |    CAST(SUM(CASE WHEN s THEN v ELSE 0 END) AS BIGINT)
           |      AS ssv,
           |    CAST(SUM(CASE WHEN s THEN v * v ELSE 0 END) AS BIGINT)
           |      AS ssvv
           |  FROM h GROUP BY 1),
           |e AS (SELECT g, n, n_sample,
           |    CAST(sv AS DOUBLE) / n AS tm,
           |    CAST(ssv AS DOUBLE) / n_sample AS em,
           |    sqrt(((CAST(ssvv AS DOUBLE) - CAST(ssv AS DOUBLE)
           |      * CAST(ssv AS DOUBLE) / n_sample) / (n_sample - 1))
           |      / n_sample) AS se
           |  FROM a)
           |SELECT g AS o_orderpriority, n, n_sample,
           |  round(tm, 6) AS true_mean, round(em, 6) AS est_mean,
           |  CASE WHEN n_sample >= 2 THEN round(se, 6) END AS se,
           |  CASE WHEN n_sample >= 2 THEN abs(tm - em) <= 1.96 * se END
           |    AS covered
           |FROM e ORDER BY o_orderpriority""".stripMargin
      },


      // blocked pairs → ≤8 agreement-pattern counts → 3 EM rounds as
      // chained CTEs; products left-fold in field order
      "q492_fs_em" -> {
        val flds = Seq(
          ("right(c_name, 1)", "a0"),
          ("(c_acctbal < 0)", "a1"),
          ("c_mktsegment", "a2"))
        val agree = flds.map { case (e, a) =>
          val e1 = e.replace("c_", "x.c_")
          val e2 = e.replace("c_", "y.c_")
          s"CASE WHEN $e1 = $e2 THEN 1 ELSE 0 END AS $a"
        }.mkString(",\n          |    ")
        def prod(pi: String, pfx: String) = (0 until 3)
          .map(i => s"(CASE WHEN a$i = 1 THEN $pfx$i " +
            s"ELSE 1.0 - $pfx$i END)")
          .mkString(s"$pi * ", " * ", "")
        def mstep(prev: String, e: String, out: String) = {
          def ws(expr: String) =
            s"CAST(SUM(CAST($expr AS DECIMAL(38,18))) AS DOUBLE)"
          val ms = (0 until 3).map(i =>
            s"${ws(s"w * c * a$i")} / ${ws("w * c")} AS m$i")
            .mkString(",\n          |    ")
          val us = (0 until 3).map(i =>
            s"${ws(s"(1.0 - w) * c * a$i")} / ${ws("(1.0 - w) * c")} " +
              s"AS u$i").mkString(",\n          |    ")
          s"""$e AS (SELECT pc.*,
             |    ${prod("pi", "m")} AS pm,
             |    ${prod("(1.0 - pi)", "u")} AS pu
             |  FROM pc, $prev),
             |${e}w AS (SELECT *, pm / (pm + pu) AS w FROM $e),
             |$out AS (SELECT
             |    ${ws("w * c")} / ${ws("c")} AS pi,
             |    $ms,
             |    $us
             |  FROM ${e}w)""".stripMargin
        }
        val fields = Seq("name_tail", "neg_bal", "c_mktsegment")
        val finals = Seq(("name_tail", 0), ("neg_bal", 1),
          ("c_mktsegment", 2)).map { case (f, i) =>
          s"""SELECT '$f' AS field, round(m$i, 6) AS m,
             |  round(u$i, 6) AS u, round(m$i / u$i, 6) AS agree_weight,
             |  round(pi, 6) AS pi FROM p3""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH pat AS (SELECT
           |    $agree,
           |    1 AS one
           |  FROM customer x JOIN customer y
           |    ON x.c_nationkey = y.c_nationkey
           |    AND x.c_custkey < y.c_custkey),
           |pc AS (SELECT a0, a1, a2, count(*) AS c
           |  FROM pat GROUP BY 1, 2, 3),
           |p0 AS (SELECT 0.1 AS pi, 0.9 AS m0, 0.9 AS m1, 0.9 AS m2,
           |  0.1 AS u0, 0.1 AS u1, 0.1 AS u2),
           |${mstep("p0", "e1", "p1")},
           |${mstep("p1", "e2", "p2")},
           |${mstep("p2", "e3", "p3")}
           |$finals
           |ORDER BY field""".stripMargin
      },


      // 16 Poisson replicas + unweighted rep −1; weighted rank-sum AUC
      // per replica over score levels
      "q493_auc_bootstrap" ->
        """WITH d AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS s,
          |    (lang = 'en') AS l FROM documents),
          |rj AS (SELECT id, s, l, CAST(r AS INT) AS rep,
          |    id * 8209 + r * 127 + j AS k
          |  FROM d, unnest(range(0, 16)) AS t(r),
          |    unnest(range(0, 8)) AS u(j)),
          |h0 AS (SELECT id, s, l, rep, (k * 1000003) % 2147483647 AS h
          |  FROM rj),
          |h1 AS (SELECT id, s, l, rep,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT id, s, l, rep,
          |    (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |wts AS (SELECT id, s, l, rep,
          |    CAST(SUM(CASE WHEN h % 8 = 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS w
          |  FROM h2 GROUP BY 1, 2, 3, 4
          |  UNION ALL
          |  SELECT id, s, l, -1, CAST(1 AS BIGINT) FROM d),
          |lv AS (SELECT rep, s,
          |    CAST(SUM(CASE WHEN l THEN w ELSE 0 END) AS BIGINT) AS np,
          |    CAST(SUM(CASE WHEN l THEN 0 ELSE w END) AS BIGINT) AS nn
          |  FROM wts GROUP BY 1, 2),
          |c AS (SELECT rep, s, np, nn,
          |    CAST(coalesce(SUM(nn) OVER (PARTITION BY rep ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS cnn
          |  FROM lv)
          |SELECT rep, CAST(SUM(np) AS BIGINT) AS w_pos,
          |  CAST(SUM(nn) AS BIGINT) AS w_neg,
          |  round(CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
          |    CAST(SUM(np * (2 * cnn + nn)) AS DOUBLE)
          |      / (2 * CAST(SUM(np) AS BIGINT)
          |        * CAST(SUM(nn) AS BIGINT)) END, 6) AS auc
          |FROM c GROUP BY rep ORDER BY rep""".stripMargin,


      // within-bin SSE identity on both binnings; ntile over (v, id)
      "q494_binning_mse" ->
        """WITH b AS (SELECT o_orderkey AS id,
          |    CAST(round(o_totalprice) AS BIGINT) // 10 AS v
          |  FROM orders),
          |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM b),
          |svv AS (SELECT CAST(SUM(v * v) AS BIGINT) AS s FROM b),
          |ew AS (SELECT least(((v - lo) * 16) // (hi - lo + 1),
          |    CAST(15 AS BIGINT)) AS bin, v FROM b, mm),
          |ef AS (SELECT ntile(16) OVER (ORDER BY v, id) AS bin, v
          |  FROM b),
          |gw AS (SELECT bin, count(*) AS nb,
          |    CAST(SUM(v) AS BIGINT) AS sb FROM ew GROUP BY 1),
          |gf AS (SELECT bin, count(*) AS nb,
          |    CAST(SUM(v) AS BIGINT) AS sb FROM ef GROUP BY 1),
          |aw AS (SELECT 'equal_width' AS scheme,
          |    count(*) AS n_bins_used, CAST(SUM(nb) AS BIGINT) AS n,
          |    CAST(SUM(CAST(CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
          |      / nb AS DECIMAL(38,18))) AS DOUBLE) AS fit FROM gw),
          |af AS (SELECT 'equal_freq', count(*),
          |    CAST(SUM(nb) AS BIGINT),
          |    CAST(SUM(CAST(CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
          |      / nb AS DECIMAL(38,18))) AS DOUBLE) FROM gf),
          |u AS (SELECT * FROM aw UNION ALL SELECT * FROM af)
          |SELECT scheme, n_bins_used, n,
          |  round((CAST(s AS DOUBLE) - fit) / n, 6) AS mse
          |FROM u, svv ORDER BY scheme""".stripMargin,


      // k-ary randomized response at p = 3/4 with hash-derived flips;
      // unbiased debias, rel_err vs ground truth
      "q495_ldp_frequency" -> {
        def hashSql(k: String, base: Long): String = {
          val p = 2147483647L
          val mix = graft.plans.HashExpressions.Mix
          val h0 = s"(($k) * $base) % $p"
          val h1 = s"((xor($h0, ($h0) >> 16)) * $mix) % $p"
          s"((xor($h1, ($h1) >> 13)) * $mix) % $p"
        }
        val b1 = graft.plans.HashExpressions.PolyBase1
        val b2 = graft.plans.HashExpressions.PolyBase2
        s"""WITH e AS (SELECT event_id AS id, event_type AS c
           |  FROM events),
           |r AS (SELECT c, CASE WHEN (${hashSql("id", b1)}) % 4 < 3
           |    THEN c ELSE (['click', 'error', 'purchase', 'signup',
           |      'view'])[CAST((${hashSql("id", b2)}) % 5 AS INT) + 1]
           |    END AS rep
           |  FROM e),
           |t AS (SELECT c AS category, count(*) AS true_n
           |  FROM r GROUP BY 1),
           |o AS (SELECT rep AS category, count(*) AS obs_n
           |  FROM r GROUP BY 1),
           |n AS (SELECT count(*) AS nn FROM r),
           |j AS (SELECT category, coalesce(true_n, 0) AS true_n,
           |    coalesce(obs_n, 0) AS obs_n,
           |    round(CAST(coalesce(obs_n, 0) * 5 * 4 - nn * 1
           |      AS DOUBLE) / (5 * 3), 6) AS est_n
           |  FROM t FULL OUTER JOIN o USING (category), n)
           |SELECT category, true_n, obs_n, est_n,
           |  round(CASE WHEN true_n > 0 THEN
           |    abs(est_n - CAST(true_n AS DOUBLE)) / true_n END, 6)
           |    AS rel_err
           |FROM j ORDER BY category""".stripMargin
      },


      // 3 deterministic raters -> pattern counts -> 2 EM rounds; EM
      // confusion next to empirical truth
      "q496_dawid_skene" -> {
        val classes = Seq("en", "other", "zh")
        val k = classes.size
        def hashSql(key: String, base: Long): String = {
          val p = 2147483647L
          val mix = graft.plans.HashExpressions.Mix
          val h0 = s"(($key) * $base) % $p"
          val h1 = s"((xor($h0, ($h0) >> 16)) * $mix) % $p"
          s"((xor($h1, ($h1) >> 13)) * $mix) % $p"
        }
        def labelSql(j: Int): String = {
          val (flip, pick, num, den) = AnnotatorPanel(j)
          val wrong = classes.map { c =>
            val others = classes.filterNot(_ == c)
              .map(o => s"'$o'").mkString(", ")
            s"WHEN cls = '$c' THEN ([$others])[" +
              s"CAST((${hashSql("doc_id", pick)}) % ${k - 1} AS INT) + 1]"
          }.mkString(" ")
          s"CASE WHEN (${hashSql("doc_id", flip)}) % $den < $num " +
            s"THEN cls ELSE CASE $wrong END END AS y$j"
        }
        val js = 0 until 3
        val cs = 0 until k
        def ws(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(38,18))) AS DOUBLE)"
        def thetaSel(j: Int, c: Int) =
          s"(CASE y$j " + cs.dropRight(1).map(l =>
            s"WHEN '${classes(l)}' THEN t${j}_${c}_$l").mkString(" ") +
            s" ELSE t${j}_${c}_${k - 1} END)"
        def emRound(prev: String, e: String, out: String): String = {
          val pms = cs.map(c => js.map(j => thetaSel(j, c))
            .foldLeft(s"pi$c")((acc, t) => s"$acc * $t") + s" AS pm$c")
            .mkString(",\n          |    ")
          val mus = cs.map(c => s"pm$c / z AS mu$c")
            .mkString(", ")
          val pis = cs.map(c =>
            s"${ws(s"mu$c * c")} / ${ws("c")} AS pi$c")
            .mkString(",\n          |    ")
          val ts = (for { j <- js; c <- cs; l <- cs } yield
            s"${ws(s"mu$c * c * (CASE WHEN y$j = '${classes(l)}' " +
              s"THEN 1 ELSE 0 END)")} / ${ws(s"mu$c * c")} " +
              s"AS t${j}_${c}_$l").mkString(",\n          |    ")
          s"""$e AS (SELECT pat.*,
             |    $pms
             |  FROM pat, $prev),
             |${e}z AS (SELECT *, ${cs.map(c => s"pm$c").mkString(" + ")}
             |    AS z FROM $e),
             |${e}m AS (SELECT *, $mus FROM ${e}z),
             |$out AS (SELECT
             |    $pis,
             |    $ts
             |  FROM ${e}m)""".stripMargin
        }
        val offDiag = 0.3 / (k - 1)
        val inits = (cs.map(c => s"${1.0 / k} AS pi$c") ++
          (for { j <- js; c <- cs; l <- cs } yield
            s"${if (c == l) "0.7" else offDiag.toString} AS t${j}_${c}_$l"))
          .mkString(", ")
        val finals = (for { j <- js; c <- cs; l <- cs } yield
          s"""SELECT $j AS annotator, '${classes(c)}' AS true_class,
             |  '${classes(l)}' AS label,
             |  round(t${j}_${c}_$l, 6) AS theta_em,
             |  round(coalesce((SELECT theta_true FROM trw
             |    WHERE annotator = $j AND true_class = '${classes(c)}'
             |    AND label = '${classes(l)}'), 0.0), 6) AS theta_true,
             |  round(pi$c, 6) AS pi_em FROM p2""".stripMargin)
          .mkString("\nUNION ALL\n")
        val trSel = js.map(j =>
          s"SELECT $j AS annotator, cls AS true_class, y$j AS label, " +
            "count(*) AS nl FROM lab GROUP BY 2, 3")
          .mkString("\n          UNION ALL ")
        s"""WITH d AS (SELECT doc_id,
           |    CASE WHEN lang IN ('en', 'zh') THEN lang
           |      ELSE 'other' END AS cls
           |  FROM documents),
           |lab AS (SELECT doc_id, cls,
           |    ${js.map(labelSql).mkString(",\n          |    ")}
           |  FROM d),
           |pat AS (SELECT y0, y1, y2, count(*) AS c
           |  FROM lab GROUP BY 1, 2, 3),
           |p0 AS (SELECT $inits),
           |${emRound("p0", "e1", "p1")},
           |${emRound("p1", "e2", "p2")},
           |tr AS ($trSel),
           |trw AS (SELECT annotator, true_class, label,
           |    CAST(nl AS DOUBLE) / SUM(nl) OVER
           |      (PARTITION BY annotator, true_class) AS theta_true
           |  FROM tr)
           |$finals
           |ORDER BY annotator, true_class, label""".stripMargin
      },


      // same rater panel; alpha/kappa/agreement from exact BIGINTs
      "q497_agreement" -> {
        val classes = Seq("en", "other", "zh")
        val k = classes.size
        def hashSql(key: String, base: Long): String = {
          val p = 2147483647L
          val mix = graft.plans.HashExpressions.Mix
          val h0 = s"(($key) * $base) % $p"
          val h1 = s"((xor($h0, ($h0) >> 16)) * $mix) % $p"
          s"((xor($h1, ($h1) >> 13)) * $mix) % $p"
        }
        def labelSql(j: Int): String = {
          val (flip, pick, num, den) = AnnotatorPanel(j)
          val wrong = classes.map { c =>
            val others = classes.filterNot(_ == c)
              .map(o => s"'$o'").mkString(", ")
            s"WHEN cls = '$c' THEN ([$others])[" +
              s"CAST((${hashSql("doc_id", pick)}) % ${k - 1} AS INT) + 1]"
          }.mkString(" ")
          s"CASE WHEN (${hashSql("doc_id", flip)}) % $den < $num " +
            s"THEN cls ELSE CASE $wrong END END AS y$j"
        }
        val js = 0 until 3
        val ncs = classes.zipWithIndex.map { case (c, i) =>
          js.map(j => s"(CASE WHEN y$j = '$c' THEN 1 ELSE 0 END)")
            .mkString(" + ") + s" AS nc$i"
        }.mkString(",\n          |    ")
        val is = classes.indices
        val sums = (is.map(i =>
          s"CAST(SUM(nc$i * (3 - nc$i)) AS BIGINT) AS o$i") ++
          is.map(i => s"CAST(SUM(nc$i * (nc$i - 1)) AS BIGINT) AS p$i") ++
          is.map(i => s"CAST(SUM(nc$i) AS BIGINT) AS m$i"))
          .mkString(",\n          |    ")
        s"""WITH d AS (SELECT doc_id,
           |    CASE WHEN lang IN ('en', 'zh') THEN lang
           |      ELSE 'other' END AS cls
           |  FROM documents),
           |lab AS (SELECT doc_id, cls,
           |    ${js.map(labelSql).mkString(",\n          |    ")}
           |  FROM d),
           |nic AS (SELECT doc_id,
           |    $ncs
           |  FROM lab),
           |ag AS (SELECT count(*) AS n_items,
           |    $sums
           |  FROM nic),
           |b AS (SELECT n_items, n_items * 3 AS n_ratings,
           |    ${is.map(i => s"o$i").mkString(" + ")} AS no,
           |    ${is.map(i => s"p$i").mkString(" + ")} AS np,
           |    ${is.map(i => s"m$i * m$i").mkString(" + ")} AS ssq
           |  FROM ag),
           |mets AS (SELECT n_items, n_ratings,
           |    (CAST(np AS DOUBLE) / CAST(n_items * 6 AS DOUBLE)) AS pbar,
           |    (CAST(ssq AS DOUBLE) /
           |      (CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE)))
           |      AS pe,
           |    1.0 - CAST(no * (n_ratings - 1) AS DOUBLE) /
           |      CAST((n_ratings * n_ratings - ssq) * 2 AS DOUBLE) AS alpha
           |  FROM b)
           |SELECT 'fleiss_kappa' AS metric,
           |  round((pbar - pe) / (1.0 - pe), 6) AS value,
           |  n_items, n_ratings FROM mets
           |UNION ALL
           |SELECT 'krippendorff_alpha', round(alpha, 6), n_items,
           |  n_ratings FROM mets
           |UNION ALL
           |SELECT 'pairwise_agreement', round(pbar, 6), n_items,
           |  n_ratings FROM mets
           |ORDER BY metric""".stripMargin
      },


      // 48 base bins -> prefix stats -> interval SSE -> 6 DP rounds;
      // equal-width comparator at each bucket budget
      "q498_vopt_histogram" -> {
        val dpRounds = (2 to 6).map(b =>
          s"""e$b AS (SELECT s.i, min(p.cost + s.sse) AS cost
             |  FROM e${b - 1} p JOIN sse s ON p.i = s.j GROUP BY s.i)"""
            .stripMargin).mkString(",\n")
        val ews = (1 to 6).map(b =>
          s"""ew$b AS (SELECT CAST(SUM(CAST(CAST(ss2 AS DOUBLE)
             |    - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n
             |    AS DECIMAL(38,18))) AS DOUBLE) AS ew FROM (
             |  SELECT (bin * $b) // 48 AS bk, CAST(SUM(nb) AS BIGINT) AS n,
             |    CAST(SUM(sb) AS BIGINT) AS s2,
             |    CAST(SUM(ssb) AS BIGINT) AS ss2
             |  FROM st GROUP BY 1))""".stripMargin).mkString(",\n")
        val finals = (1 to 6).map(b =>
          s"""SELECT $b AS n_buckets,
             |  round((SELECT cost FROM e$b, m WHERE i = mi) / n, 6)
             |    AS vopt_mse,
             |  round((SELECT ew FROM ew$b) / n, 6) AS equal_width_mse,
             |  round(CASE WHEN (SELECT ew FROM ew$b) > 0 THEN
             |    ((SELECT ew FROM ew$b) - (SELECT cost FROM e$b, m
             |      WHERE i = mi)) / (SELECT ew FROM ew$b) * 100 END, 6)
             |    AS savings_pct
             |  FROM m""".stripMargin).mkString("\nUNION ALL\n")
        s"""WITH b0 AS (SELECT CAST(round(o_totalprice) AS BIGINT) // 10
           |    AS v FROM orders),
           |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM b0),
           |bn AS (SELECT least(((v - lo) * 48) // (hi - lo + 1),
           |    CAST(47 AS BIGINT)) AS bin, v FROM b0, mm),
           |st AS (SELECT bin, count(*) AS nb,
           |    CAST(SUM(v) AS BIGINT) AS sb,
           |    CAST(SUM(v * v) AS BIGINT) AS ssb
           |  FROM bn GROUP BY 1),
           |pfx AS (SELECT bin,
           |    CAST(row_number() OVER (ORDER BY bin) AS INT) AS i,
           |    CAST(SUM(nb) OVER w AS BIGINT) AS cn,
           |    CAST(SUM(sb) OVER w AS BIGINT) AS cs,
           |    CAST(SUM(ssb) OVER w AS BIGINT) AS css
           |  FROM st WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
           |pfx0 AS (SELECT i, cn, cs, css FROM pfx
           |  UNION ALL SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           |    CAST(0 AS BIGINT)),
           |sse AS (SELECT a.i AS j, b.i AS i, b.cn - a.cn AS n,
           |    CAST(b.css - a.css AS DOUBLE)
           |      - CAST(b.cs - a.cs AS DOUBLE) * CAST(b.cs - a.cs AS DOUBLE)
           |        / (b.cn - a.cn) AS sse
           |  FROM pfx0 a JOIN pfx0 b ON a.i < b.i),
           |e1 AS (SELECT i, sse AS cost FROM sse WHERE j = 0),
           |$dpRounds,
           |m AS (SELECT max(i) AS mi, CAST(SUM(nb) AS BIGINT) AS n
           |  FROM pfx, st WHERE pfx.bin = st.bin),
           |$ews
           |$finals
           |ORDER BY n_buckets""".stripMargin
      },


      // q27 sessions -> day-exploded clipping -> busy/peak/arrivals
      "q499_littles_law" ->
        """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
          |  FROM events),
          |flagged AS (SELECT user_id, ts,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
          |      THEN 1 ELSE 0 END AS new_session
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |sess AS (SELECT user_id, ts,
          |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM flagged),
          |sg AS (SELECT user_id, MIN(ts) AS st, MAX(ts) AS en
          |  FROM sess GROUP BY user_id, sid),
          |dd AS (SELECT st, en, CAST(unnest(generate_series(
          |    CAST(st AS DATE), CAST(en AS DATE), INTERVAL 1 DAY))
          |    AS DATE) AS day FROM sg),
          |cl AS (SELECT day,
          |    greatest(st, CAST(day AS TIMESTAMP)) AS cst,
          |    least(en, CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) AS cen
          |  FROM dd),
          |busy AS (SELECT day,
          |    CAST(SUM(epoch_us(cen) - epoch_us(cst)) AS BIGINT)
          |      AS busy_us
          |  FROM cl GROUP BY 1),
          |bd AS (SELECT day, cst AS ts, 1 AS d FROM cl
          |  UNION ALL SELECT day, cen, -1 FROM cl),
          |pk AS (SELECT day, CAST(max(c) AS BIGINT) AS peak_concurrent
          |  FROM (SELECT day, SUM(d) OVER (PARTITION BY day
          |    ORDER BY ts, d DESC ROWS UNBOUNDED PRECEDING) AS c FROM bd)
          |  GROUP BY 1),
          |ar AS (SELECT CAST(st AS DATE) AS day, count(*) AS n_sessions,
          |    CAST(SUM(epoch_us(en) - epoch_us(st)) AS BIGINT) AS dur
          |  FROM sg GROUP BY 1),
          |j AS (SELECT day, busy_us, peak_concurrent,
          |    coalesce(n_sessions, 0) AS n_sessions,
          |    coalesce(dur, 0) AS dur
          |  FROM busy JOIN pk USING (day) LEFT JOIN ar USING (day))
          |SELECT strftime(day, '%Y-%m-%d') AS day, n_sessions, busy_us,
          |  peak_concurrent,
          |  round(CAST(busy_us AS DOUBLE) / 86400000000.0, 6) AS l_avg,
          |  round(CASE WHEN n_sessions > 0 THEN CAST(dur AS DOUBLE)
          |    / n_sessions / 1000000.0 END, 6) AS w_mean_s,
          |  round(CAST(n_sessions AS DOUBLE) / 24.0, 6) AS lambda_per_hr,
          |  round(CAST(busy_us - dur AS DOUBLE) / 86400000000.0, 6)
          |    AS little_gap
          |FROM j ORDER BY day""".stripMargin,


      // measured interval cardinalities + shared plan enumeration
      "q500_join_order" -> {
        val names = Seq("region", "nation", "customer", "orders",
          "lineitem")
        val conds = Seq(("r_regionkey", "n_regionkey"),
          ("n_nationkey", "c_nationkey"), ("c_custkey", "o_custkey"),
          ("o_orderkey", "l_orderkey"))
        val cards = (for {
          lo <- names.indices; hi <- lo + 1 until names.size
        } yield {
          val joins = (lo + 1 to hi).map(m =>
            s"JOIN ${names(m)} ON ${conds(m - 1)._1} = ${conds(m - 1)._2}")
            .mkString(" ")
          s"SELECT $lo AS lo, $hi AS hi, (SELECT count(*) " +
            s"FROM ${names(lo)} $joins) AS card"
        }).mkString("\nUNION ALL\n")
        val plans = graft.operators.Profiling.chainPlans(names)
          .map { case (p, lo, hi) => s"('$p', $lo, $hi)" }
          .mkString(",\n    ")
        s"""WITH cards AS (
           |$cards),
           |plans AS (SELECT * FROM (VALUES
           |    $plans) AS t(plan, lo, hi)),
           |c2 AS (SELECT plan, CAST(SUM(card) AS BIGINT) AS cost
           |  FROM plans JOIN cards USING (lo, hi) GROUP BY 1)
           |SELECT CAST(row_number() OVER (ORDER BY cost, plan) AS INT)
           |    AS cost_rank,
           |  plan, cost
           |FROM c2 ORDER BY cost_rank""".stripMargin
      },


      // level-collapse then NOT EXISTS dominance over LEVELS only —
      // the oracle states the skyline definition, the Spark side the
      // strictly-decreasing-envelope sweep; same frontier
      "q501_pareto_skyline" ->
        """WITH lv AS (SELECT p_brand, CAST(p_size AS INT) AS p_size,
          |    min(CAST(round(p_retailprice * 100) AS BIGINT)) AS min_cents
          |  FROM part GROUP BY 1, 2)
          |SELECT p_brand, p_size, min_cents FROM lv s
          |WHERE NOT EXISTS (SELECT 1 FROM lv t WHERE t.p_brand = s.p_brand
          |  AND t.p_size > s.p_size AND t.min_cents <= s.min_cents)
          |ORDER BY p_brand, p_size""".stripMargin,


      "q502_cluster_quality" -> {
        val corpus3 =
          """SELECT doc_id, text FROM documents
            |UNION ALL
            |SELECT doc_id + 1000000 AS doc_id,
            |  substring(text, 1, greatest(length(text) - 7, 1)) AS text
            |FROM documents
            |UNION ALL
            |SELECT doc_id + 2000000 AS doc_id,
            |  substring(text, 1, greatest(length(text) - 14, 1)) AS text
            |FROM documents""".stripMargin
        s"""WITH RECURSIVE ${minhashPairCtesSfx(corpus3, "t")},
           |asg AS (SELECT c.doc_id % 1000000 AS truth,
           |    coalesce(cl.cluster_rep, c.doc_id) AS pred
           |  FROM corpus_t c LEFT JOIN cl_t cl ON c.doc_id = cl.id),
           |cells AS (SELECT pred, truth, CAST(count(*) AS BIGINT) AS n
           |  FROM asg GROUP BY 1, 2),
           |bo AS (SELECT CAST(SUM(CAST(n * (n - 1) / 2 AS BIGINT))
           |      AS BIGINT) AS same_both,
           |    CAST(SUM(n) AS BIGINT) AS n_items FROM cells),
           |bp AS (SELECT CAST(SUM(CAST(np * (np - 1) / 2 AS BIGINT))
           |      AS BIGINT) AS same_pred
           |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS np FROM cells
           |    GROUP BY pred)),
           |bt AS (SELECT CAST(SUM(CAST(nt * (nt - 1) / 2 AS BIGINT))
           |      AS BIGINT) AS same_truth
           |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells
           |    GROUP BY truth)),
           |m AS (SELECT n_items, same_both AS tp,
           |    same_pred - same_both AS fp,
           |    same_truth - same_both AS fn_,
           |    CAST(n_items * (n_items - 1) / 2 AS BIGINT) AS all_pairs
           |  FROM bo, bp, bt),
           |m2 AS (SELECT *,
           |    all_pairs - (tp + fp) - (tp + fn_) + tp AS tn FROM m)
           |SELECT n_items, tp, fp, fn_ AS fn, tn,
           |  CAST(tp AS DOUBLE) / (tp + fp) AS precision,
           |  CAST(tp AS DOUBLE) / (tp + fn_) AS recall,
           |  2.0 * tp / (2 * tp + fp + fn_) AS f1,
           |  CAST(tp + tn AS DOUBLE) / all_pairs AS rand_index,
           |  CASE WHEN (tp + fn_) * (fn_ + tn) + (tp + fp) * (fp + tn)
           |      <> 0 THEN
           |    2.0 * (tp * tn - fn_ * fp) /
           |      ((tp + fn_) * (fn_ + tn) + (tp + fp) * (fp + tn)) END
           |    AS ari
           |FROM m2""".stripMargin
      },


      "q503_set_cover" -> {
        val round = (k: Int) => {
          val prev = if (k == 1) "" else
            s"WHERE token NOT IN (SELECT token FROM c${k - 1}) "
          val cov = if (k == 1)
            "c1 AS (SELECT DISTINCT token FROM st JOIN p1 USING (source))"
          else
            s"""c$k AS (SELECT token FROM c${k - 1}
               |  UNION SELECT token FROM st JOIN p$k USING (source))"""
              .stripMargin
          s"""g$k AS (SELECT source, CAST(count(*) AS BIGINT) AS gain
             |  FROM st ${prev}GROUP BY 1),
             |p$k AS (SELECT source, gain FROM g$k
             |  ORDER BY gain DESC, source LIMIT 1),
             |$cov""".stripMargin
        }
        val rows = (1 to 6).map(k =>
          s"""SELECT CAST($k AS INT) AS round, source, gain,
             |  (SELECT count(*) FROM c$k) AS cum_covered,
             |  round(CAST((SELECT count(*) FROM c$k) AS DOUBLE) / u, 6)
             |    AS coverage
             |FROM p$k, nu""".stripMargin).mkString("\nUNION ALL\n")
        s"""WITH tk AS (SELECT source,
           |    list_filter(regexp_split_to_array(text, '\\s+'),
           |      x -> x <> '') AS ts
           |  FROM documents),
           |toks AS (SELECT source, ts[CAST(i AS INT)] || ' ' ||
           |      ts[CAST(i AS INT) + 1] AS token
           |  FROM tk, unnest(range(1, len(ts))) u(i)),
           |fr AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
           |univ AS (SELECT token FROM fr ORDER BY c ASC, token LIMIT 200),
           |st AS (SELECT DISTINCT source, token
           |  FROM toks JOIN univ USING (token)),
           |nu AS (SELECT CAST(count(*) AS BIGINT) AS u FROM univ),
           |${(1 to 6).map(round).mkString(",\n")}
           |SELECT * FROM (
           |$rows
           |) ORDER BY round""".stripMargin
      },


      "q504_bellman_ford" -> {
        val relax = (k: Int) =>
          s"""d$k AS (SELECT node, min(cost) AS cost FROM (
             |    SELECT node, cost FROM d${k - 1}
             |    UNION ALL
             |    SELECT e.dst, d.cost + e.w FROM d${k - 1} d
             |    JOIN ew e ON e.src = d.node)
             |  GROUP BY node)""".stripMargin
        s"""$knnEdgesPrefixSql,
           |ew AS (SELECT id AS src, nbr_id AS dst, CAST(rk AS BIGINT) AS w
           |  FROM (SELECT id, nbr_id, row_number() OVER (PARTITION BY id
           |      ORDER BY distance, nbr_id) AS rk FROM p)
           |  WHERE rk <= 3),
           |d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT)
           |    AS cost),
           |${(1 to 6).map(relax).mkString(",\n")}
           |SELECT node, cost AS min_cost FROM d6
           |ORDER BY min_cost, node LIMIT 30""".stripMargin
      },


      // per-fold exact sums → complement-fit β → held-out SSE identity;
      // cv_sse is the FIXED-ORDER fold0+…+fold4 pivot sum (parity rule:
      // no float aggregate ever decides or crosses engines)
      "q505_ridge_cv" ->
        """WITH f0 AS (SELECT CAST(l_quantity AS BIGINT) AS x,
          |    CAST(round(l_extendedprice) AS BIGINT) AS y,
          |    l_orderkey * 8 + l_linenumber AS k FROM lineitem),
          |h1 AS (SELECT x, y, (k * 1000003) % 2147483647 AS h FROM f0),
          |h2 AS (SELECT x, y,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h1),
          |fl AS (SELECT x, y,
          |    CAST(((xor(h, h >> 13) * 73244475) % 2147483647) % 5
          |      AS INT) AS fold FROM h2),
          |per AS (SELECT fold, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(x * x) AS BIGINT) AS sxx,
          |    CAST(SUM(x * y) AS BIGINT) AS sxy,
          |    CAST(SUM(y * y) AS BIGINT) AS syy
          |  FROM fl GROUP BY fold),
          |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
          |    CAST(SUM(sxx) AS BIGINT) AS tsxx,
          |    CAST(SUM(sxy) AS BIGINT) AS tsxy,
          |    CAST(SUM(syy) AS BIGINT) AS tsyy FROM per),
          |lam AS (SELECT CAST(lambda AS BIGINT) AS lambda FROM (VALUES
          |    (0), (1000), (100000), (10000000)) t(lambda)),
          |d AS (SELECT lambda, fold, n, sxx, sxy, syy, tn,
          |    CAST(tsxy - sxy AS DOUBLE) /
          |      CAST(tsxx - sxx + lambda AS DOUBLE) AS beta
          |  FROM per, tot, lam),
          |s AS (SELECT *, CAST(syy AS DOUBLE) - 2.0 * beta * sxy +
          |    beta * beta * sxx AS sse FROM d),
          |cv AS (SELECT lambda,
          |    max(CASE WHEN fold = 0 THEN sse END) +
          |    max(CASE WHEN fold = 1 THEN sse END) +
          |    max(CASE WHEN fold = 2 THEN sse END) +
          |    max(CASE WHEN fold = 3 THEN sse END) +
          |    max(CASE WHEN fold = 4 THEN sse END) AS cv_sse
          |  FROM s GROUP BY lambda)
          |SELECT s.lambda, s.fold, s.n AS n_fold,
          |  round(s.beta, 9) AS beta,
          |  round(s.sse / s.n, 2) AS fold_mse,
          |  round(cv.cv_sse / s.tn, 2) AS cv_mse
          |FROM s JOIN cv USING (lambda) ORDER BY s.lambda, s.fold"""
          .stripMargin,


      // the full HNSW-style descent restated in SQL: coarse 2-NN centroid
      // graph (L2), two greedy hops from cell 0, landing cell + coarse
      // neighbors yield their medoids (argmin assignment L2, ties to the
      // smaller id), then the q378 beam chain from those entries over the
      // k=3 kNN graph — every distance the same list_distance /
      // list_cosine_similarity expression trees Spark's native
      // expressions replay bit-for-bit
      "q506_hierarchical_entry" ->
        s"""WITH $codebookCte,
          |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings),
          |a AS (SELECT vec_id, centroid_id, adist FROM (
          |    SELECT e.vec_id, c.cid AS centroid_id,
          |      list_distance(e.v, c.cv) AS adist,
          |      row_number() OVER (PARTITION BY e.vec_id
          |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
          |    FROM ev e, c) WHERE rn = 1),
          |q AS (SELECT v AS qv FROM ev WHERE vec_id = 11),
          |cd AS (SELECT cid, list_distance(cv, qv) AS cdist FROM c, q),
          |ce AS (SELECT cid, ncid FROM (
          |    SELECT x.cid, y.cid AS ncid,
          |      row_number() OVER (PARTITION BY x.cid
          |        ORDER BY list_distance(x.cv, y.cv), y.cid) AS rk
          |    FROM c x JOIN c y ON x.cid <> y.cid) WHERE rk <= 2),
          |d1 AS (SELECT cid AS cur FROM (
          |    SELECT cd.cid, row_number() OVER (ORDER BY cd.cdist, cd.cid) AS rn
          |    FROM cd WHERE cd.cid = 0
          |      OR cd.cid IN (SELECT ncid FROM ce WHERE ce.cid = 0))
          |  WHERE rn = 1),
          |d2 AS (SELECT cid AS cur FROM (
          |    SELECT cd.cid, row_number() OVER (ORDER BY cd.cdist, cd.cid) AS rn
          |    FROM cd WHERE cd.cid IN (SELECT cur FROM d1)
          |      OR cd.cid IN (SELECT ncid FROM ce JOIN d1 ON ce.cid = d1.cur))
          |  WHERE rn = 1),
          |ecids AS (SELECT cur AS cid FROM d2
          |  UNION SELECT ncid AS cid FROM ce JOIN d2 ON ce.cid = d2.cur),
          |med AS (SELECT centroid_id, vec_id AS entry FROM (
          |    SELECT a.centroid_id, a.vec_id,
          |      row_number() OVER (PARTITION BY a.centroid_id
          |        ORDER BY a.adist, a.vec_id) AS rn
          |    FROM a JOIN ecids ON a.centroid_id = ecids.cid) WHERE rn = 1),
          |p AS (SELECT l.vec_id AS id, r.vec_id AS nbr_id,
          |    1.0 - list_cosine_similarity(le.v, re.v) AS distance
          |  FROM a l JOIN a r ON l.centroid_id = r.centroid_id
          |    AND l.vec_id <> r.vec_id
          |    JOIN ev le ON le.vec_id = l.vec_id
          |    JOIN ev re ON re.vec_id = r.vec_id),
          |g0 AS (SELECT id, nbr_id FROM (
          |    SELECT id, nbr_id,
          |      row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS rk
          |    FROM p) WHERE rk <= 3),
          |b0 AS (SELECT m.entry AS cand,
          |    1.0 - list_cosine_similarity(ev.v, qv) AS distance
          |  FROM med m JOIN ev ON ev.vec_id = m.entry, q
          |  ORDER BY distance, cand LIMIT 8),
          |x1 AS (SELECT DISTINCT cand FROM (
          |  SELECT g0.nbr_id AS cand FROM b0 JOIN g0 ON g0.id = b0.cand
          |  UNION ALL SELECT cand FROM b0)),
          |b1 AS (SELECT x1.cand, 1.0 - list_cosine_similarity(v, qv) AS distance
          |  FROM x1 JOIN ev ON ev.vec_id = x1.cand, q
          |  ORDER BY distance, cand LIMIT 8),
          |x2 AS (SELECT DISTINCT cand FROM (
          |  SELECT g0.nbr_id AS cand FROM b1 JOIN g0 ON g0.id = b1.cand
          |  UNION ALL SELECT cand FROM b1)),
          |b2 AS (SELECT x2.cand, 1.0 - list_cosine_similarity(v, qv) AS distance
          |  FROM x2 JOIN ev ON ev.vec_id = x2.cand, q
          |  ORDER BY distance, cand LIMIT 8)
          |SELECT CAST(row_number() OVER (ORDER BY distance, cand) AS INT) AS rank,
          |  CAST(cand AS BIGINT) AS vec_id, round(distance, 6) AS distance
          |FROM b2 ORDER BY rank LIMIT 5""".stripMargin,


      // the guard verdicts re-derived with independent SQL machinery:
      // identifier rule as regexp_full_match, fence-strip + name
      // extraction + catalog filter + cap as regexp/list functions,
      // rephrase guard as the blank-or-multiline CASE
      "q507_pipeline_guards" ->
        """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 30),
          |g AS (SELECT doc_id,
          |    CASE CAST(doc_id % 5 AS INT)
          |      WHEN 0 THEN 'tbl_' || CAST(doc_id AS VARCHAR)
          |      WHEN 1 THEN CAST(doc_id AS VARCHAR) || '_tbl'
          |      WHEN 2 THEN 'drop table t; --'
          |      WHEN 3 THEN '_ok_' || CAST(doc_id AS VARCHAR)
          |      ELSE 'v$' || CAST(doc_id AS VARCHAR) END AS ident,
          |    CASE CAST(doc_id % 4 AS INT)
          |      WHEN 0 THEN '```json' || chr(10) || '["tab1", "zzz"]' || chr(10) || '```'
          |      WHEN 1 THEN '```' || chr(10) || '["tab2", "tab1", "tab0", "tab3"]' || chr(10) || '```'
          |      WHEN 2 THEN 'no json here'
          |      ELSE '["nope"]' END AS raw,
          |    CASE CAST(doc_id % 3 AS INT)
          |      WHEN 0 THEN '  better q ' || CAST(doc_id AS VARCHAR) || '  '
          |      WHEN 1 THEN 'line1' || chr(10) || 'line2'
          |      ELSE '   ' END AS reph
          |  FROM d),
          |f AS (SELECT doc_id, ident, reph,
          |    regexp_replace(regexp_replace(trim(raw), '^```(json)?\s*', ''),
          |      '\s*```$', '') AS unf
          |  FROM g),
          |sel AS (SELECT doc_id,
          |    list_slice(list_filter(
          |      regexp_extract_all(unf, '"((?:[^"\\]|\\.)*)"', 1),
          |      x -> x IN ('tab0', 'tab1', 'tab2')), 1, 3) AS valid
          |  FROM f)
          |SELECT f.doc_id, f.ident,
          |  regexp_full_match(f.ident, '[A-Za-z_][A-Za-z0-9_]*') AS ident_valid,
          |  CASE WHEN len(sel.valid) = 0 THEN 'tab0'
          |    ELSE array_to_string(sel.valid, ',') END AS selected,
          |  CASE WHEN length(trim(f.reph)) = 0
          |      OR contains(trim(f.reph), chr(10))
          |    THEN 'orig q ' || CAST(f.doc_id AS VARCHAR)
          |    ELSE trim(f.reph) END AS rephrased
          |FROM f JOIN sel ON f.doc_id = sel.doc_id
          |ORDER BY f.doc_id""".stripMargin,


      // folded usage = two integer sums; quotas = 25 divmod nf
      "q508_usage_apportion" ->
        """WITH u AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS p,
          |    CAST(SUM(doc_id % 7) AS BIGINT) AS c FROM documents),
          |f AS (SELECT CAST(COUNT(DISTINCT source) AS INT) AS nf
          |  FROM documents),
          |i AS (SELECT CAST(unnest(range(nf)) AS INT) AS file_idx FROM f)
          |SELECT i.file_idx,
          |  CAST(25 // f.nf +
          |    CASE WHEN i.file_idx < 25 % f.nf THEN 1 ELSE 0 END AS INT)
          |    AS quota,
          |  u.p AS prompt_total, u.c AS completion_total,
          |  u.p + u.c AS total_tokens
          |FROM i, f, u ORDER BY file_idx""".stripMargin,


      // route table restated row by row: vecsearch doc counts replayed
      // via the q381 n3/n7 CTEs, nl2sql answers from count(*), llmonly
      // and grade-fail rows are exact constants
      "q509_route_matrix" ->
        """WITH dc AS (SELECT count(*) AS d FROM documents),
          |q3 AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3),
          |q7 AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
          |s3 AS (SELECT vec_id AS id, 'vec-' || CAST(vec_id % 50 AS VARCHAR) AS text,
          |    1.0 - (1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)) / 2.0 AS score,
          |    row_number() OVER (PARTITION BY label % 2
          |      ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), vec_id) AS rk
          |  FROM embeddings, q3),
          |n3 AS (SELECT count(*) AS n FROM (
          |  SELECT 1 FROM (SELECT *, row_number() OVER (
          |      PARTITION BY md5(text) ORDER BY score DESC, id) AS rn
          |    FROM s3 WHERE rk <= 8 AND score >= 0.65) WHERE rn = 1
          |  ORDER BY score DESC, id LIMIT 8)),
          |s7 AS (SELECT vec_id AS id, 'vec-' || CAST(vec_id % 50 AS VARCHAR) AS text,
          |    1.0 - (1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv)) / 2.0 AS score,
          |    row_number() OVER (PARTITION BY label % 2
          |      ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), vec_id) AS rk
          |  FROM embeddings, q7),
          |n7 AS (SELECT count(*) AS n FROM (
          |  SELECT 1 FROM (SELECT *, row_number() OVER (
          |      PARTITION BY md5(text) ORDER BY score DESC, id) AS rn
          |    FROM s7 WHERE rk <= 8 AND score >= 0.65) WHERE rn = 1
          |  ORDER BY score DESC, id LIMIT 8))
          |SELECT * FROM (
          |  SELECT 0 AS case_id, false AS vec_on, false AS sql_on,
          |    false AS grade_on, true AS grade_vote, 'llmonly' AS route,
          |    CAST(0 AS BIGINT) AS n_docs,
          |    '[hello there] -> 0 docs' AS answer
          |  UNION ALL SELECT 1, true, false, true, true, 'vecsearch',
          |    CAST(n3.n AS BIGINT),
          |    '[describe vec 3 design patterns] -> ' || n3.n || ' docs'
          |  FROM n3
          |  UNION ALL SELECT 2, true, false, true, false, 'vecsearch',
          |    CAST(n3.n AS BIGINT),
          |    '[describe vec 3 design patterns] -> 0 docs'
          |  FROM n3
          |  UNION ALL SELECT 3, false, true, false, true, 'nl2sql',
          |    0, 'docs=' || d FROM dc
          |  UNION ALL SELECT 4, true, true, false, true, 'combined',
          |    0, 'docs=' || d FROM dc
          |  UNION ALL SELECT 5, true, true, false, true, 'combined',
          |    CAST(n3.n AS BIGINT),
          |    '[describe vec 3 design patterns] -> ' || n3.n || ' docs'
          |  FROM n3
          |  UNION ALL SELECT 6, true, true, false, true, 'combined',
          |    CAST(n7.n AS BIGINT), 'docs=' || d || chr(10) ||
          |    '[summarize vec 7 blend] -> ' || n7.n || ' docs'
          |  FROM n7, dc)
          |ORDER BY case_id""".stripMargin
  )
}
