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

/** Query builders + DuckDB oracles q320-q368, split verbatim from
  * SparkEntry (see its scaladoc for the oracle-parity contract; NOTES.md
  * for the hash/decimal replay rules). */
private[graft] object Queries320to368 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    "q320_obf_monitor" -> ((s, dir) => {
      // peeking-safe weekly experiment monitor: cumulative Welch z per
      // calendar-week look against the O'Brien-Fleming-style boundary
      // z_α·√(K/k) — q226's null split read safely every week instead
      // of once. Exact-decimal cumulants; the weekly frame is bounded
      val ev = events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(expr(
          "cast(datediff(cast(ts as date), date'1970-01-01') div 7 as int)")
          .as("wk"),
          (Sketches.keyHash(col("user_id")) % 2 === 0).as("arm"),
          round(col("value") * 100).cast("long").as("v100"))
      Stats.obfMonitor(ev, "wk", "arm", "v100", zAlpha = 2.04)
        .orderBy("wk")
    }),


    "q321_label_noise" -> ((s, dir) => {
      // confident-learning label screen over the q101 kNN graph: per
      // vector, the share of its 3 nearest same-cell neighbors whose
      // label differs, plus the neighborhood majority — the relabel
      // worklist a pipeline reviews before training on the corpus
      val e = tbl(s, dir, "embeddings")
      val graph = storedKnnGraph(s, dir)
      Evaluation.labelNoiseScreen(graph,
          e.select("vec_id", "label"), "vec_id", "label")
        .orderBy("id")
    }),


    "q322_qte" -> ((s, dir) => {
      // quantile treatment effects: exact p25/p50/p75/p90 of purchase
      // cents per hash arm and their per-quantile gap — does the
      // "treatment" move the median or only the tail the q226 mean sees?
      val ev = events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select((Sketches.keyHash(col("user_id")) % 2 === 0).as("arm"),
          round(col("value") * 100).cast("long").as("v100"))
      Stats.quantileTreatmentEffect(ev, "arm", "v100", Seq(25, 50, 75, 90))
        .orderBy("pct")
    }),


    "q323_did" -> ((s, dir) => {
      // difference-in-differences over the hash arms: pre/post split at
      // the midpoint week, per-cell exact-decimal means, DiD estimate —
      // the launch readout that cancels any level shift both arms share
      val ev = events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(expr(
          "cast(datediff(cast(ts as date), date'1970-01-01') div 7 as int)")
          .as("wk"),
          (Sketches.keyHash(col("user_id")) % 2 === 0).as("arm"),
          round(col("value") * 100).cast("long").as("v100"))
      val b = ev.agg(min("wk").as("w0"), max("wk").as("w1"))
      val flagged = ev.crossJoin(broadcast(b))
        .withColumn("post", col("wk") >= expr("(w0 + w1 + 1) div 2"))
      Stats.diffInDiff(flagged, "arm", "post", "v100")
    }),


    "q324_impact_pruned" -> ((s, dir) => {
      // tiered-index audit: per-term postings cut to the 32 highest-tf
      // entries, BM25 over the survivors with full-corpus stats, each
      // pruned-top-20 row flagged by membership in the exact top-20 —
      // the quality price of bounding worst-case posting-list scans
      val d = tbl(s, dir, "documents")
      val terms = Seq("spark", "join", "vector", "window")
      val full = storedBm25(s, dir, terms, 20)
      val pruned = Retrieval.bm25ImpactPruned(d, "doc_id", "text", terms,
        20, keepPerTerm = 32)
      pruned
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id").asc)).cast("int"))
        .join(full.select(col("id"), lit(true).as("in_full")),
          Seq("id"), "left")
        .select(col("rank"), col("id"), col("score"), col("n_matched"),
          coalesce(col("in_full"), lit(false)).as("in_full"))
        .orderBy("rank")
    }),


    "q325_agg_state_merge" -> ((s, dir) => {
      // incremental-view maintenance gate: purchase cents fold to two
      // per-batch algebraic states (split at the midpoint week), the
      // states MERGE — and the oracle recomputes from raw events, so
      // hash equality proves merge ≡ recompute: yesterday's corpus
      // never rescans, only the new batch aggregates
      val ev = events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          expr(
            "cast(datediff(cast(ts as date), date'1970-01-01') div 7 as int)")
            .as("wk"),
          round(col("value") * 100).cast("long").as("v100"))
      val b = ev.agg(min("wk").as("w0"), max("wk").as("w1"))
      val tagged = ev.crossJoin(broadcast(b))
        .withColumn("post", col("wk") >= expr("(w0 + w1 + 1) div 2"))
      val s1 = ChangeDetection.aggState(tagged.filter(!col("post")),
        Seq("event_type"), "v100")
      val s2 = ChangeDetection.aggState(tagged.filter(col("post")),
        Seq("event_type"), "v100")
      // the exact decimal sum crosses the compare as a STRING: DuckDB's
      // pandas bridge floats DECIMAL(38,0), strings stay exact any scale
      ChangeDetection.mergeAggStates(Seq(s1, s2), Seq("event_type"))
        .withColumn("sv", col("sv").cast("string"))
        .orderBy("event_type")
    }),


    "q326_flesch" -> ((s, dir) =>
      // Flesch reading-ease + FK grade per doc from exact word /
      // sentence / vowel-group-syllable counts — two map-side regex
      // scans, literal-coefficient arithmetic, zero shuffle
      TextQuality.fleschMetrics(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),


    "q327_jaccard_prefix_join" -> ((s, dir) => {
      // EXACT set-similarity self-join by prefix filtering (AllPairs /
      // PPJoin): candidates only where rarest-token prefixes collide,
      // then exact intersection verify — the oracle is the BRUTE-FORCE
      // all-pairs Jaccard, so hash equality PROVES the filter lossless
      val d = tbl(s, dir, "documents").filter(col("doc_id") < 60)
      val corpus = d.select(col("doc_id"), col("text")).union(
        d.select(col("doc_id") + 2000,
          expr("substring(text, 1, greatest(length(text) - 12, 1))")))
      Dedup.jaccardPrefixJoin(corpus, "doc_id", "text", 0.7)
        .orderBy("doc_a", "doc_b")
    }),


    "q328_jl_distortion" -> ((s, dir) => {
      // Johnson–Lindenstrauss audit: 64-dim vectors projected onto 8
      // seeded Gaussian planes (the sign-LSH hyperplanes), per-pair true
      // vs 1/sqrt(k)-rescaled projected euclidean distance and their
      // ratio — the measured (1±ε) that justifies searching in the
      // compressed space before the full-dimension re-rank
      val e = tbl(s, dir, "embeddings").filter(col("vec_id") < 40)
      Quantization.jlDistortionPairs(e, "vec_id", "embedding", 64, 8)
        .orderBy("a", "b")
    }),


    "q329_conformal" -> ((s, dir) => {
      // split conformal prediction on purchase values: train folds fit
      // the per-type mean, calibration folds take the ceil((n+1)·0.9)-th
      // smallest |residual| as qhat, test folds report achieved coverage
      // of ±qhat — a distribution-free interval from three hash folds
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("v100"))
      Stats.splitConformal(ev, "event_type", "event_id", "v100")
        .orderBy("event_type")
    }),


    "q330_edit_distance_join" -> ((s, dir) => {
      // LOSSLESS edit-distance self-join: positional q-gram count filter
      // (Gravano VLDB'01) generates candidates, levenshtein verifies —
      // the oracle is the unfiltered all-pairs join, so hash equality
      // proves the count+length filters drop no true pair
      val p = tbl(s, dir, "part").filter(col("p_partkey") < 300)
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val corpus = p.union(p.select(col("id") + 10000,
        expr("concat(substring(name, 1, 4), 'z', substring(name, 6))")))
      Linkage.editDistanceJoin(corpus, "id", "name", maxDist = 2, q = 2)
        .orderBy("id_a", "id_b")
    }),


    "q331_rake_keywords" -> ((s, dir) =>
      // RAKE keyword extraction: stopword/punct-delimited phrase runs,
      // word score deg/freq over all phrase slots, phrase = decimal-exact
      // sum of word scores; global top-25 distinct phrases
      TextQuality.rakeKeywords(tbl(s, dir, "documents"), "doc_id", "text", 25)
        .orderBy("rank")),


    "q332_mutual_knn" -> ((s, dir) => {
      // mutual-kNN symmetrization of the q101 bucket-local graph: keep
      // only reciprocated edges — the HDBSCAN/SemDeDup neighborhood
      // evidence that survives density gaps one-sided kNN edges cross
      val g = storedKnnGraph(s, dir)
      GraphAnalytics.mutualEdges(g, "id", "nbr_id")
        .join(g.select(col("id").as("a"), col("nbr_id").as("b"),
          col("distance")), Seq("a", "b"))
        .select(col("a"), col("b"), round(col("distance"), 6).as("distance"))
        .orderBy("a", "b")
    }),


    "q333_cdc_chunks" -> ((s, dir) => {
      // content-defined chunking shift-resilience gate: each doc and a
      // prefix-inserted twin chunked by rolling-hash boundaries; the
      // shared-chunk fraction shows CDC re-synchronizing after the edit
      // where a fixed-window splitter would re-cut everything — the
      // re-embed-only-what-changed contract of incremental ingest
      val d = tbl(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val corpus = d.union(d.select(col("doc_id") + 3000,
        concat(lit("inserted preamble "), col("text"))))
      val ch = Chunker.contentDefinedChunks(corpus, "doc_id", "text", 8, 32)
      val a = ch.filter(col("doc_id") < 3000)
        .select(col("doc_id"), col("chunk")).distinct()
      val b = ch.filter(col("doc_id") >= 3000)
        .select((col("doc_id") - 3000).as("doc_id"), col("chunk")).distinct()
      val na = a.groupBy("doc_id").agg(count(lit(1)).as("n_chunks_orig"))
      val nb = b.groupBy("doc_id").agg(count(lit(1)).as("n_chunks_twin"))
      val sh = a.join(b, Seq("doc_id", "chunk"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      na.join(nb, Seq("doc_id"))
        .join(sh, Seq("doc_id"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("shared_frac",
          col("n_shared").cast("double") / col("n_chunks_orig"))
        .orderBy("doc_id")
    }),


    "q334_hll_rollup" -> ((s, dir) => {
      // sketch-rollup mergeability gate: weekly per-type HLL register
      // shards max-merge up the hierarchy (type, then global) and the
      // oracle computes each level DIRECTLY from raw keys — equality
      // proves the persisted-shard merge path rescans nothing
      val ev = events(s, dir).withColumn("wk", expr(
        "cast(datediff(cast(ts as date), date'1970-01-01') div 7 as int)"))
      val leaf = Sketches.hllRegisters(ev, Seq("event_type", "wk"),
        "user_id", 5)
      val perType = Sketches.hllMergeEstimate(
        leaf.select(col("event_type"), col("b"), col("mx")), "event_type", 5)
      val global = Sketches.hllMergeEstimate(
        leaf.select(lit("ALL").as("key"), col("b"), col("mx")), "key", 5)
      val exT = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      val exG = ev.agg(countDistinct("user_id").as("n_exact"))
        .withColumn("key", lit("ALL"))
      perType.join(exT, "event_type")
        .select(lit("event_type").as("level"),
          col("event_type").as("key"), col("n_exact"), col("hll_est"))
        .unionByName(global.join(exG, "key")
          .select(lit("global").as("level"), col("key"), col("n_exact"),
            col("hll_est")))
        .orderBy("level", "key")
    }),


    "q335_target_encoding" -> ((s, dir) => {
      // leave-one-out target encoding of order priority by order value:
      // naive group mean (leaks the row's own target), LOO (sum minus
      // self), and m=20 global-mean-smoothed LOO — the categorical
      // feature transform a tabular training pipeline fits as two
      // broadcast-sized aggregates regardless of corpus size
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast("long").as("v100"))
      val g = o.groupBy("prio").agg(count(lit(1)).as("n"),
        sum(col("v100").cast("decimal(38,0)")).as("sv"))
      val glob = o.agg(count(lit(1)).as("ng"),
        sum(col("v100").cast("decimal(38,0)")).as("svg"))
      o.filter(col("o_orderkey") < 200)
        .join(broadcast(g), Seq("prio"))
        .crossJoin(broadcast(glob))
        .withColumn("mu", col("svg").cast("double") / col("ng"))
        .withColumn("enc_naive", col("sv").cast("double") / col("n"))
        .withColumn("enc_loo", when(col("n") > 1,
          (col("sv") - col("v100")).cast("double") / (col("n") - 1)))
        .withColumn("enc_smooth",
          ((col("sv") - col("v100")).cast("double") + lit(20.0) * col("mu")) /
            (col("n") - 1 + 20))
        .select(col("o_orderkey"), col("prio"), col("v100"),
          round(col("enc_naive"), 6).as("enc_naive"),
          round(col("enc_loo"), 6).as("enc_loo"),
          round(col("enc_smooth"), 6).as("enc_smooth"))
        .orderBy("o_orderkey")
    }),


    "q336_range_join" -> ((s, dir) => {
      // banded interval join: order-anchored promo windows × shipment
      // days as an EQUI-join on 16-day bands + exact BETWEEN — the
      // theta-join Catalyst would otherwise plan as a nested loop
      val iv = tbl(s, dir, "orders").filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
            .cast("long").as("lo"))
        .withColumn("hi", col("lo") + col("o_orderkey") % 30)
      val pts = tbl(s, dir, "lineitem").filter(col("l_orderkey") < 6000)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(to_date(col("l_shipdate")), lit("1992-01-01").cast("date"))
            .cast("long").as("p"))
      Joins.rangeJoin(pts, "p", iv, "lo", "hi", 16L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_points"),
          min("p").as("first_day"), max("p").as("last_day"))
        .orderBy("o_orderkey")
    }),


    "q337_fellegi_sunter" -> ((s, dir) => {
      // Fellegi–Sunter log-likelihood linkage over nation-blocked
      // customer pairs: u from each field's value distribution, m=0.95
      // prior, per-field ln evidence summed in fixed order — positive
      // score = more likely a true match than a chance pairing
      val c = tbl(s, dir, "customer").filter(col("c_custkey") < 400)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          // +10^6 keeps the dividend positive: Spark div truncates toward
          // zero, DuckDB // floors — they only agree on non-negatives
          expr("(cast(round(c_acctbal * 100) as bigint) + 1000000) div 100000")
            .as("bal_bucket"),
          substring(col("c_name"), 1, 12).as("name_pfx"))
      val corpus = c.union(c.select(col("c_custkey") + 10000,
        col("c_nationkey"), col("c_mktsegment"),
        col("bal_bucket") + col("c_custkey") % 2, col("name_pfx")))
      Linkage.fellegiSunter(corpus, "c_custkey", "c_nationkey",
          Seq("c_mktsegment", "bal_bucket", "name_pfx"))
        .filter(col("score") > 0)
        .select(col("id_a"), col("id_b"), col("n_agree"),
          round(col("score"), 6).as("score"))
        .orderBy("id_a", "id_b")
    }),


    "q338_neyman" -> ((s, dir) =>
      // Neyman optimal allocation of a 1000-row sample budget across
      // event-type strata ∝ N_h·σ_h, largest-remainder integer rounding
      // — allocations sum to the budget exactly
      Sampling.neymanAllocation(
        events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("v100")),
        "event_type", "v100", 1000L)
        .orderBy("stratum")),


    "q339_split_leakage" -> ((s, dir) => {
      // eval-integrity audit: near-dup clusters (q56's corpus) crossed
      // with a naive 80/20 hash split — any cluster with members on BOTH
      // sides leaks paraphrases of training docs into the eval; the fix
      // is splitting by cluster rep, and this query measures the blast
      // radius of not doing so
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      val pairs = nearDupPairs(corpus)
      val clusters = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      Sampling.splitLeakageAudit(
          clusters.select(col("id"), col("cluster_rep")), "id", "cluster_rep")
        .orderBy("cluster_rep")
    }),


    "q340_psi_drift" -> ((s, dir) => {
      // population stability index of purchase-value distributions,
      // first-half vs second-half weeks per event type — the scorecard
      // drift gate (>0.2 = investigate) with add-one smoothing so empty
      // bins stay finite and replayable
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"),
          expr(
            "cast(datediff(cast(ts as date), date'1970-01-01') div 7 as int)")
            .as("wk"),
          round(col("value") * 100).cast("long").as("v100"))
      val b = ev.agg(min("wk").as("w0"), max("wk").as("w1"))
      val tagged = ev.crossJoin(broadcast(b))
        .withColumn("post", col("wk") >= expr("(w0 + w1 + 1) div 2"))
      Stats.psiDrift(tagged.filter(!col("post")), tagged.filter(col("post")),
          "event_type", "v100", binWidth = 5000L, nBins = 20)
        .orderBy("event_type")
    }),


    "q341_mad_outliers" -> ((s, dir) =>
      // robust outlier screen: exact per-type median and MAD, values
      // beyond 3·1.4826·MAD counted — the scale estimate a wild value
      // cannot inflate, run before trusting any mean/σ monitor
      Stats.madOutliers(events(s, dir).filter(col("value").isNotNull)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("v100")),
        "event_type", "v100")
        .orderBy("event_type")),


    "q342_overlap_join" -> ((s, dir) => {
      // interval × interval overlap join, banded: shipment in-transit
      // windows against order-anchored promo windows — each overlapping
      // pair found exactly once via the max-lo band-ownership rule
      val d92 = lit("1992-01-01").cast("date")
      val promo = tbl(s, dir, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), d92).cast("long").as("p_lo"))
        .withColumn("p_hi", col("p_lo") + col("o_orderkey") % 14)
      val ship = tbl(s, dir, "lineitem").filter(col("l_orderkey") < 3000)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(to_date(col("l_shipdate")), d92).cast("long").as("s_lo"))
        .withColumn("s_hi",
          col("s_lo") + (col("l_orderkey") + col("l_linenumber")) % 10)
      Joins.overlapJoin(ship, "s_lo", "s_hi", promo, "p_lo", "p_hi", 16L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_overlaps"),
          min("s_lo").as("first_lo"), max("s_hi").as("last_hi"))
        .orderBy("o_orderkey")
    }),


    "q343_prf_expansion" -> ((s, dir) => {
      // pseudo-relevance feedback (RM3-lite): base BM25 top-10 yields 3
      // expansion terms by in-set tf × idf, the expanded query re-ranks,
      // and each result is flagged by base-top-10 membership — the
      // recall lift mechanism of classic query expansion
      import s.implicits._
      val d = tbl(s, dir, "documents")
      val baseTerms = Seq("spark", "join")
      val base = storedBm25(s, dir, baseTerms, 10)
      val exp = Retrieval.prfExpandTerms(d, "doc_id", "text", baseTerms,
          10, 3)
        .select("term").as[String].collect().toSeq.sorted
      storedBm25(s, dir, baseTerms ++ exp, 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id").asc)).cast("int"))
        .join(base.select(col("id"), lit(true).as("in_base")), Seq("id"),
          "left")
        .select(col("rank"), col("id"), col("score"), col("n_matched"),
          coalesce(col("in_base"), lit(false)).as("in_base"))
        .orderBy("rank")
    }),


    "q344_brier" -> ((s, dir) =>
      // Murphy decomposition of the Brier score: the quality score as a
      // probability that a doc is long-form — reliability (distance from
      // the diagonal), resolution (outcome separation), uncertainty
      Evaluation.brierDecomposition(
        tbl(s, dir, "documents").select(
          TF.qualityScore(col("text")).as("p"),
          (col("n_chars") >= 1000).as("o")),
        "p", "o", nBins = 10)),


    "q345_woe_iv" -> ((s, dir) =>
      // weight of evidence per quality-score bin + information value of
      // the whole feature — the credit-scoring answer to "does this
      // score separate long-form from short-form at all"
      Evaluation.weightOfEvidence(
        tbl(s, dir, "documents").select(
          TF.qualityScore(col("text")).as("p"),
          (col("n_chars") >= 1000).as("o")),
        "p", "o", nBins = 10)
        .orderBy("bin")),


    "q346_heaps_law" -> ((s, dir) =>
      // Heaps'-law vocabulary growth fit V(n) ≈ K·n^β over doc-order
      // checkpoints: β far from ~0.5 smells synthetic, templated, or
      // noisy vocab — a one-row corpus-health fingerprint
      NgramLm.heapsLawFit(tbl(s, dir, "documents"), "doc_id", "text")),


    "q347_clustering_coef" -> ((s, dir) => {
      // local clustering coefficient over the mutual-kNN graph: tight
      // near-dup cliques (coef → 1) vs hub-and-spoke neighborhoods
      // (coef → 0) — the topology signal behind SemDeDup-style pruning
      val g = storedKnnGraph(s, dir)
      GraphAnalytics.clusteringCoefficient(
          GraphAnalytics.mutualEdges(g, "id", "nbr_id"), "a", "b")
        .withColumn("coef", round(col("coef"), 6))
        .orderBy("id")
    }),


    "q348_modularity" -> ((s, dir) => {
      // Newman modularity of the IVF cell partition over the mutual-kNN
      // graph: does the partition the index prunes by actually hold the
      // neighbor-graph mass? Per-cell terms + the global Q on every row;
      // BOTH standing stores serve here — cells from the AnnStore, edges
      // from the kNN GraphStore
      val assigned = storedAssigned(s, dir)
        .select(col("vec_id"), col("centroid_id"))
      val g = storedKnnGraph(s, dir)
      GraphAnalytics.modularity(
          GraphAnalytics.mutualEdges(g, "id", "nbr_id"), "a", "b",
          assigned.select(col("vec_id"), col("centroid_id")),
          "vec_id", "centroid_id")
        .orderBy("c")
    }),


    "q349_transition_entropy" -> ((s, dir) => {
      // conditional next-event entropy of the q187 session transitions:
      // per from-state predictability (0 = deterministic funnel) and the
      // globally weighted H(next|current) — the information-theoretic
      // one-number summary of behavioral structure
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 30L * 60 * 1000000
      val pairs = events(s, dir)
        .select("user_id", "event_id", "ts", "event_type")
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .withColumn("_gap",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("from_type").isNotNull && col("_gap") <= gapUs)
        .select(col("from_type"), col("event_type").as("to_type"))
      Stats.conditionalEntropy(pairs, "from_type", "to_type")
        .orderBy("from_type")
    }),


    "q350_permutation_test" -> ((s, dir) =>
      // deterministic permutation test on per-event purchase values:
      // k=0 is the production A/B bucketing (q226's arms), k=1..64 are
      // hash re-labelings — an assumption-free p-value beside Welch
      Stats.permutationTest(events(s, dir).filter(col("value").isNotNull)
          .select(col("user_id"),
            round(col("value") * 100).cast("long").as("v100")),
        "user_id", "v100", nPerms = 64)),


    "q351_seasonal_residuals" -> ((s, dir) => {
      // STL-lite anomaly screen on daily event counts: centered 7-day
      // trend, day-of-week seasonal, residual z-flags — the monitor that
      // doesn't page every weekend like a raw z-score does
      val daily = events(s, dir)
        .select(expr(
          "cast(datediff(cast(ts as date), date'1970-01-01') as long)")
          .as("day"))
        .groupBy("day").agg(count(lit(1)).as("n"))
      Stats.seasonalResiduals(daily, "day", "n").orderBy("day")
    }),


    "q352_k_anonymity" -> ((s, dir) => {
      // k-anonymity generalization ladder over customer quasi-
      // identifiers: each level drops the most specific column; release
      // at the first level whose smallest equivalence class reaches k=5
      val c = tbl(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("(cast(round(c_acctbal * 100) as bigint) + 1000000) div 100000")
            .as("bal_bucket"))
      Governance.kAnonymityLadder(c,
          Seq(Seq("c_nationkey", "c_mktsegment", "bal_bucket"),
            Seq("c_nationkey", "c_mktsegment"),
            Seq("c_mktsegment"), Seq()), k = 5)
        .orderBy("level")
    }),


    "q353_map_eval" -> ((s, dir) => {
      // mean average precision of the IVF probe against the exact
      // top-10 — the rank-sensitive gate beside q103's recall@k: equal
      // recall separates here by where the hits sit in the list;
      // assignment served from the standing AnnStore
      val e = tbl(s, dir, "embeddings")
      val assigned = storedAssigned(s, dir)
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val approx = Similarity.ivfSearchBatch(assigned, "embedding", "vec_id",
        codebook(s, dir), "cid", "cv", queries, "qv", "qid", 10, 2)
      val exact = Similarity.topKBatch(e, "embedding", "vec_id",
        queries, "qv", "qid", 10)
      Evaluation.meanAveragePrecision(approx, exact, "query_id", "vec_id",
          "rank")
        .orderBy("query_id")
    }),


    "q354_davies_bouldin" -> ((s, dir) => {
      // Davies–Bouldin validity of the IVF partition: per-cell scatter
      // vs centroid separation — lower = tighter, better-separated
      // cells; the label-free number for choosing k / auditing drift;
      // members served from the standing AnnStore (cells + distances)
      val centroids = codebook(s, dir)
      val assigned = storedAssigned(s, dir)
        .select(col("centroid_id"), col("centroid_dist"))
      Clustering.daviesBouldin(assigned, "centroid_id", "centroid_dist",
          centroids, "cid", "cv")
        .orderBy("cid")
    }),


    "q355_silhouette" -> ((s, dir) => {
      // simplified silhouette: own-centroid vs second-nearest-centroid
      // distance per point — the quadratic-free silhouette that still
      // separates interior points from boundary points, per cell
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      Clustering.simplifiedSilhouette(e, "embedding", "vec_id",
          centroids, "cid", "cv")
        .orderBy("cid")
    }),


    "q356_category_drift" -> ((s, dir) => {
      // enum-domain drift of part brands across the 1994/1995 shipment
      // split: named new/gone categories + the top-10 share shifts —
      // the audit that catches an upstream schema change before any
      // distribution test fires
      val li = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), year(to_date(col("l_shipdate"))).as("yr"))
      Profiling.categoryDrift(li.filter(col("yr") <= 1994),
          li.filter(col("yr") >= 1995), "p_brand", topK = 10)
        .orderBy(col("shift").desc, col("cat"))
    }),


    "q357_changelog_apply" -> ((s, dir) => {
      // CDC catch-up: the whole event backlog compacts to final state in
      // ONE struct-max aggregate — last writer per user wins, a final
      // 'error' op tombstones the key — instead of replaying the log row
      // by row
      val log = events(s, dir).filter(col("user_id") < 300)
        .select(col("user_id"), col("event_id").as("version"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("event_type"),
          coalesce(round(col("value") * 100).cast("long"), lit(0L))
            .as("v100"))
      ChangeDetection.applyChangelog(log, "user_id", "version", "op")
        .orderBy("user_id")
    }),


    "q358_rolling_corr" -> ((s, dir) => {
      // 14-day rolling Pearson of daily activity vs daily revenue — the
      // time-varying answer to q111's single corr: the weeks where the
      // relationship inverts are exactly what the average hides
      val daily = events(s, dir)
        .groupBy(expr(
          "cast(datediff(cast(ts as date), date'1970-01-01') as long)")
          .as("day"))
        .agg(count(lit(1)).as("x"),
          coalesce(sum(round(col("value") * 100).cast("long")), lit(0L))
            .as("y"))
      Stats.rollingCorrelation(daily, "day", "x", "y", window = 14)
        .orderBy("day")
    }),


    "q359_order_reconciliation" -> ((s, dir) => {
      // double-entry close: order headers vs the sum of their line
      // amounts in exact cents — mismatch count, total drift, and the
      // top-20 worst deltas (headers with no lines reconcile against 0)
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("o_cents"))
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax")) * 100).cast("long").as("line_cents"))
      Profiling.reconcileTotals(o, "o_orderkey", "o_cents",
          li, "l_orderkey", "line_cents", topK = 20)
        .orderBy("key")
    }),


    "q360_blocking_quality" -> ((s, dir) => {
      // blocking-scheme scorecard on a known-truth corpus: nation
      // blocking's reduction ratio vs its pairs completeness — half the
      // twins shift nation, so the block that saves the most work also
      // silently drops half the true matches
      val c = tbl(s, dir, "customer").filter(col("c_custkey") < 400)
        .select(col("c_custkey").as("id"), col("c_nationkey").as("nat"))
      val corpus = c.union(c.select(col("id") + 10000,
        pmod(col("nat") + col("id") % 2, lit(25))))
      val truth = c.select(col("id").as("a"), (col("id") + 10000).as("b"))
      val cand = corpus.select(col("nat"), col("id").as("a"))
        .join(corpus.select(col("nat"), col("id").as("b")), Seq("nat"))
        .filter(col("a") < col("b")).select("a", "b")
      val nRecords = 2L * c.count()
      Linkage.blockingQuality(cand, "a", "b", truth, "a", "b", nRecords)
    }),


    "q361_churn_sensitivity" -> ((s, dir) => {
      // churn-definition sensitivity: the churned-user share at 7/14/21/
      // 28-day inactivity thresholds — the curve that shows how much the
      // reported churn rate is an artifact of the chosen cutoff
      val ev = events(s, dir)
      val users = ev.groupBy("user_id")
        .agg(max(unix_micros(col("ts"))).as("last_us"))
      val mx = users.agg(max("last_us").as("max_us"))
      users.crossJoin(broadcast(mx))
        .withColumn("t_days", explode(expr("array(7L, 14L, 21L, 28L)")))
        .groupBy("t_days").agg(count(lit(1)).as("n_users"),
          sum(when(col("last_us") <
            col("max_us") - col("t_days") * 86400000000L, 1L).otherwise(0L))
            .as("n_churned"))
        .withColumn("churn_rate",
          round(col("n_churned").cast("double") / col("n_users"), 6))
        .orderBy("t_days")
    }),


    "q362_anisotropy" -> ((s, dir) =>
      // embedding-space anisotropy: ||mean vector|| vs mean norm — the
      // common-component audit that predicts crushed cosine contrast and
      // says whether all-but-the-top (q193) removal is needed pre-index
      Spectral.anisotropyAudit(tbl(s, dir, "embeddings"), "embedding", 64)),


    "q363_boilerplate_lines" -> ((s, dir) =>
      // per-doc boilerplate share: 12-token pseudo-lines appearing in
      // ≥3 distinct docs are template scaffolding; a doc that is MOSTLY
      // such lines should drop whole — the verdict global line dedup
      // doesn't give
      TextQuality.boilerplateLineShare(tbl(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("id")),


    "q364_ngram_novelty" -> ((s, dir) =>
      // eval-split phrasing leakage: the share of the test fold's
      // distinct 4-grams never seen in the train fold — novelty near 0
      // means the eval re-tests memorized surface forms
      Dedup.ngramNovelty(tbl(s, dir, "documents"), "doc_id", "text",
        n = 4)),


    "q365_intrinsic_dim" -> ((s, dir) => {
      // two-NN intrinsic dimension over the cell-local kNN graph: is
      // the 64-dim embedding really 64-dimensional, or does it live on
      // a thin manifold where aggressive IVF/PQ configs are safe?
      val g = storedKnnGraph(s, dir)
      Similarity.intrinsicDimension(g, "id", "rank", "distance")
    }),


    "q366_ratio_metric" -> ((s, dir) => {
      // delta-method A/B inference for a RATIO metric (purchase revenue
      // per event, unit = user): the covariance correction a per-event
      // z-test silently drops; per-arm ratio/SE and the two-arm z
      val u = events(s, dir).groupBy("user_id").agg(
        coalesce(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long"))), lit(0L)).as("x"),
        count(lit(1)).as("y"))
        .withColumn("arm", Sketches.keyHash(col("user_id")) % 2 === 0)
      Stats.ratioMetricDelta(u, "arm", "x", "y").orderBy("arm")
    }),


    "q367_mase_forecast" -> ((s, dir) =>
      // forecast-baseline gate on daily event counts: seasonal-naive
      // (lag 7) vs naive (lag 1) MAE — mase < 1 says the weekly cycle is
      // real signal a forecaster must model
      Stats.maseSeasonalNaive(events(s, dir)
          .groupBy(expr(
            "cast(datediff(cast(ts as date), date'1970-01-01') as long)")
            .as("day"))
          .agg(count(lit(1)).as("n")),
        "day", "n", season = 7)),


    "q368_funnel_ab" -> ((s, dir) => {
      // per-step funnel conversion under the production A/B bucketing:
      // pooled two-proportion z at view→click and click→purchase — the
      // step-level read a whole-funnel comparison smears away
      val u = events(s, dir).groupBy("user_id").agg(
        max(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("p"))
        .withColumn("arm", Sketches.keyHash(col("user_id")) % 2 === 0)
        .withColumn("s2",
          when(col("v") === 1 && col("c") === 1, 1L).otherwise(0L))
        .withColumn("s3",
          when(col("s2") === 1 && col("p") === 1, 1L).otherwise(0L))
      u.select(col("arm"), explode(array(
          struct(lit(2).as("step"), col("v").as("prev"), col("s2").as("conv")),
          struct(lit(3).as("step"), col("s2").as("prev"), col("s3").as("conv"))))
          .as("st"))
        .select(col("arm"), col("st.step").as("step"),
          col("st.prev").as("prev"), col("st.conv").as("conv"))
        .filter(col("prev") === 1)
        .groupBy("step").agg(
          sum(when(col("arm"), 1L).otherwise(0L)).as("n_t"),
          sum(when(col("arm"), col("conv")).otherwise(0L)).as("conv_t"),
          sum(when(!col("arm"), 1L).otherwise(0L)).as("n_c"),
          sum(when(!col("arm"), col("conv")).otherwise(0L)).as("conv_c"))
        .withColumn("p_t", col("conv_t").cast("double") / col("n_t"))
        .withColumn("p_c", col("conv_c").cast("double") / col("n_c"))
        .withColumn("pp", (col("conv_t") + col("conv_c")).cast("double") /
          (col("n_t") + col("n_c")))
        .withColumn("z", when(col("pp") > 0 && col("pp") < 1,
          (col("p_t") - col("p_c")) /
            sqrt((col("pp") * (lit(1.0) - col("pp"))) *
              (lit(1.0) / col("n_t") + lit(1.0) / col("n_c")))))
        .select(col("step"), col("n_t"), col("conv_t"), col("n_c"),
          col("conv_c"), round(col("p_t"), 6).as("p_t"),
          round(col("p_c"), 6).as("p_c"), round(col("z"), 6).as("z"))
        .orderBy("step")
    })
  )

  def oracleSql: Map[String, String] = Map(


      // q226's hash-chain arm split read weekly: decimal cumulants
      // through an ordered window, Welch z vs the OBF boundary
      "q320_obf_monitor" ->
        """WITH pe AS (SELECT
          |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |      - DATE '1970-01-01') // 7 AS INT) AS wk,
          |    user_id, CAST(round(value * 100) AS BIGINT) AS v100
          |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
          |h0 AS (SELECT wk, v100, (user_id * 1000003) % 2147483647 AS h FROM pe),
          |h1 AS (SELECT wk, v100, (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT wk, v100, (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1),
          |a AS (SELECT wk, v100, h % 2 = 0 AS arm FROM h2),
          |wkl AS (SELECT wk,
          |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS wn_a,
          |    SUM(CASE WHEN arm THEN CAST(v100 AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS wsv_a,
          |    SUM(CASE WHEN arm THEN CAST(v100 * v100 AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS wsvv_a,
          |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS wn_b,
          |    SUM(CASE WHEN NOT arm THEN CAST(v100 AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS wsv_b,
          |    SUM(CASE WHEN NOT arm THEN CAST(v100 * v100 AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS wsvv_b
          |  FROM a GROUP BY wk),
          |c AS (SELECT wk,
          |    CAST(row_number() OVER (ORDER BY wk) AS INT) AS look,
          |    CAST(count(*) OVER () AS BIGINT) AS n_looks,
          |    CAST(SUM(wn_a) OVER w AS BIGINT) AS n_a,
          |    CAST(SUM(wn_b) OVER w AS BIGINT) AS n_b,
          |    CAST(SUM(wsv_a) OVER w AS DOUBLE) AS sv_a,
          |    CAST(SUM(wsvv_a) OVER w AS DOUBLE) AS svv_a,
          |    CAST(SUM(wsv_b) OVER w AS DOUBLE) AS sv_b,
          |    CAST(SUM(wsvv_b) OVER w AS DOUBLE) AS svv_b
          |  FROM wkl WINDOW w AS (ORDER BY wk
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |zc AS (SELECT wk, look, n_looks, n_a, n_b,
          |    sv_a / n_a - sv_b / n_b AS diff,
          |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
          |      (sv_a / n_a - sv_b / n_b)
          |      / sqrt(((svv_a - sv_a * sv_a / n_a) / (n_a - 1)) / n_a
          |        + ((svv_b - sv_b * sv_b / n_b) / (n_b - 1)) / n_b)
          |    END AS z,
          |    2.04 * sqrt(CAST(n_looks AS DOUBLE) / look) AS bound
          |  FROM c)
          |SELECT wk, look, n_looks, n_a, n_b, diff, z, bound,
          |  CASE WHEN z IS NOT NULL THEN abs(z) > bound END AS crossed
          |FROM zc ORDER BY wk""".stripMargin,


      // q101's kNN graph replayed, then per-node neighbor label votes:
      // disagreement share + majority label, ties toward smaller label
      "q321_label_noise" ->
        s"""WITH $codebookCte,
          |$assignedCte,
          |$cellPairsCte,
          |g AS (SELECT id, nbr_id FROM (SELECT id, nbr_id,
          |    row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS rank
          |  FROM p) WHERE rank <= 3),
          |v AS (SELECT g.id, o.label, n.label AS nbr_label,
          |    CAST(count(*) AS BIGINT) AS n_votes
          |  FROM g JOIN embeddings o ON g.id = o.vec_id
          |    JOIN embeddings n ON g.nbr_id = n.vec_id
          |  GROUP BY 1, 2, 3),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY id
          |    ORDER BY n_votes DESC, nbr_label) AS rk FROM v),
          |f AS (SELECT id, label,
          |    CAST(SUM(n_votes) AS BIGINT) AS n_nbrs,
          |    CAST(SUM(CASE WHEN nbr_label <> label THEN n_votes ELSE 0 END)
          |      AS BIGINT) AS n_disagree,
          |    max(CASE WHEN rk = 1 THEN nbr_label END) AS nbr_majority
          |  FROM rk GROUP BY id, label)
          |SELECT id, label, n_nbrs, n_disagree,
          |  CAST(n_disagree AS DOUBLE) / n_nbrs AS disagree_frac,
          |  nbr_majority,
          |  (CAST(n_disagree AS DOUBLE) / n_nbrs) > 0.5
          |    AND nbr_majority <> label AS flagged
          |FROM f ORDER BY id""".stripMargin,


      // per-arm exact lower-rank percentiles (the q261 estimator), the
      // q320 keyHash chain splitting arms; one row per percentile
      "q322_qte" ->
        """WITH pe AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
          |h0 AS (SELECT v, (user_id * 1000003) % 2147483647 AS h FROM pe),
          |h1 AS (SELECT v, (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT v, (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1),
          |a AS (SELECT v, h % 2 = 0 AS arm FROM h2),
          |rk AS (SELECT arm, v,
          |    row_number() OVER (PARTITION BY arm ORDER BY v) AS r,
          |    count(*) OVER (PARTITION BY arm) AS n FROM a),
          |pp AS (SELECT CAST(unnest([25, 50, 75, 90]) AS INT) AS pct)
          |SELECT pct,
          |  CAST(max(CASE WHEN arm THEN n END) AS BIGINT) AS n_a,
          |  CAST(max(CASE WHEN NOT arm THEN n END) AS BIGINT) AS n_b,
          |  max(CASE WHEN arm THEN v END) AS v_a,
          |  max(CASE WHEN NOT arm THEN v END) AS v_b,
          |  max(CASE WHEN arm THEN v END)
          |    - max(CASE WHEN NOT arm THEN v END) AS qte
          |FROM pp JOIN rk ON rk.r = greatest(1, (pct * n) // 100)
          |GROUP BY pct ORDER BY pct""".stripMargin,


      // midpoint-week pre/post split, per-cell decimal-exact means,
      // identical DiD expression tree
      "q323_did" ->
        """WITH pe AS (SELECT
          |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |      - DATE '1970-01-01') // 7 AS INT) AS wk,
          |    user_id, CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
          |h0 AS (SELECT wk, v, (user_id * 1000003) % 2147483647 AS h FROM pe),
          |h1 AS (SELECT wk, v, (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT wk, v, (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1),
          |a AS (SELECT wk, v, h % 2 = 0 AS arm FROM h2),
          |b AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM a),
          |f AS (SELECT v, arm, wk >= (w0 + w1 + 1) // 2 AS post
          |  FROM a CROSS JOIN b),
          |sums AS (SELECT
          |    CAST(SUM(CASE WHEN arm AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
          |    CAST(SUM(CASE WHEN arm AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
          |    CAST(SUM(CASE WHEN NOT arm AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
          |    CAST(SUM(CASE WHEN NOT arm AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
          |    SUM(CASE WHEN arm AND NOT post THEN CAST(v AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS sv_t_pre,
          |    SUM(CASE WHEN arm AND post THEN CAST(v AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS sv_t_post,
          |    SUM(CASE WHEN NOT arm AND NOT post THEN CAST(v AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS sv_c_pre,
          |    SUM(CASE WHEN NOT arm AND post THEN CAST(v AS DECIMAL(38,0))
          |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS sv_c_post
          |  FROM f),
          |m AS (SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
          |    CASE WHEN n_t_pre > 0 THEN CAST(sv_t_pre AS DOUBLE) / n_t_pre END AS mean_t_pre,
          |    CASE WHEN n_t_post > 0 THEN CAST(sv_t_post AS DOUBLE) / n_t_post END AS mean_t_post,
          |    CASE WHEN n_c_pre > 0 THEN CAST(sv_c_pre AS DOUBLE) / n_c_pre END AS mean_c_pre,
          |    CASE WHEN n_c_post > 0 THEN CAST(sv_c_post AS DOUBLE) / n_c_post END AS mean_c_post
          |  FROM sums)
          |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
          |  mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
          |  (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre) AS did
          |FROM m""".stripMargin,


      // q98's BM25 CTEs with a per-term top-32-tf cut before scoring;
      // membership flag against the exact top-20 replayed inline
      "q324_impact_pruned" ->
        s"""WITH docs AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS t
          |  FROM documents),
          |dl AS (SELECT id, len(t) AS dl, t FROM docs),
          |stats AS (SELECT COUNT(*) AS n_docs,
          |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          |tf AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
          |    SELECT id, dl, unnest(t) AS term FROM dl)
          |  WHERE term IN ('spark', 'join', 'vector', 'window')
          |  GROUP BY id, dl, term),
          |dfq AS (SELECT term, COUNT(*) AS term_df FROM tf GROUP BY term),
          |kept AS (SELECT id, dl, term, tf FROM (
          |    SELECT *, row_number() OVER (PARTITION BY term
          |      ORDER BY tf DESC, id) AS ir FROM tf) WHERE ir <= 32),
          |scored AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          |      AS contrib
          |  FROM kept JOIN dfq USING (term), stats),
          |pr AS (SELECT id,
          |    round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6) AS score,
          |    COUNT(*) AS n_matched
          |  FROM scored GROUP BY id
          |  ORDER BY score DESC, id LIMIT 20),
          |fullk AS ($bm25OracleSql)
          |SELECT CAST(row_number() OVER (ORDER BY score DESC, id) AS INT) AS rank,
          |  id, score, n_matched,
          |  id IN (SELECT id FROM fullk) AS in_full
          |FROM pr ORDER BY rank""".stripMargin,


      // full recompute from raw events — hash equality against the
      // Spark side's two-batch state merge proves merge ≡ recompute
      "q325_agg_state_merge" ->
        """WITH pe AS (SELECT event_type,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |    SUM(CAST(v AS DECIMAL(38,0))) AS sv,
          |    min(v) AS mn, max(v) AS mx
          |  FROM pe GROUP BY event_type)
          |SELECT event_type, n, CAST(sv AS VARCHAR) AS sv, mn, mx,
          |  CAST(sv AS DOUBLE) / n AS mean
          |FROM st ORDER BY event_type""".stripMargin,


      // exact word/sentence/vowel-group counts, literal-coefficient
      // Flesch expressions with identical association both engines
      "q326_flesch" ->
        """WITH m AS (SELECT doc_id,
          |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_words,
          |    greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
          |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
          |  FROM documents),
          |sc AS (SELECT doc_id, n_words, n_sentences, n_syllables,
          |    CASE WHEN n_words > 0 THEN round(206.835
          |      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
          |      - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) END AS ease,
          |    CASE WHEN n_words > 0 THEN round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
          |      + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6) END AS grade
          |  FROM m)
          |SELECT doc_id, n_words, n_sentences, n_syllables, ease, grade,
          |  CASE WHEN ease IS NOT NULL THEN ease < 30.0 END AS hard
          |FROM sc ORDER BY doc_id""".stripMargin,


      // brute-force all-pairs word-set Jaccard — no prefix filter: hash
      // equality against the Spark side proves AllPairs candidate
      // generation lossless at threshold 0.7
      "q327_jaccard_prefix_join" ->
        """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 60
          |  UNION ALL
          |  SELECT doc_id + 2000, substring(text, 1, greatest(length(text) - 12, 1))
          |  FROM documents WHERE doc_id < 60),
          |toks AS (SELECT DISTINCT doc_id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '')) AS tok
          |  FROM corpus),
          |sizes AS (SELECT doc_id, COUNT(*) AS m FROM toks GROUP BY doc_id),
          |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          |  FROM toks a JOIN toks b USING (tok)
          |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.m + sb.m - i) AS jaccard
          |FROM inter
          |JOIN sizes sa ON sa.doc_id = doc_a
          |JOIN sizes sb ON sb.doc_id = doc_b
          |WHERE CAST(i AS DOUBLE) / (sa.m + sb.m - i) >= 0.7
          |ORDER BY doc_a, doc_b""".stripMargin,


      "q328_jl_distortion" -> jlDistortionOracleSql,


      // the q305 hash chain on event_id splits 10 folds: <4 train mean,
      // 4-6 calibration order statistic, >=7 test coverage — identical
      // integer rank arithmetic and double residuals in both engines
      "q329_conformal" ->
        """WITH pe AS (SELECT event_type AS g, event_id AS id,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |h0 AS (SELECT g, id, v, (id * 1000003) % 2147483647 AS h FROM pe),
          |h1 AS (SELECT g, id, v,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT g, id, v,
          |    ((xor(h, h >> 13) * 73244475) % 2147483647) % 10 AS fold FROM h1),
          |tr AS (SELECT g,
          |    CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) / count(*) AS yhat,
          |    count(*) AS n_train
          |  FROM h2 WHERE fold < 4 GROUP BY g),
          |ca AS (SELECT g, id, abs(CAST(v AS DOUBLE) - yhat) AS r
          |  FROM h2 JOIN tr USING (g) WHERE fold >= 4 AND fold < 7),
          |rk AS (SELECT g, r,
          |    row_number() OVER (PARTITION BY g ORDER BY r, id) AS rn,
          |    count(*) OVER (PARTITION BY g) AS n_calib FROM ca),
          |q AS (SELECT g, max(n_calib) AS n_calib,
          |    min(CASE WHEN rn = ((n_calib + 1) * 9 + 9) // 10 THEN r END)
          |      AS qhat
          |  FROM rk GROUP BY g),
          |te AS (SELECT g, yhat, n_train, abs(CAST(v AS DOUBLE) - yhat) AS r
          |  FROM h2 JOIN tr USING (g) WHERE fold >= 7)
          |SELECT g AS event_type, round(max(yhat), 6) AS yhat,
          |  max(n_train) AS n_train, max(n_calib) AS n_calib,
          |  round(max(qhat), 6) AS qhat, count(*) AS n_test,
          |  CASE WHEN max(qhat) IS NULL THEN NULL
          |    ELSE CAST(SUM(CASE WHEN r <= qhat THEN 1 ELSE 0 END) AS DOUBLE)
          |      / count(*) END AS coverage
          |FROM te JOIN q USING (g)
          |GROUP BY g ORDER BY event_type""".stripMargin,


      // unfiltered brute-force levenshtein all-pairs — hash equality
      // against the Spark side proves the q-gram count filter lossless
      "q330_edit_distance_join" ->
        """WITH p AS (SELECT p_partkey AS id, p_name AS name FROM part
          |  WHERE p_partkey < 300),
          |c0 AS (SELECT id, name FROM p
          |  UNION ALL SELECT id + 10000,
          |    concat(substring(name, 1, 4), 'z', substring(name, 6)) FROM p),
          |c AS (SELECT id, name FROM c0 WHERE length(name) >= 6)
          |SELECT a.id AS id_a, b.id AS id_b,
          |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
          |FROM c a JOIN c b ON a.id < b.id
          |WHERE levenshtein(a.name, b.name) <= 2
          |ORDER BY id_a, id_b""".stripMargin,


      // the same phrase segmentation / deg-over-freq chain; DuckDB's
      // 1-based positions shift grp by a constant, preserving islands
      "q331_rake_keywords" ->
        """WITH tk AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(
          |      regexp_replace(lower(text), '[^a-z0-9 ]+', ' # ', 'g'),
          |      '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |w0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
          |    t[CAST(i AS INT)] AS w
          |  FROM tk, unnest(range(1, len(t) + 1)) AS u(i)),
          |wv AS (SELECT doc_id, pos, w FROM w0 WHERE w <> '#'
          |  AND w NOT IN ('a','the','of','to','and','in','is','on','for','it')),
          |g AS (SELECT doc_id, pos, w,
          |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
          |      AS grp FROM wv),
          |pl AS (SELECT doc_id, grp, pos, w,
          |    count(*) OVER (PARTITION BY doc_id, grp) AS plen FROM g),
          |ws AS (SELECT w, count(*) AS freq, SUM(plen) AS deg
          |  FROM pl GROUP BY w),
          |sc AS (SELECT doc_id, grp,
          |    string_agg(w, ' ' ORDER BY pos) AS phrase,
          |    count(*) AS n_words,
          |    CAST(SUM(CAST(CAST(deg AS DOUBLE) / freq AS DECIMAL(38,18)))
          |      AS DOUBLE) AS score
          |  FROM pl JOIN ws USING (w) GROUP BY doc_id, grp),
          |ph AS (SELECT phrase, max(n_words) AS n_words,
          |    count(*) AS n_occurrences, max(score) AS score
          |  FROM sc GROUP BY phrase)
          |SELECT CAST(row_number() OVER (ORDER BY score DESC, phrase)
          |    AS INT) AS rank,
          |  phrase, n_words, n_occurrences, round(score, 6) AS score
          |FROM ph
          |QUALIFY rank <= 25
          |ORDER BY rank""".stripMargin,


      // the q101 cell-local graph CTEs; reciprocated edges via the
      // reversed self-join, distance from the candidate-pair frame
      "q332_mutual_knn" ->
        s"""$knnEdgesPrefixSql,
           |mu AS (SELECT x.id AS a, x.nbr_id AS b FROM g0 x JOIN g0 y
           |  ON x.id = y.nbr_id AND x.nbr_id = y.id WHERE x.id < x.nbr_id)
           |SELECT a, b, round(p.distance, 6) AS distance
           |FROM mu JOIN p ON p.id = a AND p.nbr_id = b
           |ORDER BY a, b""".stripMargin,


      "q333_cdc_chunks" -> cdcChunksOracleSql,


      // the q75 register chain computed DIRECTLY at each rollup level —
      // equality with the Spark shard-merge proves max-merge losslessness
      "q334_hll_rollup" ->
        s"""WITH ev AS (SELECT event_type, user_id AS key FROM events),
          |kh0 AS (SELECT event_type, key, (key * 1000003) % 2147483647 AS a0 FROM ev),
          |kh1 AS (SELECT event_type, key, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1 FROM kh0),
          |kh2 AS (SELECT event_type, key, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h FROM kh1),
          |br AS (SELECT event_type, key, h >> 26 AS b,
          |    CASE WHEN (h & 67108863) = 0 THEN 27
          |         ELSE 27 - length(bin(h & 67108863)) END AS rho FROM kh2),
          |mbt AS (SELECT event_type, b, MAX(rho) AS mx FROM br GROUP BY event_type, b),
          |hst AS (SELECT event_type,
          |    SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
          |    COUNT(*) AS nb FROM mbt GROUP BY event_type),
          |ext AS (SELECT event_type, COUNT(DISTINCT key) AS n_exact FROM ev GROUP BY event_type),
          |mbg AS (SELECT b, MAX(rho) AS mx FROM br GROUP BY b),
          |hsg AS (SELECT SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
          |    COUNT(*) AS nb FROM mbg),
          |exg AS (SELECT COUNT(DISTINCT key) AS n_exact FROM ev)
          |SELECT * FROM (
          |  SELECT 'event_type' AS level, ext.event_type AS key, n_exact,
          |    ${Sketches.hllFactor(5)} / CAST(present + (32 - nb) * 134217728 AS DOUBLE) AS hll_est
          |  FROM ext JOIN hst USING (event_type)
          |  UNION ALL
          |  SELECT 'global', 'ALL', exg.n_exact,
          |    ${Sketches.hllFactor(5)} / CAST(present + (32 - nb) * 134217728 AS DOUBLE)
          |  FROM exg, hsg)
          |ORDER BY level, key""".stripMargin,


      // identical two-aggregate encoding tree; LOO guarded null-safe in
      // both engines for singleton groups
      "q335_target_encoding" ->
        """WITH o AS (SELECT o_orderkey, o_orderpriority AS prio,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS v100 FROM orders),
          |g AS (SELECT prio, count(*) AS n,
          |    SUM(CAST(v100 AS DECIMAL(38,0))) AS sv FROM o GROUP BY prio),
          |gl AS (SELECT count(*) AS ng,
          |    SUM(CAST(v100 AS DECIMAL(38,0))) AS svg FROM o)
          |SELECT o_orderkey, prio, v100,
          |  round(CAST(sv AS DOUBLE) / n, 6) AS enc_naive,
          |  CASE WHEN n > 1
          |    THEN round(CAST(sv - v100 AS DOUBLE) / (n - 1), 6) END AS enc_loo,
          |  round((CAST(sv - v100 AS DOUBLE) + 20.0 * (CAST(svg AS DOUBLE) / ng))
          |    / (n - 1 + 20), 6) AS enc_smooth
          |FROM o JOIN g USING (prio), gl
          |WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,


      // brute BETWEEN join — the banded equi-join must find exactly the
      // same (point, interval) matches
      "q336_range_join" ->
        """WITH iv AS (SELECT o_orderkey,
          |    CAST(date_diff('day', DATE '1992-01-01',
          |      CAST(o_orderdate AS DATE)) AS BIGINT) AS lo
          |  FROM orders WHERE o_orderkey < 500),
          |iv2 AS (SELECT o_orderkey, lo, lo + o_orderkey % 30 AS hi FROM iv),
          |pts AS (SELECT CAST(date_diff('day', DATE '1992-01-01',
          |      CAST(l_shipdate AS DATE)) AS BIGINT) AS p
          |  FROM lineitem WHERE l_orderkey < 6000)
          |SELECT o_orderkey, count(*) AS n_points, min(p) AS first_day,
          |  max(p) AS last_day
          |FROM pts JOIN iv2 ON p >= lo AND p <= hi
          |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,


      // u per field from value counts; weights as ARITHMETIC expressions
      // (1.0 - 0.95, not 0.05) so both engines compute identical doubles
      "q337_fellegi_sunter" ->
        """WITH c0 AS (SELECT c_custkey, c_nationkey, c_mktsegment,
          |    (CAST(round(c_acctbal * 100) AS BIGINT) + 1000000) // 100000
          |      AS bal_bucket,
          |    substring(c_name, 1, 12) AS name_pfx
          |  FROM customer WHERE c_custkey < 400),
          |corpus AS (SELECT * FROM c0
          |  UNION ALL SELECT c_custkey + 10000, c_nationkey, c_mktsegment,
          |    bal_bucket + c_custkey % 2, name_pfx FROM c0),
          |n AS (SELECT count(*) AS nn FROM corpus),
          |u1 AS (SELECT CAST(SUM(CAST(c*c AS DECIMAL(38,0))) AS DOUBLE)
          |    / (CAST(nn AS DOUBLE) * nn) AS u
          |  FROM (SELECT count(*) AS c FROM corpus GROUP BY c_mktsegment), n
          |  GROUP BY nn),
          |u2 AS (SELECT CAST(SUM(CAST(c*c AS DECIMAL(38,0))) AS DOUBLE)
          |    / (CAST(nn AS DOUBLE) * nn) AS u
          |  FROM (SELECT count(*) AS c FROM corpus GROUP BY bal_bucket), n
          |  GROUP BY nn),
          |u3 AS (SELECT CAST(SUM(CAST(c*c AS DECIMAL(38,0))) AS DOUBLE)
          |    / (CAST(nn AS DOUBLE) * nn) AS u
          |  FROM (SELECT count(*) AS c FROM corpus GROUP BY name_pfx), n
          |  GROUP BY nn),
          |pr AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
          |    (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END
          |     + CASE WHEN a.bal_bucket = b.bal_bucket THEN 1 ELSE 0 END
          |     + CASE WHEN a.name_pfx = b.name_pfx THEN 1 ELSE 0 END)
          |      AS n_agree,
          |    (CASE WHEN a.c_mktsegment = b.c_mktsegment
          |        THEN ln(0.95 / u1.u) ELSE ln((1.0 - 0.95) / (1.0 - u1.u)) END
          |     + CASE WHEN a.bal_bucket = b.bal_bucket
          |        THEN ln(0.95 / u2.u) ELSE ln((1.0 - 0.95) / (1.0 - u2.u)) END
          |     + CASE WHEN a.name_pfx = b.name_pfx
          |        THEN ln(0.95 / u3.u) ELSE ln((1.0 - 0.95) / (1.0 - u3.u)) END)
          |      AS score
          |  FROM corpus a JOIN corpus b ON a.c_nationkey = b.c_nationkey
          |    AND a.c_custkey < b.c_custkey, u1, u2, u3)
          |SELECT id_a, id_b, CAST(n_agree AS BIGINT) AS n_agree,
          |  round(score, 6) AS score
          |FROM pr WHERE score > 0 ORDER BY id_a, id_b""".stripMargin,


      // identical decimal variance tree, sqrt sigma, largest-remainder
      // integer split — allocations sum to exactly 1000
      "q338_neyman" ->
        """WITH pe AS (SELECT event_type AS stratum,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |per AS (SELECT stratum, count(*) AS n_h,
          |    SUM(CAST(v AS DECIMAL(38,0))) AS sv,
          |    SUM(CAST(v * v AS DECIMAL(38,0))) AS svv
          |  FROM pe GROUP BY stratum),
          |sg AS (SELECT stratum, n_h,
          |    sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)
          |      * CAST(sv AS DOUBLE) / n_h) / n_h) AS sigma
          |  FROM per),
          |w AS (SELECT stratum, n_h, sigma,
          |    CAST(n_h AS DOUBLE) * sigma AS w FROM sg),
          |tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE)
          |    AS wt FROM w),
          |q AS (SELECT stratum, n_h, sigma,
          |    CASE WHEN wt > 0 THEN 1000.0 * w / wt ELSE 0.0 END AS quota
          |  FROM w, tot),
          |f AS (SELECT stratum, n_h, sigma, quota, floor(quota) AS base,
          |    quota - floor(quota) AS frac FROM q),
          |r AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS rem FROM f),
          |rk AS (SELECT f.*, row_number() OVER (ORDER BY frac DESC, stratum)
          |    AS rk FROM f)
          |SELECT stratum, n_h, round(sigma, 6) AS sigma,
          |  round(quota, 6) AS quota,
          |  CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT)
          |    AS n_alloc
          |FROM rk, r ORDER BY stratum""".stripMargin,


      "q339_split_leakage" -> splitLeakageOracleSql,


      // same midpoint week split as q325; Laplace-smoothed bin shares on
      // the full 20-bin grid of REF groups; decimal-accumulated term sum
      "q340_psi_drift" ->
        """WITH pe AS (SELECT event_type,
          |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
          |      AS wk,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |bnd AS (SELECT min(wk) AS w0, max(wk) AS w1 FROM pe),
          |t AS (SELECT event_type AS g, v,
          |    wk >= (w0 + w1 + 1) // 2 AS post FROM pe, bnd),
          |rb AS (SELECT g, least(greatest(v // 5000, 0), 19) AS bin,
          |    count(*) AS nr FROM t WHERE NOT post GROUP BY 1, 2),
          |cb AS (SELECT g, least(greatest(v // 5000, 0), 19) AS bin,
          |    count(*) AS nc FROM t WHERE post GROUP BY 1, 2),
          |grid AS (SELECT g, i AS bin
          |  FROM (SELECT DISTINCT g FROM t WHERE NOT post),
          |    unnest(range(0, 20)) AS u(i)),
          |nt AS (SELECT g, CAST(SUM(nr) AS BIGINT) AS n_ref FROM rb GROUP BY g),
          |nc2 AS (SELECT g, CAST(SUM(nc) AS BIGINT) AS n_cur FROM cb GROUP BY g),
          |fl AS (SELECT grid.g, grid.bin,
          |    CAST(COALESCE(nr, 0) + 1 AS DOUBLE) / (n_ref + 20) AS pr,
          |    CAST(COALESCE(nc, 0) + 1 AS DOUBLE) / (n_cur + 20) AS pc,
          |    n_ref, n_cur
          |  FROM grid
          |  LEFT JOIN rb USING (g, bin) LEFT JOIN cb USING (g, bin)
          |  JOIN nt USING (g) JOIN nc2 USING (g))
          |SELECT g AS event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
          |  round(CAST(SUM(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(38,18)))
          |    AS DOUBLE), 6) AS psi,
          |  round(CAST(SUM(CAST((pc - pr) * ln(pc / pr) AS DECIMAL(38,18)))
          |    AS DOUBLE), 6) > 0.2 AS drifted
          |FROM fl GROUP BY g ORDER BY event_type""".stripMargin,


      // exact rank-⌈n/2⌉ medians for location and deviation; the outlier
      // threshold multiplies in the same (3.0·1.4826)·mad association
      "q341_mad_outliers" ->
        """WITH pe AS (SELECT event_type AS g,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |m AS (SELECT g, v AS med FROM (SELECT g, v,
          |      row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
          |      count(*) OVER (PARTITION BY g) AS n FROM pe)
          |  WHERE rn = (n + 1) // 2),
          |d AS (SELECT pe.g, v, med, abs(v - med) AS ad
          |  FROM pe JOIN m USING (g)),
          |md AS (SELECT g, ad AS mad FROM (SELECT g, ad,
          |      row_number() OVER (PARTITION BY g ORDER BY ad) AS rn,
          |      count(*) OVER (PARTITION BY g) AS n FROM d)
          |  WHERE rn = (n + 1) // 2)
          |SELECT d.g AS event_type, count(*) AS n, max(med) AS med,
          |  max(mad) AS mad,
          |  CAST(SUM(CASE WHEN CAST(ad AS DOUBLE) > (3.0 * 1.4826) * mad
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          |FROM d JOIN md USING (g) GROUP BY d.g ORDER BY event_type""".stripMargin,


      // brute overlap join — the banded max-lo-ownership join must find
      // each overlapping pair exactly once
      "q342_overlap_join" ->
        """WITH promo AS (SELECT o_orderkey,
          |    CAST(date_diff('day', DATE '1992-01-01',
          |      CAST(o_orderdate AS DATE)) AS BIGINT) AS p_lo
          |  FROM orders WHERE o_orderkey < 300),
          |p2 AS (SELECT o_orderkey, p_lo, p_lo + o_orderkey % 14 AS p_hi
          |  FROM promo),
          |s0 AS (SELECT CAST(date_diff('day', DATE '1992-01-01',
          |      CAST(l_shipdate AS DATE)) AS BIGINT) AS s_lo,
          |    (l_orderkey + l_linenumber) % 10 AS spn
          |  FROM lineitem WHERE l_orderkey < 3000),
          |ship AS (SELECT s_lo, s_lo + spn AS s_hi FROM s0)
          |SELECT o_orderkey, count(*) AS n_overlaps, min(s_lo) AS first_lo,
          |  max(s_hi) AS last_hi
          |FROM ship JOIN p2 ON s_lo <= p_hi AND p_lo <= s_hi
          |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,


      // base top-10 → tf·idf expansion terms → expanded BM25, the whole
      // chain in SQL with the q98 scoring formula
      "q343_prf_expansion" ->
        """WITH docs AS (SELECT doc_id AS id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |dl AS (SELECT id, len(t) AS dl, t FROM docs),
          |stats AS (SELECT COUNT(*) AS n_docs,
          |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
          |alltf AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
          |    SELECT id, dl, unnest(t) AS term FROM dl)
          |  GROUP BY id, dl, term),
          |cdf AS (SELECT term, COUNT(*) AS term_df FROM alltf GROUP BY term),
          |btf AS (SELECT * FROM alltf WHERE term IN ('spark', 'join')),
          |bdf AS (SELECT term, COUNT(*) AS term_df FROM btf GROUP BY term),
          |bsc AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          |      AS contrib
          |  FROM btf JOIN bdf USING (term), stats),
          |base AS (SELECT id,
          |    round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6) AS score
          |  FROM bsc GROUP BY id ORDER BY score DESC, id LIMIT 10),
          |cand AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS tf_sum
          |  FROM alltf JOIN base USING (id)
          |  WHERE term NOT IN ('spark', 'join') GROUP BY term),
          |esc AS (SELECT term,
          |    CAST(tf_sum AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / term_df) AS s
          |  FROM cand JOIN cdf USING (term), stats),
          |expt AS (SELECT term FROM esc ORDER BY s DESC, term LIMIT 3),
          |etf AS (SELECT * FROM alltf WHERE term IN ('spark', 'join')
          |  OR term IN (SELECT term FROM expt)),
          |edf AS (SELECT term, COUNT(*) AS term_df FROM etf GROUP BY term),
          |esc2 AS (SELECT id,
          |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
          |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          |      AS contrib
          |  FROM etf JOIN edf USING (term), stats),
          |res AS (SELECT id,
          |    round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6) AS score,
          |    COUNT(*) AS n_matched
          |  FROM esc2 GROUP BY id ORDER BY score DESC, id LIMIT 10)
          |SELECT CAST(row_number() OVER (ORDER BY score DESC, id) AS INT)
          |    AS rank,
          |  id, score, n_matched, id IN (SELECT id FROM base) AS in_base
          |FROM res ORDER BY rank""".stripMargin,


      // the Murphy decomposition tree with the shared quality replay;
      // base_rate squares UNROUNDED in resolution, as the Spark side does
      "q344_brier" ->
        s"""WITH d AS (SELECT $qualitySql AS p, n_chars >= 1000 AS o
          |  FROM documents),
          |r AS (SELECT p, CASE WHEN o THEN 1 ELSE 0 END AS o2,
          |    least(CAST(floor(p * 10) AS BIGINT), 9) AS bin FROM d),
          |b AS (SELECT bin, count(*) AS n_b,
          |    SUM(CAST(p AS DECIMAL(38,18))) AS sp,
          |    CAST(SUM(o2) AS BIGINT) AS so,
          |    SUM(CAST((p - o2) * (p - o2) AS DECIMAL(38,18))) AS sq
          |  FROM r GROUP BY bin),
          |bb AS (SELECT bin, n_b, so, sq,
          |    CAST(sp AS DOUBLE) / n_b AS pbar,
          |    CAST(so AS DOUBLE) / n_b AS obar FROM b),
          |f AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n,
          |    CAST(SUM(so) AS BIGINT) AS n_pos,
          |    CAST(SUM(sq) AS DOUBLE) AS sq2,
          |    CAST(SUM(CAST(n_b * (pbar - obar) * (pbar - obar)
          |      AS DECIMAL(38,18))) AS DOUBLE) AS rel,
          |    CAST(SUM(CAST(n_b * obar * obar AS DECIMAL(38,18)))
          |      AS DOUBLE) AS so2
          |  FROM bb)
          |SELECT n, n_pos,
          |  round(CAST(n_pos AS DOUBLE) / n, 6) AS base_rate,
          |  round(sq2 / n, 6) AS brier,
          |  round(rel / n, 6) AS reliability,
          |  round(so2 / n - (CAST(n_pos AS DOUBLE) / n)
          |    * (CAST(n_pos AS DOUBLE) / n), 6) AS resolution,
          |  round((CAST(n_pos AS DOUBLE) / n)
          |    * (1.0 - CAST(n_pos AS DOUBLE) / n), 6) AS uncertainty
          |FROM f""".stripMargin,


      // add-one-smoothed positive/negative shares per bin; the IV window
      // sum decimal-accumulates like the Spark side
      "q345_woe_iv" ->
        s"""WITH d AS (SELECT $qualitySql AS p, n_chars >= 1000 AS o
          |  FROM documents),
          |r AS (SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
          |    CASE WHEN o THEN 1 ELSE 0 END AS o2 FROM d),
          |b AS (SELECT bin, count(*) AS n_b, CAST(SUM(o2) AS BIGINT) AS n_pos
          |  FROM r GROUP BY bin),
          |b2 AS (SELECT bin, n_b, n_pos, n_b - n_pos AS n_neg FROM b),
          |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
          |    CAST(SUM(n_neg) AS BIGINT) AS tn, count(*) AS nb FROM b2),
          |w AS (SELECT bin, n_b, n_pos,
          |    CAST(n_pos + 1 AS DOUBLE) / (tp + nb) AS pp,
          |    CAST(n_neg + 1 AS DOUBLE) / (tn + nb) AS pn
          |  FROM b2, t),
          |w2 AS (SELECT bin, n_b, n_pos, pp, pn, ln(pp / pn) AS woe FROM w)
          |SELECT bin, n_b, n_pos, round(woe, 6) AS woe,
          |  round(CAST(SUM(CAST((pp - pn) * woe AS DECIMAL(38,18))) OVER ()
          |    AS DOUBLE), 6) AS iv
          |FROM w2 ORDER BY bin""".stripMargin,


      // cumulative tokens/vocab checkpoints from per-term first docs,
      // then the exact OLS slope on (ln n, ln V)
      "q346_heaps_law" ->
        """WITH toks AS (SELECT doc_id AS d,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '')) AS term
          |  FROM documents),
          |pd AS (SELECT d, count(*) AS nt FROM toks GROUP BY d),
          |fd AS (SELECT d, count(*) AS nv FROM (
          |    SELECT term, min(d) AS d FROM toks GROUP BY term) GROUP BY d),
          |cp AS (SELECT pd.d,
          |    CAST(SUM(nt) OVER (ORDER BY pd.d) AS BIGINT) AS n,
          |    CAST(SUM(COALESCE(nv, 0)) OVER (ORDER BY pd.d) AS BIGINT) AS v
          |  FROM pd LEFT JOIN fd ON pd.d = fd.d),
          |xy AS (SELECT n, v, ln(CAST(n AS DOUBLE)) AS x,
          |    ln(CAST(v AS DOUBLE)) AS y FROM cp),
          |ag AS (SELECT count(*) AS n_points, max(n) AS n_total,
          |    max(v) AS v_total,
          |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
          |    CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
          |  FROM xy),
          |bt AS (SELECT *, (sxy - sx * sy / n_points)
          |    / (sxx - sx * sx / n_points) AS beta FROM ag)
          |SELECT n_points, n_total, v_total, round(beta, 6) AS beta,
          |  round((sy - beta * sx) / n_points, 6) AS ln_k
          |FROM bt""".stripMargin,


      // the q332 mutual-edge CTEs; triangles in a<b<c orientation credit
      // all three corners
      "q347_clustering_coef" ->
        s"""$knnEdgesPrefixSql,
           |mu AS (SELECT x.id AS a, x.nbr_id AS b FROM g0 x JOIN g0 y
           |  ON x.id = y.nbr_id AND x.nbr_id = y.id WHERE x.id < x.nbr_id),
           |dg2 AS (SELECT u, count(*) AS degree FROM (
           |    SELECT a AS u FROM mu UNION ALL SELECT b FROM mu) GROUP BY u),
           |tr AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
           |  FROM mu e1 JOIN mu e2 ON e1.b = e2.a
           |  WHERE EXISTS (SELECT 1 FROM mu e3
           |    WHERE e3.a = e1.a AND e3.b = e2.b)),
           |tc AS (SELECT u, count(*) AS n_tri FROM (
           |    SELECT a AS u FROM tr UNION ALL SELECT b FROM tr
           |    UNION ALL SELECT c FROM tr) GROUP BY u)
           |SELECT dg2.u AS id, CAST(degree AS BIGINT) AS degree,
           |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
           |  CASE WHEN degree >= 2 THEN
           |    round(CAST(2 * COALESCE(n_tri, 0) AS DOUBLE)
           |      / (degree * (degree - 1)), 6) END AS coef
           |FROM dg2 LEFT JOIN tc ON dg2.u = tc.u
           |ORDER BY id""".stripMargin,


      // the q332 mutual edges labeled by the `a` assignment CTE; per-cell
      // modularity terms with the decimal-accumulated global Q
      "q348_modularity" ->
        s"""$knnEdgesPrefixSql,
           |mu AS (SELECT x.id AS a, x.nbr_id AS b FROM g0 x JOIN g0 y
           |  ON x.id = y.nbr_id AND x.nbr_id = y.id WHERE x.id < x.nbr_id),
           |cm AS (SELECT vec_id AS u, centroid_id AS c FROM a),
           |lab AS (SELECT e.a, e.b, x.c AS ca, y.c AS cb
           |  FROM mu e JOIN cm x ON e.a = x.u JOIN cm y ON e.b = y.u),
           |mt AS (SELECT count(*) AS m FROM lab),
           |wi AS (SELECT ca AS c, count(*) AS m_within FROM lab
           |  WHERE ca = cb GROUP BY ca),
           |ends AS (SELECT a AS u FROM mu UNION ALL SELECT b FROM mu),
           |dc AS (SELECT c, count(*) AS d_c FROM ends JOIN cm USING (u)
           |  GROUP BY c),
           |ncc AS (SELECT c, count(*) AS n_nodes FROM (
           |    SELECT DISTINCT u FROM ends) JOIN cm USING (u) GROUP BY c),
           |pc AS (SELECT ncc.c, n_nodes, COALESCE(m_within, 0) AS m_within,
           |    d_c,
           |    CAST(COALESCE(m_within, 0) AS DOUBLE) / m
           |      - (CAST(d_c AS DOUBLE) / (2 * m))
           |        * (CAST(d_c AS DOUBLE) / (2 * m)) AS term
           |  FROM ncc JOIN dc USING (c) LEFT JOIN wi ON wi.c = ncc.c, mt)
           |SELECT c, CAST(n_nodes AS BIGINT) AS n_nodes,
           |  CAST(m_within AS BIGINT) AS m_within, CAST(d_c AS BIGINT) AS d_c,
           |  round(term, 6) AS term,
           |  round(CAST(SUM(CAST(term AS DECIMAL(38,18))) OVER ()
           |    AS DOUBLE), 6) AS q
           |FROM pc ORDER BY c""".stripMargin,


      // q187's within-session pair CTE, then p·ln p per from-state and
      // the weighted global conditional entropy
      "q349_transition_entropy" ->
        """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
          |    event_type FROM events),
          |l AS (SELECT event_type,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS from_type,
          |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id)) AS gap_us
          |  FROM e),
          |p AS (SELECT from_type AS f, event_type AS t, count(*) AS n FROM l
          |  WHERE from_type IS NOT NULL AND gap_us <= 1800000000
          |  GROUP BY 1, 2),
          |pw AS (SELECT f, t, n, SUM(n) OVER (PARTITION BY f) AS nf FROM p),
          |tm AS (SELECT f, n, nf,
          |    (CAST(n AS DOUBLE) / nf) * ln(CAST(n AS DOUBLE) / nf) AS term
          |  FROM pw),
          |hp AS (SELECT f, CAST(max(nf) AS BIGINT) AS n_from,
          |    0.0 - CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) AS h
          |  FROM tm GROUP BY f),
          |tt AS (SELECT CAST(SUM(n_from) AS BIGINT) AS nn FROM hp),
          |hw AS (SELECT f, n_from, h,
          |    (CAST(n_from AS DOUBLE) / nn) * h AS hw FROM hp, tt)
          |SELECT f AS from_type, n_from, round(h, 6) AS entropy,
          |  round(CAST(SUM(CAST(hw AS DECIMAL(38,18))) OVER ()
          |    AS DOUBLE), 6) AS h_cond
          |FROM hw ORDER BY from_type""".stripMargin,


      // the q305 hash chain, then 65 deterministic re-labelings:
      // arm_k = ((h0 + k·73244475) % p) % 2, k = 0 the production arms
      "q350_permutation_test" ->
        """WITH pe AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |h0 AS (SELECT v, (user_id * 1000003) % 2147483647 AS h FROM pe),
          |h1 AS (SELECT v, (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT v, (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1),
          |ex AS (SELECT v, i AS k,
          |    ((h + i * 73244475) % 2147483647) % 2 = 0 AS arm
          |  FROM h2, unnest(range(0, 65)) AS u(i)),
          |byk AS (SELECT k,
          |    SUM(CASE WHEN arm THEN CAST(v AS DECIMAL(38,0)) END) AS svt,
          |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS nt,
          |    SUM(CASE WHEN NOT arm THEN CAST(v AS DECIMAL(38,0)) END) AS svc,
          |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS nc
          |  FROM ex GROUP BY k),
          |d AS (SELECT k, CAST(svt AS DOUBLE) / nt - CAST(svc AS DOUBLE) / nc
          |    AS diff FROM byk),
          |o AS (SELECT diff AS d0 FROM d WHERE k = 0)
          |SELECT round(max(d0), 6) AS diff_obs,
          |  count(*) AS n_perms,
          |  CAST(SUM(CASE WHEN abs(diff) >= abs(d0) THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_extreme,
          |  round(CAST(SUM(CASE WHEN abs(diff) >= abs(d0) THEN 1 ELSE 0 END)
          |    + 1 AS DOUBLE) / (count(*) + 1), 6) AS p_value
          |FROM d, o WHERE k > 0""".stripMargin,


      // centered 7-day window trend (full windows only), DOW seasonal
      // means, residual sigma from decimal sums — the identical trees
      "q351_seasonal_residuals" ->
        """WITH daily AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(ts AS DATE)) AS BIGINT) AS day, count(*) AS n
          |  FROM events GROUP BY 1),
          |tr AS (SELECT day, CAST(n AS BIGINT) AS n,
          |    CASE WHEN count(*) OVER w = 7 THEN
          |      CAST(SUM(n) OVER w AS DOUBLE) / 7 END AS trend
          |  FROM daily
          |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          |dt AS (SELECT day, n, trend, CAST(n AS DOUBLE) - trend AS detr,
          |    day % 7 AS dow FROM tr),
          |se AS (SELECT dow,
          |    CAST(SUM(CAST(detr AS DECIMAL(38,18))) AS DOUBLE) / count(*)
          |      AS seasonal
          |  FROM dt WHERE detr IS NOT NULL GROUP BY dow),
          |rs AS (SELECT day, n, trend, seasonal, detr - seasonal AS resid
          |  FROM dt LEFT JOIN se USING (dow)),
          |sg AS (SELECT sqrt((CAST(SUM(CAST(resid * resid AS DECIMAL(38,18)))
          |      AS DOUBLE)
          |    - CAST(SUM(CAST(resid AS DECIMAL(38,18))) AS DOUBLE)
          |      * CAST(SUM(CAST(resid AS DECIMAL(38,18))) AS DOUBLE)
          |      / count(*)) / count(*)) AS sigma
          |  FROM rs WHERE resid IS NOT NULL)
          |SELECT day, n, round(trend, 6) AS trend,
          |  round(seasonal, 6) AS seasonal, round(resid, 6) AS resid,
          |  CASE WHEN resid IS NOT NULL THEN abs(resid) > 2.0 * sigma END
          |    AS flag
          |FROM rs, sg ORDER BY day""".stripMargin,


      // four generalization levels over the same scan; the release rule
      // is the first level with min class size >= 5
      "q352_k_anonymity" ->
        """WITH c AS (SELECT c_nationkey, c_mktsegment,
          |    (CAST(round(c_acctbal * 100) AS BIGINT) + 1000000) // 100000
          |      AS bal_bucket
          |  FROM customer),
          |l0 AS (SELECT count(*) AS sz FROM c
          |  GROUP BY c_nationkey, c_mktsegment, bal_bucket),
          |l1 AS (SELECT count(*) AS sz FROM c
          |  GROUP BY c_nationkey, c_mktsegment),
          |l2 AS (SELECT count(*) AS sz FROM c GROUP BY c_mktsegment),
          |l3 AS (SELECT count(*) AS sz FROM c)
          |SELECT * FROM (
          |  SELECT 0 AS level, 'c_nationkey,c_mktsegment,bal_bucket' AS qi,
          |    count(*) AS n_groups, min(sz) AS min_group,
          |    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
          |      AS n_below_k,
          |    round(CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
          |      / SUM(sz), 6) AS share_below,
          |    min(sz) >= 5 AS meets_k FROM l0
          |  UNION ALL
          |  SELECT 1, 'c_nationkey,c_mktsegment', count(*), min(sz),
          |    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT),
          |    round(CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
          |      / SUM(sz), 6), min(sz) >= 5 FROM l1
          |  UNION ALL
          |  SELECT 2, 'c_mktsegment', count(*), min(sz),
          |    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT),
          |    round(CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
          |      / SUM(sz), 6), min(sz) >= 5 FROM l2
          |  UNION ALL
          |  SELECT 3, '(all)', count(*), min(sz),
          |    CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT),
          |    round(CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
          |      / SUM(sz), 6), min(sz) >= 5 FROM l3)
          |ORDER BY level""".stripMargin,


      // the q103 IVF/exact CTEs at k=10, then precision-at-hit-rank sums
      // and the decimal-exact MAP on every row
      "q353_map_eval" ->
        s"""WITH $codebookCte,
          |$assignedCte,
          |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id < 5),
          |probe AS (SELECT query_id, qv, cid FROM (
          |    SELECT q.query_id, q.qv, c.cid,
          |      row_number() OVER (PARTITION BY q.query_id
          |        ORDER BY list_distance(qv, c.cv), c.cid) AS rn
          |    FROM q, c) WHERE rn <= 2),
          |approx AS (SELECT query_id, vec_id, rk AS r FROM (
          |    SELECT p.query_id, a.vec_id,
          |      row_number() OVER (PARTITION BY p.query_id
          |        ORDER BY 1.0 - list_cosine_similarity(
          |          CAST(a.embedding AS DOUBLE[]), p.qv), a.vec_id) AS rk
          |    FROM a JOIN probe p ON a.centroid_id = p.cid) WHERE rk <= 10),
          |exact AS (SELECT query_id, vec_id FROM (
          |    SELECT q.query_id, e.vec_id,
          |      row_number() OVER (PARTITION BY q.query_id
          |        ORDER BY 1.0 - list_cosine_similarity(
          |          CAST(e.embedding AS DOUBLE[]), q.qv), e.vec_id) AS rk
          |    FROM embeddings e, q) WHERE rk <= 10),
          |rc AS (SELECT query_id, count(*) AS n_rel FROM exact
          |  GROUP BY query_id),
          |h AS (SELECT ap.query_id, ap.r,
          |    CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
          |  FROM approx ap LEFT JOIN exact x USING (query_id, vec_id)),
          |cm AS (SELECT query_id, r, hit,
          |    SUM(hit) OVER (PARTITION BY query_id ORDER BY r) AS cum FROM h),
          |pr AS (SELECT query_id, hit,
          |    CASE WHEN hit = 1 THEN CAST(cum AS DOUBLE) / r END AS prec
          |  FROM cm),
          |apq AS (SELECT query_id,
          |    CAST(SUM(CAST(prec AS DECIMAL(38,18))) AS DOUBLE) AS sum_prec,
          |    CAST(SUM(hit) AS BIGINT) AS n_hit
          |  FROM pr GROUP BY query_id),
          |f AS (SELECT a2.query_id, n_rel, n_hit,
          |    COALESCE(sum_prec, 0.0) / n_rel AS ap
          |  FROM apq a2 JOIN rc USING (query_id)),
          |m AS (SELECT count(*) AS nq,
          |    CAST(SUM(CAST(ap AS DECIMAL(38,18))) AS DOUBLE) AS sap FROM f)
          |SELECT query_id, n_rel, n_hit, round(ap, 6) AS ap,
          |  round(sap / nq, 6) AS map
          |FROM f, m ORDER BY query_id""".stripMargin,


      // the q35 assignment with per-row rounded distances, k² centroid
      // separations, max-ratio per cell, decimal-mean DB
      "q354_davies_bouldin" ->
        s"""WITH $codebookCte,
          |asg AS (SELECT vec_id, centroid_id, round(centroid_dist, 6) AS d
          |  FROM (
          |    SELECT e.vec_id, c.cid AS centroid_id,
          |      list_distance(CAST(e.embedding AS DOUBLE[]), c.cv)
          |        AS centroid_dist,
          |      row_number() OVER (PARTITION BY e.vec_id
          |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv),
          |          c.cid) AS rn
          |    FROM embeddings e, c) WHERE rn = 1),
          |sg AS (SELECT centroid_id AS i, count(*) AS n,
          |    CAST(SUM(CAST(d AS DECIMAL(38,18))) AS DOUBLE) / count(*)
          |      AS sigma
          |  FROM asg GROUP BY centroid_id),
          |cd AS (SELECT x.cid AS i, y.cid AS j,
          |    round(list_distance(x.cv, y.cv), 6) AS dij
          |  FROM c x JOIN c y ON x.cid <> y.cid),
          |rj AS (SELECT cd.i, (si.sigma + sj.sigma) / dij AS rij
          |  FROM cd JOIN sg si ON si.i = cd.i JOIN sg sj ON sj.i = cd.j),
          |dbi AS (SELECT i, max(rij) AS db_i FROM rj GROUP BY i),
          |f AS (SELECT sg.i AS cid, n, sigma, db_i
          |  FROM sg JOIN dbi ON dbi.i = sg.i)
          |SELECT cid, CAST(n AS BIGINT) AS n, round(sigma, 6) AS sigma,
          |  round(db_i, 6) AS db_i,
          |  round(CAST(SUM(CAST(db_i AS DECIMAL(38,18))) OVER () AS DOUBLE)
          |    / count(*) OVER (), 6) AS db
          |FROM f ORDER BY cid""".stripMargin,


      // per-point rounded distances to every centroid, argmin a /
      // second-min b, decimal-mean s per cell and globally
      "q355_silhouette" ->
        s"""WITH $codebookCte,
          |d AS (SELECT e.vec_id AS id, c.cid,
          |    round(list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), 6)
          |      AS dist
          |  FROM embeddings e, c),
          |fs AS (SELECT id, dist AS a, cid AS own FROM (
          |    SELECT id, cid, dist, row_number() OVER (PARTITION BY id
          |      ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
          |sc AS (SELECT d.id, min(dist) AS b, max(a) AS a, max(own) AS own
          |  FROM d JOIN fs ON d.id = fs.id AND d.cid <> fs.own
          |  GROUP BY d.id),
          |sv AS (SELECT own, CASE WHEN greatest(a, b) > 0
          |    THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s FROM sc),
          |pc AS (SELECT own AS cid, count(*) AS n,
          |    CAST(SUM(CAST(s AS DECIMAL(38,18))) AS DOUBLE) / count(*)
          |      AS mean_s
          |  FROM sv GROUP BY own),
          |g AS (SELECT CAST(SUM(CAST(s AS DECIMAL(38,18))) AS DOUBLE)
          |    / count(*) AS s_global FROM sv)
          |SELECT cid, CAST(n AS BIGINT) AS n, round(mean_s, 6) AS mean_s,
          |  round(s_global, 6) AS s_global
          |FROM pc, g ORDER BY cid""".stripMargin,


      // full-outer category join with slice totals; keep new/gone plus
      // the top-10 unrounded share shifts
      "q356_category_drift" ->
        """WITH li AS (SELECT p_brand, year(CAST(l_shipdate AS DATE)) AS yr
          |  FROM lineitem JOIN part ON l_partkey = p_partkey),
          |r AS (SELECT p_brand AS cat, count(*) AS n_ref FROM li
          |  WHERE yr <= 1994 GROUP BY 1),
          |c2 AS (SELECT p_brand AS cat, count(*) AS n_cur FROM li
          |  WHERE yr >= 1995 GROUP BY 1),
          |t AS (SELECT (SELECT CAST(SUM(n_ref) AS BIGINT) FROM r) AS tr,
          |    (SELECT CAST(SUM(n_cur) AS BIGINT) FROM c2) AS tc),
          |j AS (SELECT COALESCE(r.cat, c2.cat) AS cat, n_ref, n_cur
          |  FROM r FULL OUTER JOIN c2 ON r.cat = c2.cat),
          |j2 AS (SELECT cat,
          |    CASE WHEN n_ref IS NULL THEN 'new'
          |      WHEN n_cur IS NULL THEN 'gone' ELSE 'shared' END AS status,
          |    CAST(COALESCE(n_ref, 0) AS BIGINT) AS n_ref,
          |    CAST(COALESCE(n_cur, 0) AS BIGINT) AS n_cur,
          |    CAST(COALESCE(n_ref, 0) AS DOUBLE) / tr AS share_ref,
          |    CAST(COALESCE(n_cur, 0) AS DOUBLE) / tc AS share_cur
          |  FROM j, t),
          |j3 AS (SELECT *, abs(share_cur - share_ref) AS shift FROM j2)
          |SELECT cat, status, n_ref, n_cur, round(share_ref, 6) AS share_ref,
          |  round(share_cur, 6) AS share_cur, round(shift, 6) AS shift
          |FROM j3
          |QUALIFY row_number() OVER (ORDER BY shift DESC, cat) <= 10
          |  OR status <> 'shared'
          |ORDER BY shift DESC, cat""".stripMargin,


      // last-writer-wins replay: the rn=1 by (version, op, payload) DESC
      // is exactly the struct-max ordering; delete ops tombstone
      "q357_changelog_apply" ->
        """WITH log AS (SELECT user_id, event_id AS version,
          |    CASE WHEN event_type = 'error' THEN 'delete'
          |      ELSE 'upsert' END AS op,
          |    event_type,
          |    COALESCE(CAST(round(value * 100) AS BIGINT), 0) AS v100
          |  FROM events WHERE user_id < 300),
          |last AS (SELECT user_id, version, op, event_type, v100 FROM (
          |    SELECT *, row_number() OVER (PARTITION BY user_id
          |      ORDER BY version DESC, op DESC, event_type DESC, v100 DESC)
          |      AS rn
          |    FROM log) WHERE rn = 1)
          |SELECT user_id, version, op, event_type, v100 FROM last
          |WHERE op <> 'delete' ORDER BY user_id""".stripMargin,


      // five decimal window sums over the trailing 14 days, the fixed
      // Pearson tree, full windows only
      "q358_rolling_corr" ->
        """WITH daily AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(ts AS DATE)) AS BIGINT) AS day,
          |    count(*) AS x,
          |    COALESCE(CAST(SUM(CAST(round(value * 100) AS BIGINT))
          |      AS BIGINT), 0) AS y
          |  FROM events GROUP BY 1),
          |wsum AS (SELECT day, CAST(x AS BIGINT) AS x, y,
          |    count(*) OVER w AS cnt,
          |    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(y AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(x * y AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sxy,
          |    CAST(SUM(CAST(x * x AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sxx,
          |    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) OVER w AS DOUBLE) AS syy
          |  FROM daily
          |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          |SELECT day, x, y,
          |  CASE WHEN (sxx - sx * sx / 14) > 0 AND (syy - sy * sy / 14) > 0
          |    THEN round((sxy - sx * sy / 14)
          |      / sqrt((sxx - sx * sx / 14) * (syy - sy * sy / 14)), 6)
          |  END AS corr
          |FROM wsum WHERE cnt = 14 ORDER BY day""".stripMargin,


      // exact-cents header-vs-lines close with the identical rounding
      // tree; summary rides every row, top-20 absolute deltas kept
      "q359_order_reconciliation" ->
        """WITH o AS (SELECT o_orderkey AS key,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS declared
          |  FROM orders),
          |li AS (SELECT l_orderkey AS key,
          |    CAST(round(l_extendedprice * (1.0 - l_discount)
          |      * (1.0 + l_tax) * 100) AS BIGINT) AS amt
          |  FROM lineitem),
          |cs AS (SELECT key, CAST(SUM(CAST(amt AS DECIMAL(38,0)))
          |    AS BIGINT) AS children FROM li GROUP BY key),
          |d AS (SELECT o.key, declared, COALESCE(children, 0) AS children,
          |    declared - COALESCE(children, 0) AS delta
          |  FROM o LEFT JOIN cs USING (key)),
          |s AS (SELECT count(*) AS n_parents,
          |    CAST(SUM(CASE WHEN delta <> 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_mismatched,
          |    CAST(SUM(abs(delta)) AS BIGINT) AS total_abs_delta FROM d)
          |SELECT key, declared, children, delta, n_parents, n_mismatched,
          |  total_abs_delta
          |FROM d, s
          |QUALIFY row_number() OVER (ORDER BY abs(delta) DESC, key) <= 20
          |ORDER BY key""".stripMargin,


      // candidate/truth pair counts under nation blocking with the
      // shifted-twin corpus; RR against C(2n, 2)
      "q360_blocking_quality" ->
        """WITH c AS (SELECT c_custkey AS id, c_nationkey AS nat
          |  FROM customer WHERE c_custkey < 400),
          |corpus AS (SELECT id, nat FROM c
          |  UNION ALL SELECT id + 10000, (nat + id % 2) % 25 FROM c),
          |truth AS (SELECT id AS a, id + 10000 AS b FROM c),
          |cand AS (SELECT x.id AS a, y.id AS b FROM corpus x JOIN corpus y
          |  ON x.nat = y.nat AND x.id < y.id),
          |counts AS (SELECT
          |  (SELECT count(*) FROM cand) AS n_candidates,
          |  (SELECT count(*) FROM truth) AS n_true,
          |  (SELECT count(*) FROM cand JOIN truth USING (a, b)) AS n_found,
          |  (SELECT count(*) FROM corpus) AS nr)
          |SELECT n_candidates, n_true, n_found,
          |  round(1.0 - CAST(n_candidates AS DOUBLE) / (nr * (nr - 1) / 2), 6)
          |    AS reduction_ratio,
          |  round(CAST(n_found AS DOUBLE) / n_true, 6) AS pairs_completeness
          |FROM counts""".stripMargin,


      // last-activity per user vs the corpus high-water mark at four
      // inactivity cutoffs
      "q361_churn_sensitivity" ->
        """WITH u AS (SELECT user_id,
          |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
          |  FROM events GROUP BY user_id),
          |m AS (SELECT max(last_us) AS max_us FROM u),
          |t AS (SELECT CAST(i AS BIGINT) AS t_days
          |  FROM unnest([7, 14, 21, 28]) AS u2(i))
          |SELECT t_days, count(*) AS n_users,
          |  CAST(SUM(CASE WHEN last_us < max_us - t_days * 86400000000
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
          |  round(CAST(SUM(CASE WHEN last_us < max_us - t_days * 86400000000
          |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS churn_rate
          |FROM u, m, t GROUP BY t_days ORDER BY t_days""".stripMargin,


      // rounded per-row norms, 64 per-dim decimal means folded in dim
      // order for ||mu||, the same fixed trees for sd/cv/anisotropy
      "q362_anisotropy" ->
        """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |nr AS (SELECT v, round(sqrt(list_reduce(
          |    list_transform(range(1, 65),
          |      i -> v[CAST(i AS INT)] * v[CAST(i AS INT)]),
          |    (a, b) -> a + b)), 6) AS nrm FROM e),
          |s AS (SELECT count(*) AS n,
          |    CAST(SUM(CAST(nrm AS DECIMAL(38,18))) AS DOUBLE) AS s1,
          |    CAST(SUM(CAST(nrm * nrm AS DECIMAL(38,18))) AS DOUBLE) AS s2
          |  FROM nr),
          |md AS (SELECT i AS dim,
          |    CAST(SUM(CAST(v[CAST(i AS INT)] AS DECIMAL(38,18))) AS DOUBLE)
          |      AS m
          |  FROM e, unnest(range(1, 65)) AS u(i) GROUP BY i),
          |mu AS (SELECT sqrt(list_reduce(
          |    list_transform(list(m / n ORDER BY dim), x -> x * x),
          |    (a, b) -> a + b)) AS mu_norm
          |  FROM md, s GROUP BY n)
          |SELECT n, round(s1 / n, 6) AS mean_norm,
          |  round(sqrt((s2 - s1 * s1 / n) / n), 6) AS sd_norm,
          |  round(sqrt((s2 - s1 * s1 / n) / n) / (s1 / n), 6) AS cv_norm,
          |  round(mu_norm, 6) AS mu_norm,
          |  round(mu_norm / (s1 / n), 6) AS anisotropy
          |FROM s, mu""".stripMargin,


      // the q99 pseudo-line construction, per-doc distinct lines, cross-
      // doc line df, boilerplate share at df >= 3
      "q363_boilerplate_lines" ->
        """WITH d AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
          |      AS toks
          |  FROM documents),
          |l AS (SELECT doc_id,
          |    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    ELSE list_transform(range(0, CAST(floor((len(toks) - 1) / 12) AS BIGINT) + 1),
          |      i -> array_to_string(toks[CAST(i * 12 + 1 AS INT) : CAST(i * 12 + 12 AS INT)], ' '))
          |    END AS lines
          |  FROM d),
          |dl AS (SELECT DISTINCT doc_id AS id, line
          |  FROM l, unnest(lines) AS u(line)),
          |fr AS (SELECT line, count(*) AS line_df FROM dl GROUP BY line)
          |SELECT id, count(*) AS n_lines,
          |  CAST(SUM(CASE WHEN line_df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_boiler,
          |  round(CAST(SUM(CASE WHEN line_df >= 3 THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*), 6) AS boiler_frac
          |FROM dl JOIN fr USING (line)
          |GROUP BY id ORDER BY id""".stripMargin,


      // the q305 fold chain, distinct word 4-grams per side, anti-join
      // novelty
      "q364_ngram_novelty" ->
        """WITH d AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM documents),
          |h0 AS (SELECT doc_id, t, (doc_id * 1000003) % 2147483647 AS h FROM d),
          |h1 AS (SELECT doc_id, t,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT t,
          |    ((xor(h, h >> 13) * 73244475) % 2147483647) % 10 >= 8 AS tst
          |  FROM h1),
          |g AS (SELECT DISTINCT tst,
          |    array_to_string(t[CAST(i AS INT) : CAST(i + 3 AS INT)], ' ')
          |      AS gram
          |  FROM h2, unnest(range(1, len(t) - 2)) AS u(i)
          |  WHERE len(t) >= 4),
          |tr AS (SELECT DISTINCT gram FROM g WHERE NOT tst),
          |te AS (SELECT DISTINCT gram FROM g WHERE tst),
          |un AS (SELECT gram FROM te WHERE gram NOT IN (SELECT gram FROM tr))
          |SELECT (SELECT count(*) FROM tr) AS n_train_grams,
          |  (SELECT count(*) FROM te) AS n_test_grams,
          |  (SELECT count(*) FROM un) AS n_unseen,
          |  round(CAST((SELECT count(*) FROM un) AS DOUBLE)
          |    / (SELECT count(*) FROM te), 6) AS novelty""".stripMargin,


      // the q101 candidate-pair CTEs re-ranked to two NN distances per
      // point, ln(r2/r1) decimal-accumulated
      "q365_intrinsic_dim" ->
        s"""$knnEdgesPrefixSql,
           |rk2 AS (SELECT id, round(distance, 6) AS dd,
           |    row_number() OVER (PARTITION BY id
           |      ORDER BY distance, nbr_id) AS r
           |  FROM p),
           |rr AS (SELECT id,
           |    min(CASE WHEN r = 1 THEN dd END) AS r1,
           |    min(CASE WHEN r = 2 THEN dd END) AS r2
           |  FROM rk2 WHERE r <= 2 GROUP BY id),
           |lg AS (SELECT ln(r2 / r1) AS logmu FROM rr
           |  WHERE r1 > 0 AND r2 IS NOT NULL),
           |f AS (SELECT count(*) AS n_points,
           |    CAST(SUM(CAST(logmu AS DECIMAL(38,18))) AS DOUBLE) AS sl
           |  FROM lg)
           |SELECT n_points, round(sl, 6) AS sum_log,
           |  CASE WHEN sl > 0
           |    THEN round(CAST(n_points AS DOUBLE) / sl, 6) END AS id_est
           |FROM f""".stripMargin,


      // per-user (x, y) moments per hash arm, the delta-method variance
      // tree, and the pooled two-arm z — identical parenthesization
      "q366_ratio_metric" ->
        """WITH pe AS (SELECT user_id,
          |    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
          |      THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT), 0)
          |      AS x,
          |    count(*) AS y
          |  FROM events GROUP BY user_id),
          |k0 AS (SELECT x, y, (user_id * 1000003) % 2147483647 AS h FROM pe),
          |k1 AS (SELECT x, y,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM k0),
          |k2 AS (SELECT x, y,
          |    ((xor(h, h >> 13) * 73244475) % 2147483647) % 2 = 0 AS arm
          |  FROM k1),
          |per AS (SELECT arm, count(*) AS n,
          |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
          |    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
          |    CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
          |  FROM k2 GROUP BY arm),
          |dd AS (SELECT arm, n, sx / sy AS ratio, sy / n AS ybar,
          |    (sxx - sx * sx / n) / n AS vx,
          |    (syy - sy * sy / n) / n AS vy,
          |    (sxy - sx * sy / n) / n AS cxy FROM per),
          |se AS (SELECT arm, n, ratio,
          |    sqrt((vx - 2.0 * ratio * cxy + ratio * ratio * vy)
          |      / (n * (ybar * ybar))) AS se
          |  FROM dd),
          |zz AS (SELECT (max(CASE WHEN arm THEN ratio END)
          |    - max(CASE WHEN NOT arm THEN ratio END))
          |    / sqrt(max(CASE WHEN arm THEN se * se END)
          |      + max(CASE WHEN NOT arm THEN se * se END)) AS z
          |  FROM se)
          |SELECT arm, n, round(ratio, 6) AS ratio, round(se, 6) AS se,
          |  round(z, 6) AS z
          |FROM se, zz ORDER BY arm""".stripMargin,


      // row-based lags over the daily series; exact integer error sums
      "q367_mase_forecast" ->
        """WITH daily AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(ts AS DATE)) AS BIGINT) AS day, count(*) AS n
          |  FROM events GROUP BY 1),
          |lg AS (SELECT day, CAST(n AS BIGINT) AS n,
          |    lag(n, 1) OVER (ORDER BY day) AS l1,
          |    lag(n, 7) OVER (ORDER BY day) AS ls
          |  FROM daily),
          |f AS (SELECT * FROM lg WHERE l1 IS NOT NULL AND ls IS NOT NULL)
          |SELECT count(*) AS n_days,
          |  round(CAST(SUM(abs(n - l1)) AS DOUBLE) / count(*), 6)
          |    AS mae_naive,
          |  round(CAST(SUM(abs(n - ls)) AS DOUBLE) / count(*), 6)
          |    AS mae_seasonal,
          |  CASE WHEN SUM(abs(n - l1)) > 0 THEN
          |    round(CAST(SUM(abs(n - ls)) AS DOUBLE) / SUM(abs(n - l1)), 6)
          |  END AS mase
          |FROM f""".stripMargin,


      // presence funnel per user, hash arms, pooled two-proportion z per
      // step transition
      "q368_funnel_ab" ->
        """WITH u AS (SELECT user_id,
          |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
          |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
          |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
          |  FROM events GROUP BY user_id),
          |k0 AS (SELECT v, c, p, (user_id * 1000003) % 2147483647 AS h
          |  FROM u),
          |k1 AS (SELECT v, c, p,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM k0),
          |k2 AS (SELECT v, c, p,
          |    ((xor(h, h >> 13) * 73244475) % 2147483647) % 2 = 0 AS arm
          |  FROM k1),
          |s AS (SELECT arm, v,
          |    CASE WHEN v = 1 AND c = 1 THEN 1 ELSE 0 END AS s2,
          |    CASE WHEN v = 1 AND c = 1 AND p = 1 THEN 1 ELSE 0 END AS s3
          |  FROM k2),
          |st AS (SELECT arm, 2 AS step, v AS prev, s2 AS conv FROM s
          |  UNION ALL SELECT arm, 3, s2, s3 FROM s),
          |g AS (SELECT step,
          |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
          |    CAST(SUM(CASE WHEN arm THEN conv ELSE 0 END) AS BIGINT)
          |      AS conv_t,
          |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_c,
          |    CAST(SUM(CASE WHEN NOT arm THEN conv ELSE 0 END) AS BIGINT)
          |      AS conv_c
          |  FROM st WHERE prev = 1 GROUP BY step),
          |w AS (SELECT *, CAST(conv_t AS DOUBLE) / n_t AS p_t,
          |    CAST(conv_c AS DOUBLE) / n_c AS p_c,
          |    CAST(conv_t + conv_c AS DOUBLE) / (n_t + n_c) AS pp FROM g)
          |SELECT step, n_t, conv_t, n_c, conv_c, round(p_t, 6) AS p_t,
          |  round(p_c, 6) AS p_c,
          |  CASE WHEN pp > 0 AND pp < 1 THEN round((p_t - p_c)
          |    / sqrt((pp * (1.0 - pp)) * (1.0 / n_t + 1.0 / n_c)), 6)
          |  END AS z
          |FROM w ORDER BY step""".stripMargin
  )
}
