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

/** Query builders + DuckDB oracles q422-q477, split verbatim from
  * SparkEntry (see its scaladoc for the oracle-parity contract; NOTES.md
  * for the hash/decimal replay rules). */
private[graft] object Queries422to477 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    "q422_brandes" -> ((s, dir) => {
      // single-source Brandes dependency on the kNN graph: exact path
      // counts forward, dependency backprop by level — top-20 broker
      // nodes; sampled-pivot betweenness is this × K sources
      val edges = storedKnnGraph(s, dir)
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      GraphAnalytics.brandesDependency(edges, "src", "dst",
        sourceId = 0L, maxDepth = 6, topK = 20)
    }),


    "q423_overdispersion" -> ((s, dir) =>
      // is daily volume Poisson: variance-to-mean ratio per event type
      // — VMR ≫ 1 invalidates Poisson alert thresholds
      Stats.overdispersionGate(
          events(s, dir).groupBy(col("event_type"),
              to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n_events")),
          "event_type", "n_events", threshold = 1.5)
        .orderBy("event_type")),


    "q424_two_pass_median" -> ((s, dir) =>
      // exact median of order cents WITHOUT a global sort: coarse
      // histogram locates the bucket, only that bucket rescans — the
      // 100 TB median plan (scan_frac shows the win)
      Stats.twoPassMedian(
          tbl(s, dir, "orders").select(
            round(col("o_totalprice") * 100).cast("long").as("cents")),
          "cents", coarseBins = 256)),


    "q425_rbo" -> ((s, dir) => {
      // how much did RRF fusion move the top-10: rank-biased overlap
      // (p=0.9) between the lexical BM25 ranking and the fused hybrid —
      // top-weighted, handles non-conjoint lists, coefficient literals
      val lex = storedBm25(s, dir,
          Seq("spark", "join", "vector", "window"), 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id").asc)))
        .select(col("id"), col("rank"))
      val e = tbl(s, dir, "embeddings")
      val dense = Similarity.topKBatch(e, "embedding", "vec_id",
          e.filter(col("vec_id") === 0).select(col("vec_id").as("qid"),
            col("embedding").as("qv")), "qv", "qid", 20)
        .select(col("vec_id").as("id"), col("rank"))
      val fused = Retrieval.rrfFuse(Seq(lex, dense), "id", 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf_score").desc, col("id").asc)))
        .select(col("id"), col("rank"))
      Evaluation.rankBiasedOverlap(lex, fused, "id", "rank",
        depth = 10, p = 0.9)
    }),


    "q426_join_cardinality" -> ((s, dir) =>
      // System-R uniform-NDV estimates vs EXACT join cardinalities
      // (computed from key-level counts, never the join itself) — the
      // q-error readout that says which joins will surprise a planner
      Profiling.joinCardinalityQa(Seq(
          ("orders_customer", tbl(s, dir, "orders"), "o_custkey",
            tbl(s, dir, "customer"), "c_custkey"),
          ("lineitem_part", tbl(s, dir, "lineitem"), "l_partkey",
            tbl(s, dir, "part"), "p_partkey"),
          ("lineitem_orders", tbl(s, dir, "lineitem"), "l_orderkey",
            tbl(s, dir, "orders"), "o_orderkey")))
        .orderBy("join_label")),


    "q427_bloom_fpr" -> ((s, dir) => {
      // empirical Bloom false-positive rate on known non-members vs the
      // fill^k approximation — validates the q140 runtime-filter params
      val o = tbl(s, dir, "orders").select(col("o_orderkey"))
      Sketches.bloomFprAudit(
        o.filter(col("o_orderkey") % 7 === 0), "o_orderkey",
        o.filter(col("o_orderkey") % 7 =!= 0), "o_orderkey",
        mBits = 65536, kHashes = 3)
    }),


    "q428_sampled_betweenness" -> ((s, dir) => {
      // Brandes & Pich sampled betweenness: the q422 machinery averaged
      // over 3 pivots — the practical centrality estimator at scale.
      // Served from the persisted GraphStore: the 3 Brandes sweeps are
      // the query's cost, the kNN build is not re-paid per run
      val edges = storedKnnGraph(s, dir)
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      GraphAnalytics.sampledBetweenness(edges, "src", "dst",
        sources = Seq(0L, 7L, 13L), maxDepth = 6, topK = 20)
    }),


    "q429_qq_shift" -> ((s, dir) => {
      // WHERE did the value distribution move: per-type decile table
      // pre vs post half — the quantile-resolved companion to q398's
      // scalar CvM verdict
      val ev = events(s, dir).filter(col("value").isNotNull)
      val base = ev.select(col("event_type"), col("event_id"),
          to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("v100"))
        .crossJoin(broadcast(ev.agg(min(to_date(col("ts"))).as("_d0"))))
        .withColumn("pre", datediff(col("day"), col("_d0")) < 15)
      Stats.qqShift(base, "event_type", "pre", "v100", "event_id")
        .orderBy("event_type", "decile")
    }),


    "q430_delta_encoding" -> ((s, dir) =>
      // DELTA_BINARY_PACKED audit: write-order-clustered l_orderkey
      // packs to a few bits/value, the random l_partkey pays full
      // width — the re-sort argument in numbers, one window pass
      DataLayout.deltaEncodingAudit(tbl(s, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber"),
          Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .orderBy("col_name")),


    "q431_stratified_att" -> ((s, dir) => {
      // Cochran 5-stratum subclassification on the q414 design: the
      // within-stratum treated-control gaps weighted by the treated
      // distribution — matching's sibling, famously ~90% bias removal
      val ev = events(s, dir)
      val d0 = ev.select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), col("value"))
        .crossJoin(broadcast(ev.agg(min(to_date(col("ts"))).as("_d0"))))
      val units = d0.groupBy("user_id")
        .agg(sum(when(datediff(col("day"), col("_d0")) < 15, 1L)
          .otherwise(0L)).as("score"),
          (sum(when(datediff(col("day"), col("_d0")) < 15 &&
            col("event_type") === "error", 1L).otherwise(0L)) >= 7)
            .as("treated"),
          sum(when(datediff(col("day"), col("_d0")) >= 15,
            coalesce(round(col("value") * 100).cast("long"), lit(0L)))
            .otherwise(0L)).as("y"))
      Stats.stratifiedAtt(units, "user_id", "treated", "score", "y",
          nStrata = 5)
        .orderBy("stratum")
    }),


    "q432_mean_excess" -> ((s, dir) =>
      // tail diagnosis of purchase value: mean excess above the exact
      // p90/p95/p99 — increasing = heavy tail, flat = exponential
      Stats.meanExcessTable(
          events(s, dir).filter(col("value").isNotNull)
            .select(col("event_id"),
              round(col("value") * 100).cast("long").as("v100")),
          "event_id", "v100", pcts = Seq(90, 95, 99))
        .orderBy("pct")),


    "q433_zipf_by_source" -> ((s, dir) =>
      // which SOURCE is templated: per-source Zipf octave slope +
      // top-token share — the mixture designer's naturalness screen
      NgramLm.zipfSlopeBySource(tbl(s, dir, "documents"), "source",
          "text")
        .orderBy("source")),


    "q434_burrows_delta" -> ((s, dir) =>
      // stylometric source fingerprinting: Burrows' Delta over the 20
      // corpus function words — suspiciously close source pairs share
      // a generator even when their topics differ
      NgramLm.burrowsDelta(tbl(s, dir, "documents"), "source", "text",
        topK = 20, topPairs = 10)),


    "q435_frequent_paths" -> ((s, dir) =>
      // what users actually do: top-10 within-session event-type
      // triples — the multi-step funnel view the transition matrix
      // can't show
      Stats.frequentPaths(events(s, dir), "user_id", "ts", "event_id",
        "event_type", gapUs = 30L * 60 * 1000000, topK = 10)),


    "q436_acf" -> ((s, dir) =>
      // seasonality reader: exact-sum ACF of daily volume at lags 1..7
      // per event type — a weekly cycle peaks at lag 7
      Stats.acfTable(
          events(s, dir).groupBy(col("event_type"),
              expr("cast(datediff(cast(ts as date), date'1970-01-01') as long)")
                .as("day"))
            .agg(count(lit(1)).as("n_events")),
          "event_type", "day", "n_events", maxLag = 7)
        .orderBy("event_type", "lag")),


    "q437_soundex_blocks" -> ((s, dir) =>
      // phonetic blocking for entity resolution: the corpus word
      // vocabulary (documents + part names/types) keyed by American
      // Soundex — same-sound different-spelling words land in one block
      Linkage.phoneticBlocks(
          tbl(s, dir, "documents")
            .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
            .union(tbl(s, dir, "part")
              .select(explode(split(lower(col("p_name")), "[^a-z]+"))
                .as("w")))
            .union(tbl(s, dir, "part")
              .select(explode(split(lower(col("p_type")), "[^a-z]+"))
                .as("w"))),
          "w")
        .orderBy(col("n_words").desc, col("sdx"))),


    "q438_dice_typo_match" -> ((s, dir) => {
      // typo-tolerant matching with the NATIVE codegen'd bigram-Dice
      // scalar: deterministic 2nd-char-dropped corruptions of the part
      // vocabulary are matched back to it (first-letter blocking); the
      // verifier is a fused-loop expression, not an explode→group
      // sub-pipeline per pair
      val vocab = tbl(s, dir, "part")
        .select(explode(split(lower(col("p_name")), "[^a-z]+")).as("w"))
        .union(tbl(s, dir, "documents")
          .select(explode(split(lower(col("text")), "[^a-z]+")).as("w")))
        .filter(length(col("w")) >= 4).distinct()
      val variants = vocab.select(col("w").as("orig"),
        concat(substring(col("w"), 1, 1), expr("substring(w, 3)"))
          .as("typo"))
      Linkage.diceBestMatch(variants, "orig", "typo", vocab, "w")
        .withColumn("recovered", col("best_match") === col("l_id"))
        .select(col("l_id").as("orig"), col("lw").as("typo"),
          col("best_match"), col("dice"), col("recovered"))
        .orderBy("orig")
    }),


    "q439_nelson_aalen" -> ((s, dir) => {
      // cumulative-hazard companion of the q251 KM curve: same censored
      // per-user lifetimes, additive Ĥ(t) + Greenwood variance — the
      // churn-rate readout with its CI band ingredient
      val per = events(s, dir).groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1"))
      val gmax = per.agg(max("t1").as("gm"))
      val life = per.crossJoin(broadcast(gmax))
        .select(expr("(t1 - t0) div 3600000000").as("t"),
          (col("t1") < col("gm") - lit(43200000000L)).as("observed"))
      Stats.nelsonAalen(life, "t", "observed").orderBy("t")
    }),


    "q440_kruskal_wallis" -> ((s, dir) =>
      // k-sample nonparametric ANOVA: do the three return-flag arms
      // share a quantity distribution? Midranks exact as 2·rank ints,
      // tie-corrected H — heavy integer ties are the point here
      Stats.kruskalWallis(tbl(s, dir, "lineitem"), "l_returnflag",
        "l_quantity")),


    "q441_session_window" -> ((s, dir) => {
      // sessionization with Spark's NATIVE session_window (gap-merged
      // event-time windows, the streaming-ready form) — the oracle
      // replays it as the classic gaps-and-islands SQL; stats must agree
      val sess = events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_ev"),
          min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1"))
      sess.agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_singleton"),
        max("n_ev").as("max_events"),
        round(sum("n_ev").cast("double") / count(lit(1)), 6)
          .as("avg_events"),
        round(sum(col("t1") - col("t0")).cast("double") /
          count(lit(1)) / 1000000.0, 6).as("avg_duration_s"))
    }),


    "q442_brown_forsythe" -> ((s, dir) =>
      // variance-equality gate before pooled inference: Levene with
      // median centers over price cents by return flag — exact integer
      // deviations from histogram-read lower medians
      Stats.brownForsythe(
        tbl(s, dir, "lineitem")
          .withColumn("cents",
            round(col("l_extendedprice") * 100).cast("long")),
        "l_returnflag", "cents")),


    "q443_jensen_shannon" -> ((s, dir) =>
      // corpus-mix distance matrix: pairwise JSD (nats) between source
      // unigram distributions — near-zero pairs are collapsible
      // redundancy, the content companion of q434's style Delta
      NgramLm.jensenShannonBySource(tbl(s, dir, "documents"), "source",
          "text")
        .orderBy("sa", "sb")),


    "q444_longest_streaks" -> ((s, dir) =>
      // engagement gaps-and-islands: top-20 users by longest run of
      // consecutive active days (day − row_number constant on a run)
      Stats.longestStreaks(
        events(s, dir).withColumn("day",
          expr("cast(datediff(cast(ts as date), date'1970-01-01') as long)")),
        "user_id", "day", topK = 20)),


    "q445_rfm_segments" -> ((s, dir) =>
      // customer-base health grid: deterministic RFM quintile codes
      // (ntile over (metric, user) order) rolled up with segment size
      // and average spend
      Stats.rfmSegments(
          events(s, dir)
            .withColumn("day",
              expr("cast(datediff(cast(ts as date), date'1970-01-01') as long)"))
            .withColumn("cents", round(col("value") * 100).cast("long")),
          "user_id", "day", "cents")
        .orderBy("rfm_code")),


    "q446_hill_tail" -> ((s, dir) =>
      // Pareto-tail exponent of order totals from the top-500 order
      // statistics (TakeOrdered, no global sort) — α ≤ 2 would force
      // heavy-tail-aware sampling plans; completes the q432 EVT pair
      Stats.hillTailIndex(
        tbl(s, dir, "orders")
          .withColumn("cents",
            round(col("o_totalprice") * 100).cast("long")),
        "cents", "o_orderkey", k = 500)),


    "q447_weibull_fit" -> ((s, dir) => {
      // parametric close-out of the survival family (q251 KM, q439 NA,
      // logRank): Weibull shape/scale by median-rank regression over the
      // uncensored churn lifetimes — k < 1 reads as infant-mortality
      // churn, k > 1 as wear-out
      val per = events(s, dir).groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1"))
      val gmax = per.agg(max("t1").as("gm"))
      val life = per.crossJoin(broadcast(gmax))
        .select(expr("(t1 - t0) div 3600000000").as("t"),
          (col("t1") < col("gm") - lit(43200000000L)).as("observed"))
      Stats.weibullFit(life, "t", "observed")
    }),


    "q448_assortativity" -> ((s, dir) => {
      // global shape of the q101 kNN graph: degree assortativity over
      // the symmetrized edges — kNN graphs run disassortative (hub
      // prototypes absorb everyone's neighbor slots); completes the
      // modularity/clustering-coefficient trio
      GraphAnalytics.assortativity(
        storedKnnGraph(s, dir),
        "id", "nbr_id")
    }),


    "q449_entropy_rate" -> ((s, dir) =>
      // how scripted is user behavior? Markov entropy rate of the
      // event-type chain vs ln(k): predictability near 1 is a bot
      // signature — the single-number reduction of q187's matrix
      Stats.entropyRate(events(s, dir), "user_id", "ts", "event_id",
        "event_type")),


    "q450_partial_correlation" -> ((s, dir) =>
      // does quantity relate to price once discount is held fixed? One
      // fact scan → 9 exact moments → 3 Pearsons → r_xy·z; the
      // 3-variable confounder check beside q376's Simpson demo
      Stats.partialCorrelation(tbl(s, dir, "lineitem"), "l_quantity",
        "l_extendedprice", "l_discount")),


    "q451_residual_diagnostics" -> ((s, dir) =>
      // is yesterday's surprise informative? Durbin-Watson + runs test
      // on mean-centered daily volumes per event type — the i.i.d.
      // screen that decides whether q436's ACF even needs reading
      Stats.residualDiagnostics(
          events(s, dir).groupBy(col("event_type"),
              expr("cast(datediff(cast(ts as date), date'1970-01-01') as long)")
                .as("day"))
            .agg(count(lit(1)).as("n_events")),
          "event_type", "day", "n_events")
        .orderBy("event_type")),


    "q452_anova_f" -> ((s, dir) =>
      // the parametric mean test beside q440's rank version: one
      // map-side-combinable scan of the fact, SSB/SSW from exact
      // decimal sums — does quantity differ by return flag in MEANS
      // (vs q440's distributions)?
      Stats.anovaF(tbl(s, dir, "lineitem"), "l_returnflag", "l_quantity")),


    "q453_wilcoxon_pairs" -> ((s, dir) => {
      // paired year-over-year shift: per part, 1996 vs 1997 shipped
      // quantity; signed-rank z on the exact integer differences — the
      // paired complement to q226's independent-arms Welch t
      val li = tbl(s, dir, "lineitem")
        .withColumn("yr", year(col("l_shipdate")))
        .filter(col("yr").isin(1996, 1997))
        .groupBy("l_partkey", "yr")
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val pairs = li.filter(col("yr") === 1996)
        .select(col("l_partkey"), col("q").as("q96"))
        .join(li.filter(col("yr") === 1997)
          .select(col("l_partkey"), col("q").as("q97")), Seq("l_partkey"))
        .withColumn("d", col("q97") - col("q96"))
      Stats.wilcoxonSignedRank(pairs, "d")
    }),


    "q454_friedman" -> ((s, dir) =>
      // repeated-measures rank test: every ship-month is a block, the
      // three return flags its treatments, monthly revenue cents the
      // response — do the flags keep a consistent revenue ORDER across
      // months? (Kendall's W = how consistent)
      Stats.friedman(
        tbl(s, dir, "lineitem")
          .groupBy(expr("year(l_shipdate) * 12 + month(l_shipdate)")
            .as("blk"), col("l_returnflag"))
          .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
            .as("cents")),
        "blk", "l_returnflag", "cents")),


    "q455_iv_wald" -> ((s, dir) => {
      // encouragement-design replay: parity of user_id is the (exogenous)
      // instrument, purchase count the self-selected treatment, total
      // spend cents the outcome — Wald LATE = reduced form / first
      // stage, with the weak-instrument F gate
      val ue = events(s, dir).groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"),
          sum(expr("cast(round(value * 100) as bigint)")).as("y"))
        .withColumn("z", pmod(col("user_id"), lit(2L)))
      Stats.ivWald(ue, "z", "x", "y")
    }),


    "q456_cochran_q" -> ((s, dir) => {
      // do the five event types reach the same share of users? One row
      // per user×type on the COMPLETE grid (x = reached), Cochran's Q
      // from exact BIGINT row/column totals — McNemar's k-way sibling
      val e = events(s, dir)
      val obs = e.groupBy("user_id", "event_type").agg(lit(1L).as("x"))
      val grid = e.select("user_id").distinct()
        .crossJoin(broadcast(e.select("event_type").distinct()))
        .join(obs, Seq("user_id", "event_type"), "left")
        .na.fill(0L, Seq("x"))
      Stats.cochranQ(grid, "user_id", "event_type", "x")
    }),


    "q457_effect_sizes" -> ((s, dir) =>
      // magnitude, not significance: pairwise Cohen's d / Hedges' g of
      // quantity across return flags — the readout that says whether
      // q452's F is worth acting on
      Stats.effectSizes(tbl(s, dir, "lineitem"), "l_returnflag",
        "l_quantity")),


    "q458_harmonic_centrality" -> ((s, dir) => {
      // exact harmonic + closeness centrality of 3 probe nodes on the
      // kNN graph (q418's edge set, served from the persisted
      // GraphStore): all-pairs is off the table at scale, but a few
      // exact pivot rows read navigability directly
      val edges = storedKnnGraph(s, dir)
        .select(col("id").as("src"), col("nbr_id").as("dst"))
      GraphAnalytics.harmonicCentrality(edges, "src", "dst",
        seeds = Seq(0L, 1L, 2L), maxHops = 8)
    }),


    "q459_kendall_tau" -> ((s, dir) => {
      // do busy days run smaller tickets? τ-b of daily order count vs
      // average order value, with the average compared by
      // cross-multiplication — exact integers end to end, pairs bounded
      // by the calendar (days²), never the fact table
      val daily = tbl(s, dir, "orders")
        .groupBy(expr(
          "cast(datediff(cast(o_orderdate as date), date'1970-01-01') as long)")
          .as("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)"))
            .as("cents"))
      Stats.kendallTauRatio(daily, "day", "n_orders", "cents", "n_orders")
    }),


    "q460_pacf" -> ((s, dir) =>
      // the AR-order reader on q436's ACF: Durbin-Levinson partial
      // autocorrelations at lags 1-3 of daily volume per event type —
      // does lag 2 carry signal once lag 1 is regressed out?
      Stats.pacf(
          events(s, dir).groupBy(col("event_type"),
              expr("cast(datediff(cast(ts as date), date'1970-01-01') as long)")
                .as("day"))
            .agg(count(lit(1)).as("n_events")),
          "event_type", "day", "n_events")
        .orderBy("event_type")),


    "q461_holt_winters" -> ((s, dir) =>
      // q394's Holt plus the weekly seasonal correction: additive
      // Holt-Winters (m=7) folded bit-identically on both engines, the
      // seven seasonal slots carried as state fields / CTE columns
      Stats.holtWinters(
          events(s, dir).groupBy(col("event_type"),
              to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n_events")),
          "event_type", "day", "n_events")
        .orderBy("event_type")),


    "q462_mann_kendall" -> ((s, dir) =>
      // is daily volume drifting? Mann-Kendall S with tie-corrected
      // variance and continuity-corrected z — the significance gate for
      // q211's Theil-Sen slope, exact BIGINTs end to end
      Stats.mannKendall(
          events(s, dir).groupBy(col("event_type"),
              expr("cast(datediff(cast(ts as date), date'1970-01-01') as long)")
                .as("day"))
            .agg(count(lit(1)).as("n_events")),
          "event_type", "day", "n_events")
        .orderBy("event_type")),


    "q463_semantic_divergence" -> ((s, dir) => {
      // SEMANTIC source-mix matrix: each label's distribution over the
      // 8 IVF centroid cells (served from the standing AnnStore —
      // labels + cells only, vectors pruned), then pairwise JSD — the
      // embedding-space companion of q443's lexical matrix; near-zero
      // pairs cover the same semantic territory
      val cells = storedAssigned(s, dir)
        .groupBy(col("label"), col("centroid_id"))
        .agg(count(lit(1)).as("c"))
      NgramLm.jensenShannonCounts(cells, "label", "centroid_id", "c")
        .orderBy("sa", "sb")
    }),


    "q464_shard_median_bias" -> ((s, dir) =>
      // how wrong is median-of-shard-medians? Exact per-shard lower
      // medians off histograms, their median, vs the true exact median —
      // the measured bias that justifies q424's two-pass plan
      Profiling.shardMedianBias(
        tbl(s, dir, "orders").select(
          pmod(col("o_orderkey"), lit(8L)).as("shard"),
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "shard", "cents")),


    "q465_oov_rate" -> ((s, dir) =>
      // tokenizer-coverage audit: per source, the share of token
      // occurrences (and distinct types) outside the global top-1000
      // reference vocabulary — the "is this source linguistically alien"
      // gate before mixing it in
      TextQuality.oovRate(tbl(s, dir, "documents"), "source", "text",
        vocabSize = 1000)),


    "q466_goertzel_tone" -> ((s, dir) => {
      // tone detection through the REAL audio codec: every 3rd clip
      // carries a period-6 square-ish tone under pseudo-noise; the
      // fs/6 Goertzel bin (coefficient exactly 1 → pure integer filter)
      // flags them by Parseval share — beep/DTMF screening, map-side
      import s.implicits._
      val tonePat = Array(1000, 1000, 0, -1000, -1000, 0)
      val wavs = tbl(s, dir, "documents").select(col("doc_id"))
        .repartition(32).as[Long]
        .map { id =>
          val n = (128 + id % 64).toInt
          val samples = Array.tabulate(n) { i =>
            val noise = (((id * 31 + i * 17) % 4096) / 4 - 512).toInt
            val tone = if (id % 3 == 0) tonePat(i % 6) else 0
            (noise + tone).toShort
          }
          (id, graft.sources.BinaryMedia.encodeWavPcm16(samples, 8000))
        }.toDF("doc_id", "wav")
      Multimodal.goertzelTone(wavs, "doc_id", "wav")
        .select(col("doc_id"), col("n_samples"), col("s1"), col("s2"),
          col("p_tone"), col("energy"), col("tone_share"),
          (col("tone_share") > 0.05).as("is_tonal"))
        .orderBy("doc_id")
    }),


    "q467_image_gradients" -> ((s, dir) => {
      // sharpness/edge audit through the REAL image codec: integer
      // Sobel energy + variance-of-Laplacian per image (the classic
      // blur score a vision pipeline gates frames on), exact BIGITs
      // from decoded pixels, one fixed double tree per derived stat
      import s.implicits._
      val imgs = tbl(s, dir, "documents").select(col("doc_id"))
        .repartition(32).as[Long]
        .map { id =>
          val px = Array.tabulate(256)(i =>
            (((i % 16) * 7 + (i / 16) * 13 + id * 31) % 256).toInt)
          (id, graft.sources.BinaryMedia.encodeGrayPng(16, 16, px))
        }.toDF("doc_id", "img")
      Multimodal.imageGradientStats(imgs, "doc_id", "img")
        .select(col("doc_id"), col("n_interior"), col("edge_energy"),
          round(col("edge_energy").cast("double") / col("n_interior"), 6)
            .as("mean_grad_sq"),
          round((col("lap_sq").cast("double") -
            col("lap_sum").cast("double") * col("lap_sum") /
              col("n_interior")) / col("n_interior"), 6).as("lap_var"))
        .orderBy("doc_id")
    }),


    "q468_minhash_calibration" -> ((s, dir) => {
      // is 64 hashes enough? est−exact Jaccard over the LSH survivors:
      // bias / MAE / RMSE and the share within one hash-granule — the
      // signature-health gate before a corpus-scale re-signature
      val d = tbl(s, dir, "documents").filter(col("doc_id") < 300)
      val corpus = nearDupCorpus(d)
      Dedup.minhashCalibration(corpus, "doc_id", "text", shingleN = 5,
        numHashes = 64, bands = 8, threshold = 0.5)
    }),


    "q469_string_encoding_audit" -> ((s, dir) =>
      // string storage advisor: raw vs dictionary vs front-coded bytes
      // per part column — prefix lengths via the monotone-indicator
      // count, windows only over the DICTIONARY, never the corpus
      Profiling.stringEncodingAudit(tbl(s, dir, "part"),
          Seq("p_brand", "p_name", "p_type"))
        .orderBy("col_name")),


    "q470_query_performance" -> ((s, dir) =>
      // retrieval triage: per query the BM25 top-10 score-list shape —
      // top-1 gap and clarity route flat/hard queries to a reranker,
      // confident ones return early
      Retrieval.queryPerformance(tbl(s, dir, "documents"), "doc_id",
        "text",
        Seq("q_agg" -> Seq("agg", "group", "sort"),
          "q_broad" -> Seq("data", "table"),
          "q_scan" -> Seq("scan", "filter"),
          "q_spark" -> Seq("spark", "join", "vector", "window")),
        k = 10)),


    "q471_competing_risks" -> ((s, dir) => {
      // which ending wins, and when: per user the FIRST purchase vs the
      // FIRST error ends the journey (neither → censored at last sight);
      // Aalen-Johansen CIF per cause — the estimator 1−KM-per-cause
      // over-counts, completing the q251/q439/q372 survival family
      val e = events(s, dir)
      val per = e.groupBy("user_id")
        .agg(min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1"))
      def firstOf(tpe: String, as: String) =
        e.filter(col("event_type") === tpe).groupBy("user_id")
          .agg(min(unix_micros(col("ts"))).as(as))
      val life = per
        .join(firstOf("purchase", "ta"), Seq("user_id"), "left")
        .join(firstOf("error", "tb"), Seq("user_id"), "left")
        .select(
          expr("""case when ta is not null and (tb is null or ta <= tb)
                 |  then (ta - t0) div 3600000000
                 |when tb is not null then (tb - t0) div 3600000000
                 |else (t1 - t0) div 3600000000 end"""
            .stripMargin.replaceAll("\n", " ")).as("t"),
          expr("""case when ta is not null and (tb is null or ta <= tb)
                 |  then 1 when tb is not null then 2 else 0 end"""
            .stripMargin.replaceAll("\n", " ")).as("cause"))
      Stats.competingRisks(life, "t", "cause")
    }),


    "q472_quantile_regression" -> ((s, dir) =>
      // τ ∈ {0.1, 0.5, 0.9} revenue-per-order-count envelope: exact
      // ×10-cleared pinball losses over a fixed slope grid; the 0.1/0.9
      // spread is daily heteroscedasticity made visible beside q211's
      // single Theil-Sen slope
      Stats.quantileRegressionGrid(
        tbl(s, dir, "orders")
          .groupBy(expr("cast(o_orderdate as date)").as("day"))
          .agg(count(lit(1)).as("x"),
            sum(expr("cast(round(o_totalprice * 100) as bigint)"))
              .as("y")),
        "x", "y", grid = (0L to 20L).map(_ * 2500000L),
        taus10 = Seq(1, 5, 9))),


    "q473_blocklist_scan" -> ((s, dir) =>
      // C4-style bad-word gate tuning: per (source, pattern) the doc
      // hit share and total occurrences via the replace-and-measure
      // identity — exact integers, map-side explode, no regex
      Governance.blocklistScan(tbl(s, dir, "documents"), "source",
        "text", Seq("big", "error", "slow"))),


    "q474_wasserstein_drift" -> ((s, dir) =>
      // year-over-year price-distribution drift per priority, in DOLLARS
      // (cents): W1 integrates the CDF gap, so a uniform $100 shift
      // scores ~10000 where KS would saturate — the drift number with
      // units that the KS/CvM/PSI/JS family lacks
      Stats.wasserstein1(
        tbl(s, dir, "orders")
          .filter(year(col("o_orderdate")).isin(1996, 1997))
          .select(col("o_orderpriority"),
            (year(col("o_orderdate")) === 1997).as("cur"),
            expr("cast(round(o_totalprice * 100) as bigint)").as("cents")),
        "o_orderpriority", "cur", "cents")
        .orderBy("o_orderpriority")),


    "q475_hbos_outliers" -> ((s, dir) =>
      // independence-model outlier screen: the 20 orders whose ($20k
      // price bin × weekday × priority) cells are JOINTLY rarest — the
      // exact count-product rank-equivalent of HBOS's -Σ log density,
      // zero shuffles on the fact side
      Profiling.hbosScores(
        tbl(s, dir, "orders").select(col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint) div 2000000")
            .as("price_bin"),
          (weekday(col("o_orderdate")) + 1).as("dow"),
          col("o_orderpriority").as("prio")),
        "o_orderkey", Seq("price_bin", "dow", "prio"), k = 20)),


    "q476_shapley_attribution" -> ((s, dir) =>
      // game-theoretic channel credit: k!·φ exact integers over the 16
      // coalition values v(S) = converted users explainable by S —
      // efficiency Σφ = v(C) holds to the last unit, unlike the
      // heuristic linear/U-shape splits (q225) and removal effects
      // (q411) it arbitrates between
      streaming.EventStreams.shapleyAttribution(events(s, dir),
        "purchase", Seq("click", "view", "signup", "error"))),


    "q477_padding_waste" -> ((s, dir) =>
      // does length-sorting before batching pay? padded-vs-real token
      // totals under arrival order and (len, id) order at batch=32 —
      // exact integers, the only float is the waste share
      Chunker.paddingWaste(
        tbl(s, dir, "documents").select(col("doc_id"),
          size(filter(split(lower(col("text")), "[^a-z0-9]+"),
            t => t =!= "")).as("n_tokens")),
        "doc_id", "n_tokens", batchSize = 32))
  )

  def oracleSql: Map[String, String] = Map(


      "q422_brandes" -> brandesOracleSql,


      // exact BIGINT/HUGEINT moments, one division each
      "q423_overdispersion" ->
        """WITH d AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
          |    CAST(count(*) AS BIGINT) AS v
          |  FROM events GROUP BY 1, 2),
          |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(v) AS BIGINT) AS s,
          |    SUM(CAST(v AS HUGEINT) * v) AS s2
          |  FROM d GROUP BY g),
          |f AS (SELECT g, n,
          |    CAST(s AS DOUBLE) / n AS mean_v,
          |    (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1)
          |      AS var_v
          |  FROM a WHERE n > 1 AND s > 0)
          |SELECT g AS event_type, n, round(mean_v, 6) AS mean_v,
          |  round(var_v, 6) AS var_v,
          |  round(var_v / mean_v, 6) AS vmr,
          |  var_v / mean_v > 1.5 AS overdispersed
          |FROM f ORDER BY event_type""".stripMargin,


      // coarse histogram → target bucket → rank-select within it
      "q424_two_pass_median" ->
        """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
          |    AS v FROM orders),
          |rng AS (SELECT min(v) AS mn, max(v) AS mx,
          |    CAST(count(*) AS BIGINT) AS nn FROM v),
          |b AS (SELECT v, least(255, ((v - mn) * 256) // (mx - mn + 1))
          |    AS bin FROM v, rng),
          |h AS (SELECT bin, CAST(count(*) AS BIGINT) AS f FROM b
          |  GROUP BY bin),
          |c AS (SELECT bin, f, CAST(SUM(f) OVER (ORDER BY bin
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |    nn, (nn + 1) // 2 AS k
          |  FROM h, rng),
          |t AS (SELECT bin AS tb, k - (cum - f) AS rk,
          |    f AS n_candidates, nn
          |  FROM c WHERE cum >= k ORDER BY bin LIMIT 1),
          |m AS (SELECT b.v, row_number() OVER (ORDER BY b.v) AS rn,
          |    t.tb, t.rk, t.n_candidates, t.nn
          |  FROM b JOIN t ON b.bin = t.tb)
          |SELECT nn AS n, tb AS coarse_bin, rk AS rank_in_bin,
          |  n_candidates, v AS median,
          |  round(CAST(n_candidates AS DOUBLE) / nn, 6) AS scan_frac
          |FROM m WHERE rn = rk""".stripMargin,


      "q425_rbo" -> rboOracleSql,


      "q426_join_cardinality" -> joinCardinalityOracleSql,


      "q427_bloom_fpr" -> bloomFprOracleSql,


      "q428_sampled_betweenness" -> sampledBetweennessOracleSql,


      // rank windows per (type, half), nearest-rank deciles via the
      // integer ceiling, pivoted to a shift table
      "q429_qq_shift" ->
        """WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS dmin FROM events),
          |ev AS (SELECT event_type, event_id,
          |    date_diff('day', dmin, CAST(ts AS DATE)) < 15 AS pre,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events, d0 WHERE value IS NOT NULL),
          |rk AS (SELECT event_type, pre, v,
          |    CAST(row_number() OVER (PARTITION BY event_type, pre
          |      ORDER BY v, event_id) AS BIGINT) AS rn,
          |    CAST(count(*) OVER (PARTITION BY event_type, pre)
          |      AS BIGINT) AS n
          |  FROM ev),
          |dc AS (SELECT event_type, pre, v, CAST(d AS INT) AS decile
          |  FROM rk, unnest(range(1, 10)) AS u(d)
          |  WHERE rn = (d * n + 9) // 10)
          |SELECT event_type, decile,
          |  max(CASE WHEN pre THEN v END) AS v_pre,
          |  max(CASE WHEN NOT pre THEN v END) AS v_post,
          |  max(CASE WHEN NOT pre THEN v END) -
          |    max(CASE WHEN pre THEN v END) AS shift
          |FROM dc GROUP BY 1, 2 ORDER BY event_type, decile""".stripMargin,


      // one window pass, zigzag widths, integer sums
      "q430_delta_encoding" ->
        """WITH w AS (SELECT
          |    l_orderkey - lag(l_orderkey) OVER o AS d_ok,
          |    l_partkey - lag(l_partkey) OVER o AS d_pk,
          |    l_suppkey - lag(l_suppkey) OVER o AS d_sk
          |  FROM lineitem
          |  WINDOW o AS (ORDER BY l_orderkey, l_linenumber)),
          |a AS (SELECT CAST(count(*) + 1 AS BIGINT) AS n,
          |    CAST(SUM(CASE WHEN d_ok = 0 THEN 0
          |      ELSE length(bin(abs(d_ok) * 2)) END) AS BIGINT) AS sb_ok,
          |    CAST(SUM(CASE WHEN d_ok = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS z_ok,
          |    CAST(max(CASE WHEN d_ok = 0 THEN 0
          |      ELSE length(bin(abs(d_ok) * 2)) END) AS BIGINT) AS mx_ok,
          |    CAST(SUM(CASE WHEN d_pk = 0 THEN 0
          |      ELSE length(bin(abs(d_pk) * 2)) END) AS BIGINT) AS sb_pk,
          |    CAST(SUM(CASE WHEN d_pk = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS z_pk,
          |    CAST(max(CASE WHEN d_pk = 0 THEN 0
          |      ELSE length(bin(abs(d_pk) * 2)) END) AS BIGINT) AS mx_pk,
          |    CAST(SUM(CASE WHEN d_sk = 0 THEN 0
          |      ELSE length(bin(abs(d_sk) * 2)) END) AS BIGINT) AS sb_sk,
          |    CAST(SUM(CASE WHEN d_sk = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS z_sk,
          |    CAST(max(CASE WHEN d_sk = 0 THEN 0
          |      ELSE length(bin(abs(d_sk) * 2)) END) AS BIGINT) AS mx_sk
          |  FROM w WHERE d_ok IS NOT NULL)
          |SELECT 'l_orderkey' AS col_name, n,
          |  round(CAST(sb_ok AS DOUBLE) / (n - 1), 6) AS avg_delta_bits,
          |  round(CAST(z_ok AS DOUBLE) / (n - 1), 6) AS zero_delta_frac,
          |  mx_ok AS max_delta_bits FROM a
          |UNION ALL
          |SELECT 'l_partkey', n, round(CAST(sb_pk AS DOUBLE) / (n - 1), 6),
          |  round(CAST(z_pk AS DOUBLE) / (n - 1), 6), mx_pk FROM a
          |UNION ALL
          |SELECT 'l_suppkey', n, round(CAST(sb_sk AS DOUBLE) / (n - 1), 6),
          |  round(CAST(z_sk AS DOUBLE) / (n - 1), 6), mx_sk FROM a
          |ORDER BY col_name""".stripMargin,


      // q414's unit CTE, rank-based equal strata, treated-weighted gaps
      "q431_stratified_att" ->
        """WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS dmin FROM events),
          |u AS (SELECT user_id AS uid,
          |    CAST(SUM(CASE WHEN date_diff('day', dmin, CAST(ts AS DATE))
          |      < 15 THEN 1 ELSE 0 END) AS BIGINT) AS sc,
          |    CAST(SUM(CASE WHEN date_diff('day', dmin, CAST(ts AS DATE))
          |      < 15 AND event_type = 'error' THEN 1 ELSE 0 END)
          |      AS BIGINT) >= 7 AS tr,
          |    CAST(SUM(CASE WHEN date_diff('day', dmin, CAST(ts AS DATE))
          |      >= 15 THEN coalesce(CAST(round(value * 100) AS BIGINT), 0)
          |      ELSE 0 END) AS BIGINT) AS y
          |  FROM events, d0 GROUP BY user_id),
          |rk AS (SELECT uid, tr, y,
          |    CAST(row_number() OVER (ORDER BY sc, uid) AS BIGINT) AS rn,
          |    CAST(count(*) OVER () AS BIGINT) AS n FROM u),
          |st AS (SELECT CAST(((rn - 1) * 5) // n AS INT) AS stratum,
          |    tr, y FROM rk),
          |per AS (SELECT stratum,
          |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
          |    CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_c,
          |    CAST(SUM(CASE WHEN tr THEN y ELSE 0 END) AS BIGINT) AS s_t,
          |    CAST(SUM(CASE WHEN NOT tr THEN y ELSE 0 END) AS BIGINT)
          |      AS s_c
          |  FROM st GROUP BY stratum),
          |g AS (SELECT stratum, n_t, n_c,
          |    CASE WHEN n_t > 0 THEN CAST(s_t AS DOUBLE) / n_t END
          |      AS mean_t,
          |    CASE WHEN n_c > 0 THEN CAST(s_c AS DOUBLE) / n_c END
          |      AS mean_c
          |  FROM per),
          |gg AS (SELECT *, mean_t - mean_c AS gap FROM g),
          |ww AS (SELECT *,
          |    CAST(SUM(CASE WHEN gap IS NOT NULL THEN n_t ELSE 0 END)
          |      OVER () AS BIGINT) AS wt,
          |    CAST(SUM(CASE WHEN gap IS NOT NULL
          |      THEN CAST(n_t * gap AS DECIMAL(38,18)) END) OVER ()
          |      AS DOUBLE) AS wsum
          |  FROM gg)
          |SELECT stratum, n_t, n_c, round(mean_t, 6) AS mean_t,
          |  round(mean_c, 6) AS mean_c, round(gap, 6) AS gap,
          |  round(wsum / wt, 6) AS att_strat
          |FROM ww ORDER BY stratum""".stripMargin,


      // exact nearest-rank thresholds, integer excess sums
      "q432_mean_excess" ->
        """WITH v AS (SELECT event_id AS id,
          |    CAST(round(value * 100) AS BIGINT) AS v
          |  FROM events WHERE value IS NOT NULL),
          |rk AS (SELECT id, v, CAST(row_number() OVER (ORDER BY v, id)
          |      AS BIGINT) AS rn,
          |    CAST(count(*) OVER () AS BIGINT) AS n FROM v),
          |th AS (SELECT s.p, rk.v AS u, rk.n
          |  FROM (SELECT unnest([90, 95, 99]) AS p) s
          |  JOIN rk ON rk.rn = (s.p * rk.n + 99) // 100)
          |SELECT CAST(th.p AS INT) AS pct, th.u AS threshold,
          |  CAST(count(*) AS BIGINT) AS n_exceed,
          |  round(CAST(SUM(rk.v - th.u) AS DOUBLE) / count(*), 6)
          |    AS mean_excess,
          |  round(CAST(count(*) AS DOUBLE) / max(th.n), 6) AS exceed_frac
          |FROM th JOIN rk ON rk.v > th.u
          |GROUP BY th.p, th.u ORDER BY pct""".stripMargin,


      // per-source octave profile, integer OLS of ilog2(types) on octave
      "q433_zipf_by_source" ->
        """WITH toks AS (SELECT source AS src,
          |    unnest(list_filter(regexp_split_to_array(lower(text),
          |      '\s+'), x -> x <> '')) AS tok
          |  FROM documents),
          |tc AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
          |  FROM toks GROUP BY 1, 2),
          |oc AS (SELECT src,
          |    CAST(length(bin(c)) - 1 AS BIGINT) AS o,
          |    CAST(count(*) AS BIGINT) AS types
          |  FROM tc GROUP BY 1, 2),
          |oy AS (SELECT src, o, types,
          |    CAST(length(bin(types)) - 1 AS BIGINT) AS y FROM oc),
          |fit AS (SELECT src, CAST(count(*) AS BIGINT) AS n_octaves,
          |    CAST(SUM(o) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          |    CAST(SUM(o * o) AS BIGINT) AS sxx,
          |    CAST(SUM(o * y) AS BIGINT) AS sxy
          |  FROM oy GROUP BY src),
          |sl AS (SELECT src, n_octaves,
          |    CASE WHEN n_octaves * sxx - sx * sx <> 0
          |      THEN CAST(n_octaves * sxy - sx * sy AS DOUBLE) /
          |        (n_octaves * sxx - sx * sx) END AS slope
          |  FROM fit),
          |tt AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n_tokens,
          |    CAST(count(*) AS BIGINT) AS n_types,
          |    CAST(max(c) AS BIGINT) AS mx
          |  FROM tc GROUP BY src)
          |SELECT sl.src AS source, n_tokens, n_types, n_octaves,
          |  round(slope, 6) AS slope,
          |  round(CAST(mx AS DOUBLE) / n_tokens, 6) AS top_share
          |FROM sl JOIN tt ON sl.src = tt.src ORDER BY source""".stripMargin,


      // top-20 corpus words, per-mille per-source frequencies with
      // genuine zeros, cross-source z-scores, pairwise mean |Δz|
      "q434_burrows_delta" ->
        """WITH toks AS (SELECT source AS src,
          |    unnest(list_filter(regexp_split_to_array(lower(text),
          |      '\s+'), x -> x <> '')) AS tok
          |  FROM documents),
          |tc AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
          |  FROM toks GROUP BY 1, 2),
          |vocab AS (SELECT tok FROM (SELECT tok,
          |      CAST(SUM(c) AS BIGINT) AS cf FROM tc GROUP BY tok)
          |  ORDER BY cf DESC, tok LIMIT 20),
          |tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS nt FROM tc
          |  GROUP BY src),
          |grid AS (SELECT tot.src, vocab.tok,
          |    CAST(coalesce(tc.c, 0) AS DOUBLE) * 1000.0 / tot.nt AS f
          |  FROM vocab CROSS JOIN tot
          |  LEFT JOIN tc ON tc.src = tot.src AND tc.tok = vocab.tok),
          |st AS (SELECT tok, CAST(count(*) AS BIGINT) AS ns,
          |    CAST(SUM(CAST(f AS DECIMAL(38,18))) AS DOUBLE) AS s1,
          |    CAST(SUM(CAST(f * f AS DECIMAL(38,18))) AS DOUBLE) AS s2
          |  FROM grid GROUP BY tok),
          |sm AS (SELECT tok, s1 / ns AS mu,
          |    sqrt(greatest(CAST(0.0 AS DOUBLE),
          |      (s2 - s1 * s1 / ns) / ns)) AS sd
          |  FROM st),
          |z AS (SELECT grid.src, grid.tok, (f - mu) / sd AS z
          |  FROM grid JOIN sm ON grid.tok = sm.tok WHERE sd > 0),
          |pr AS (SELECT a.src AS sa, b.src AS sb,
          |    CAST(count(*) AS BIGINT) AS n_words,
          |    CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(38,18)))
          |      AS DOUBLE) / count(*) AS delta
          |  FROM z a JOIN z b ON a.tok = b.tok AND a.src < b.src
          |  GROUP BY 1, 2)
          |SELECT CAST(rk AS INT) AS rank, sa, sb, n_words,
          |  round(delta, 6) AS delta
          |FROM (SELECT *, row_number() OVER (ORDER BY delta, sa, sb)
          |    AS rk FROM pr)
          |WHERE rk <= 10 ORDER BY rank""".stripMargin,


      // lead-window triples within the session gap, count + share
      "q435_frequent_paths" ->
        """WITH e AS (SELECT user_id, event_id,
          |    CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
          |l AS (SELECT event_type,
          |    lead(event_type, 1) OVER w AS t1,
          |    lead(event_type, 2) OVER w AS t2,
          |    epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS g1,
          |    epoch_us(lead(ts, 2) OVER w) - epoch_us(lead(ts, 1) OVER w)
          |      AS g2
          |  FROM e
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |p AS (SELECT event_type || '>' || t1 || '>' || t2 AS path
          |  FROM l WHERE t2 IS NOT NULL AND g1 <= 1800000000
          |    AND g2 <= 1800000000),
          |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
          |  GROUP BY path),
          |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM c)
          |SELECT CAST(rk AS INT) AS rank, path, n,
          |  round(CAST(n AS DOUBLE) / tot, 6) AS share
          |FROM (SELECT *, row_number() OVER (ORDER BY n DESC, path)
          |    AS rk FROM c, tt)
          |WHERE rk <= 10 ORDER BY rank""".stripMargin,


      // shifted self-join per lag, exact moments, closed-form Pearson
      "q436_acf" -> acfOracleSql,


      // full American-Soundex replay: translate → per-digit run collapse
      // (RE2 has no backreferences) → strip zeros → pad to 4
      "q437_soundex_blocks" -> soundexOracleSql,


      // bigram multiset intersection per candidate pair replays the
      // native expression: 2·Σ min(cnt) / (m+n), one double division
      "q438_dice_typo_match" ->
        """WITH v0 AS (
          |  SELECT unnest(list_filter(regexp_split_to_array(
          |      lower(p_name), '[^a-z]+'), x -> x <> '')) AS w FROM part
          |  UNION ALL
          |  SELECT unnest(list_filter(regexp_split_to_array(
          |      lower(text), '[^a-z]+'), x -> x <> '')) FROM documents),
          |vocab AS (SELECT DISTINCT w FROM v0 WHERE length(w) >= 4),
          |variants AS (SELECT w AS orig,
          |    substr(w, 1, 1) || substr(w, 3) AS typo FROM vocab),
          |cand AS (SELECT va.orig, va.typo, v.w
          |  FROM variants va JOIN vocab v
          |    ON substr(va.typo, 1, 1) = substr(v.w, 1, 1)),
          |tb AS (SELECT typo, unnest(list_transform(
          |    range(1, length(typo)),
          |    i -> substr(typo, CAST(i AS INT), 2))) AS g
          |  FROM (SELECT DISTINCT typo FROM variants) t),
          |tbc AS (SELECT typo, g, count(*) AS c FROM tb GROUP BY 1, 2),
          |wb AS (SELECT w, unnest(list_transform(range(1, length(w)),
          |    i -> substr(w, CAST(i AS INT), 2))) AS g FROM vocab),
          |wbc AS (SELECT w, g, count(*) AS c FROM wb GROUP BY 1, 2),
          |inter AS (SELECT t.typo, v.w,
          |    CAST(SUM(LEAST(t.c, v.c)) AS BIGINT) AS i
          |  FROM tbc t JOIN wbc v ON t.g = v.g GROUP BY 1, 2),
          |scored AS (SELECT c.orig, c.typo, c.w,
          |    2.0 * coalesce(i.i, 0) /
          |      (length(c.typo) - 1 + length(c.w) - 1) AS dice
          |  FROM cand c LEFT JOIN inter i
          |    ON i.typo = c.typo AND i.w = c.w),
          |best AS (SELECT *, row_number() OVER (PARTITION BY orig
          |    ORDER BY dice DESC, w) AS rk FROM scored)
          |SELECT orig, typo, w AS best_match, round(dice, 6) AS dice,
          |  (w = orig) AS recovered
          |FROM best WHERE rk = 1 ORDER BY orig""".stripMargin,


      // additive hazard over the q251 life table: decimal cumulative
      // sums of one-division step terms; NULL variance factor at n==d
      "q439_nelson_aalen" ->
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
          |st AS (SELECT t, n_at_risk, d,
          |    CAST(d AS DOUBLE) / n_at_risk AS h,
          |    CASE WHEN n_at_risk > d THEN
          |      CAST(d AS DOUBLE) / (n_at_risk * (n_at_risk - d)) END
          |      AS gv
          |  FROM ar WHERE d > 0)
          |SELECT t, n_at_risk, d AS n_events,
          |  round(CAST(SUM(CAST(h AS DECIMAL(38,18)))
          |    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
          |      CURRENT ROW) AS DOUBLE), 6) AS cum_hazard,
          |  round(CAST(SUM(CAST(gv AS DECIMAL(38,18)))
          |    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
          |      CURRENT ROW) AS DOUBLE), 6) AS greenwood_var
          |FROM st ORDER BY t""".stripMargin,


      // midranks as exact 2·rank ints over the value histogram; H and
      // its tie correction assembled from exact BIGINT/decimal moments
      "q440_kruskal_wallis" ->
        """WITH base AS (SELECT l_returnflag AS g,
          |    CAST(l_quantity AS BIGINT) AS v FROM lineitem),
          |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM base
          |  GROUP BY v),
          |rk AS (SELECT v, t, 2 * CAST(coalesce(SUM(t) OVER (ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |    AS BIGINT) + t + 1 AS r2 FROM pv),
          |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv
          |  FROM base GROUP BY 1, 2),
          |gs AS (SELECT g, CAST(SUM(n_gv * r2) AS BIGINT) AS s2,
          |    CAST(SUM(n_gv) AS BIGINT) AS n_g
          |  FROM gv JOIN rk USING (v) GROUP BY g),
          |tot AS (SELECT CAST(SUM(t) AS BIGINT) AS nn,
          |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie FROM pv),
          |terms AS (SELECT nn, tie,
          |    CAST(CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE) / 4.0 / n_g
          |      AS term
          |  FROM gs, tot),
          |ag AS (SELECT nn, tie, count(*) AS k,
          |    CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) AS s
          |  FROM terms GROUP BY nn, tie),
          |hh AS (SELECT nn, tie, k,
          |    12.0 / (CAST(nn AS DOUBLE) * (nn + 1)) * s -
          |      3.0 * (CAST(nn AS DOUBLE) + 1) AS h,
          |    1.0 - CAST(tie AS DOUBLE) /
          |      (CAST(nn AS DOUBLE) * nn * nn - nn) AS c
          |  FROM ag)
          |SELECT nn AS n, k, k - 1 AS df, round(h, 6) AS h,
          |  CASE WHEN c > 0 THEN round(h / c, 6) END AS h_adj
          |FROM hh""".stripMargin,


      // gaps-and-islands replay of the native session_window: break at
      // gap >= 30 min, island id = cumulative break count
      "q441_session_window" ->
        """WITH e AS (SELECT user_id,
          |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
          |l AS (SELECT user_id, us,
          |    lag(us) OVER (PARTITION BY user_id ORDER BY us) AS pus
          |  FROM e),
          |f AS (SELECT user_id, us, CASE WHEN pus IS NULL OR
          |      us - pus >= 1800000000 THEN 1 ELSE 0 END AS brk
          |  FROM l),
          |s AS (SELECT user_id, us, SUM(brk) OVER (PARTITION BY user_id
          |    ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f),
          |g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_ev,
          |    min(us) AS t0, max(us) AS t1
          |  FROM s GROUP BY 1, 2)
          |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
          |  CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_singleton,
          |  max(n_ev) AS max_events,
          |  round(CAST(SUM(n_ev) AS DOUBLE) / count(*), 6) AS avg_events,
          |  round(CAST(SUM(t1 - t0) AS DOUBLE) / count(*) / 1000000.0, 6)
          |    AS avg_duration_s
          |FROM g""".stripMargin,


      // histogram-read lower medians, exact integer deviations, F from
      // the sum-of-squares identities
      "q442_brown_forsythe" ->
        """WITH base AS (SELECT l_returnflag AS g,
          |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
          |  FROM lineitem),
          |hist AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
          |  FROM base GROUP BY 1, 2),
          |cums AS (SELECT g, v, c,
          |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
          |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n_g
          |  FROM hist),
          |med AS (SELECT g, min(v) AS m, max(n_g) AS n_g FROM cums
          |  WHERE cum >= (n_g + 1) // 2 GROUP BY g),
          |zt AS (SELECT h.g, max(med.n_g) AS n_g,
          |    CAST(SUM(h.c * abs(h.v - med.m)) AS BIGINT) AS sz,
          |    SUM(CAST(h.c AS DECIMAL(38,0)) * abs(h.v - med.m) *
          |      abs(h.v - med.m)) AS szz
          |  FROM hist h JOIN med ON h.g = med.g GROUP BY h.g),
          |parts AS (SELECT g, n_g, sz,
          |    CAST(CAST(sz AS DECIMAL(38,0)) * sz AS DOUBLE) / n_g
          |      AS between_t,
          |    CAST(szz AS DOUBLE) -
          |      CAST(CAST(sz AS DECIMAL(38,0)) * sz AS DOUBLE) / n_g
          |      AS within_t
          |  FROM zt),
          |ag AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, count(*) AS k,
          |    CAST(SUM(CAST(between_t AS DECIMAL(38,18))) AS DOUBLE)
          |      AS b,
          |    CAST(SUM(CAST(within_t AS DECIMAL(38,18))) AS DOUBLE)
          |      AS w,
          |    CAST(SUM(sz) AS BIGINT) AS s_all
          |  FROM parts),
          |bs AS (SELECT n, k, b - CAST(CAST(s_all AS DECIMAL(38,0)) *
          |      s_all AS DOUBLE) / n AS bss, w
          |  FROM ag)
          |SELECT ag.n, ag.k, ag.k - 1 AS df1, ag.n - ag.k AS df2,
          |  CASE WHEN bs.w > 0 AND ag.k > 1 THEN
          |    round((bs.bss / (CAST(ag.k AS DOUBLE) - 1)) /
          |      (bs.w / (CAST(ag.n AS DOUBLE) - ag.k)), 6) END AS f
          |FROM ag, bs""".stripMargin,


      // directed KL-to-midpoint sums over each source's own vocabulary
      // (left join for the other count), symmetrized as (x+y)/2
      "q443_jensen_shannon" ->
        """WITH toks AS (SELECT source AS src,
          |    unnest(list_filter(regexp_split_to_array(lower(text),
          |      '\s+'), x -> x <> '')) AS tok
          |  FROM documents),
          |tc AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
          |  FROM toks GROUP BY 1, 2),
          |tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS nt FROM tc
          |  GROUP BY src),
          |a AS (SELECT tc.src AS sa, tok, c AS ca, nt AS na
          |  FROM tc JOIN tot ON tc.src = tot.src),
          |o1 AS (SELECT a.sa, bt.src AS sb, a.tok, a.ca, a.na,
          |    bc.c AS cb, bt.nt AS nb
          |  FROM a JOIN tot bt ON bt.src <> a.sa
          |  LEFT JOIN tc bc ON bc.src = bt.src AND bc.tok = a.tok),
          |terms AS (SELECT sa, sb,
          |    CAST(ca AS DOUBLE) / na AS pa,
          |    CAST(coalesce(cb, 0) AS DOUBLE) / nb AS qb
          |  FROM o1),
          |t AS (SELECT sa, sb,
          |    SUM(CAST(pa * ln(2.0 * pa / (pa + qb)) AS DECIMAL(38,18)))
          |      AS t,
          |    CAST(count(*) AS BIGINT) AS n_terms
          |  FROM terms GROUP BY 1, 2)
          |SELECT x.sa, x.sb, x.n_terms + y.n_terms AS n_terms,
          |  round((CAST(x.t AS DOUBLE) + CAST(y.t AS DOUBLE)) / 2.0, 6)
          |    AS jsd
          |FROM t x JOIN t y ON y.sa = x.sb AND y.sb = x.sa
          |WHERE x.sa < x.sb ORDER BY x.sa, x.sb""".stripMargin,


      // islands: day − row_number constant on consecutive-day runs
      "q444_longest_streaks" ->
        """WITH d AS (SELECT DISTINCT user_id,
          |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          |      AS day
          |  FROM events),
          |i AS (SELECT user_id, day,
          |    day - row_number() OVER (PARTITION BY user_id
          |      ORDER BY day) AS grp
          |  FROM d),
          |runs AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
          |  FROM i GROUP BY 1, 2)
          |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
          |  max(len) AS longest_streak
          |FROM runs GROUP BY user_id
          |ORDER BY longest_streak DESC, user_id LIMIT 20""".stripMargin,


      // deterministic quintiles: ntile(5) over (metric, user) both
      // engines split ceil-first identically
      "q445_rfm_segments" ->
        """WITH per AS (SELECT user_id,
          |    max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
          |      AS last_day,
          |    CAST(count(*) AS BIGINT) AS freq,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM events GROUP BY user_id),
          |gm AS (SELECT max(last_day) AS gd FROM per),
          |sc AS (SELECT user_id, freq, cents, gd - last_day AS recency
          |  FROM per, gm),
          |nt AS (SELECT cents,
          |    ntile(5) OVER (ORDER BY recency, user_id) AS r,
          |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
          |    ntile(5) OVER (ORDER BY cents DESC, user_id) AS m
          |  FROM sc)
          |SELECT CAST(r AS STRING) || CAST(f AS STRING) ||
          |    CAST(m AS STRING) AS rfm_code,
          |  CAST(count(*) AS BIGINT) AS n_entities,
          |  round(CAST(SUM(cents) AS DOUBLE) / count(*) / 100.0, 6)
          |    AS avg_value
          |FROM nt GROUP BY 1 ORDER BY rfm_code""".stripMargin,


      // top-(k+1) order statistics; decimal-accumulated log ratios
      "q446_hill_tail" ->
        """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
          |    AS v, o_orderkey AS tie FROM orders),
          |top AS (SELECT v, row_number() OVER (ORDER BY v DESC, tie)
          |    AS rk FROM v),
          |th AS (SELECT v AS xk FROM top WHERE rk = 501),
          |g AS (SELECT xk, CAST(count(*) AS BIGINT) AS k,
          |    CAST(SUM(CAST(ln(CAST(t.v AS DOUBLE)) -
          |      ln(CAST(xk AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE)
          |      AS s
          |  FROM top t, th WHERE t.rk <= 500 GROUP BY xk)
          |SELECT k, xk AS x_k, round(s / k, 6) AS gamma,
          |  CASE WHEN s > 0 THEN round(1.0 / (s / k), 6) END AS alpha
          |FROM g""".stripMargin,


      // q251's life table, observed-only, median ranks → ln/ln OLS
      "q447_weibull_fit" ->
        """WITH per AS (SELECT user_id,
          |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
          |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
          |  FROM events GROUP BY user_id),
          |gm AS (SELECT max(t1) AS gm FROM per),
          |life AS (SELECT (t1 - t0) // 3600000000 AS t,
          |    t1 < gm - 43200000000 AS observed FROM per, gm),
          |f AS (SELECT t FROM life WHERE observed AND t > 0),
          |r AS (SELECT t, row_number() OVER (ORDER BY t) AS i,
          |    count(*) OVER () AS n FROM f),
          |xy AS (SELECT n, ln(CAST(t AS DOUBLE)) AS x,
          |    ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3) / (n + 0.4))) AS y
          |  FROM r),
          |m AS (SELECT n,
          |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
          |    CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
          |    CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
          |  FROM xy GROUP BY n),
          |sl AS (SELECT n, sx, sy, sxx, syy, sxy,
          |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS shape
          |  FROM m)
          |SELECT CAST(n AS BIGINT) AS n_fail, round(shape, 6) AS shape,
          |  round(exp(-((sy - shape * sx) / n) / shape), 6) AS scale,
          |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
          |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
          |FROM sl""".stripMargin,


      // q101's kNN edges symmetrized; q111's decimal-moment Pearson
      // over endpoint degrees
      "q448_assortativity" ->
        s"""WITH $codebookCte,
          |$assignedCte,
          |$cellPairsCte,
          |g0 AS (SELECT id, nbr_id FROM (
          |    SELECT id, nbr_id, row_number() OVER (PARTITION BY id
          |      ORDER BY distance, nbr_id) AS rk FROM p) WHERE rk <= 3),
          |und AS (SELECT id AS ea, nbr_id AS eb FROM g0
          |  UNION SELECT nbr_id, id FROM g0),
          |deg AS (SELECT ea, CAST(count(*) AS BIGINT) AS d FROM und
          |  GROUP BY ea),
          |j AS (SELECT und.ea, dx.d AS dx, dy.d AS dy FROM und
          |  JOIN deg dx ON und.ea = dx.ea
          |  JOIN deg dy ON und.eb = dy.ea),
          |st AS (SELECT CAST(count(DISTINCT ea) AS BIGINT) AS n_nodes,
          |    CAST(count(*) AS BIGINT) AS n_edges,
          |    CAST(SUM(CAST(dx AS DECIMAL(24,6))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(dy AS DECIMAL(24,6))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(dx * dx AS DECIMAL(24,6))) AS DOUBLE)
          |      AS sxx,
          |    CAST(SUM(CAST(dy * dy AS DECIMAL(24,6))) AS DOUBLE)
          |      AS syy,
          |    CAST(SUM(CAST(dx * dy AS DECIMAL(24,6))) AS DOUBLE)
          |      AS sxy
          |  FROM j)
          |SELECT n_nodes, n_edges,
          |  round((n_edges * sxy - sx * sy) /
          |    (sqrt(n_edges * sxx - sx * sx) *
          |     sqrt(n_edges * syy - sy * sy)), 12) AS assortativity
          |FROM st""".stripMargin,


      // per-user lead transitions → exact chain counts → decimal term
      // sums; H_max = ln(states)
      "q449_entropy_rate" ->
        """WITH e AS (SELECT user_id, event_id,
          |    CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
          |l AS (SELECT event_type AS s, lead(event_type, 1)
          |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
          |  FROM e),
          |tr AS (SELECT s, t, CAST(count(*) AS BIGINT) AS n_st FROM l
          |  WHERE t IS NOT NULL GROUP BY 1, 2),
          |ps AS (SELECT s, CAST(SUM(n_st) AS BIGINT) AS n_s FROM tr
          |  GROUP BY s),
          |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS nn,
          |    CAST(count(*) AS BIGINT) AS n_states FROM ps),
          |tm AS (SELECT nn, n_states,
          |    -(CAST(n_st AS DOUBLE) / nn) *
          |      ln(CAST(n_st AS DOUBLE) / n_s) AS term
          |  FROM tr JOIN ps USING (s), tot),
          |h AS (SELECT nn, n_states,
          |    CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) AS h
          |  FROM tm GROUP BY 1, 2)
          |SELECT nn AS n_transitions, n_states, round(h, 6) AS h_rate,
          |  round(ln(CAST(n_states AS DOUBLE)), 6) AS h_max,
          |  round(1.0 - h / ln(CAST(n_states AS DOUBLE)), 6)
          |    AS predictability
          |FROM h""".stripMargin,


      // one scan, nine decimal moments, three Pearsons, partial formula
      "q450_partial_correlation" ->
        """WITH m AS (SELECT COUNT(*) AS n,
          |    CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE)
          |      AS sx,
          |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6)))
          |      AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(l_discount AS DECIMAL(24,6))) AS DOUBLE)
          |      AS sz,
          |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(24,6)))
          |      AS DOUBLE) AS sxx,
          |    CAST(SUM(CAST(l_extendedprice * l_extendedprice
          |      AS DECIMAL(24,6))) AS DOUBLE) AS syy,
          |    CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(24,6)))
          |      AS DOUBLE) AS szz,
          |    CAST(SUM(CAST(l_quantity * l_extendedprice
          |      AS DECIMAL(24,6))) AS DOUBLE) AS sxy,
          |    CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(24,6)))
          |      AS DOUBLE) AS sxz,
          |    CAST(SUM(CAST(l_extendedprice * l_discount
          |      AS DECIMAL(24,6))) AS DOUBLE) AS syz
          |  FROM lineitem),
          |r AS (SELECT n,
          |    (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) *
          |      sqrt(n * syy - sy * sy)) AS rxy,
          |    (n * sxz - sx * sz) / (sqrt(n * sxx - sx * sx) *
          |      sqrt(n * szz - sz * sz)) AS rxz,
          |    (n * syz - sy * sz) / (sqrt(n * syy - sy * sy) *
          |      sqrt(n * szz - sz * sz)) AS ryz
          |  FROM m)
          |SELECT n, round(rxy, 12) AS r_xy, round(rxz, 12) AS r_xz,
          |  round(ryz, 12) AS r_yz,
          |  round((rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) *
          |    (1.0 - ryz * ryz)), 12) AS r_xy_given_z
          |FROM r""".stripMargin,


      // scaled-integer residuals n·x − S; exact quadratic forms; runs
      // moments as fixed double trees
      "q451_residual_diagnostics" ->
        """WITH d AS (SELECT event_type AS g,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          |      AS BIGINT) AS t,
          |    CAST(count(*) AS BIGINT) AS x
          |  FROM events GROUP BY 1, 2),
          |w AS (SELECT g, t, x,
          |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n,
          |    CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS s
          |  FROM d),
          |e AS (SELECT g, t, n, n * x - s AS e FROM w),
          |l AS (SELECT g, n AS nd, e,
          |    lag(e) OVER (PARTITION BY g ORDER BY t) AS pe,
          |    CASE WHEN e > 0 THEN 1 WHEN e < 0 THEN -1 END AS sgn,
          |    last_value(CASE WHEN e > 0 THEN 1 WHEN e < 0 THEN -1 END
          |        IGNORE NULLS)
          |      OVER (PARTITION BY g ORDER BY t
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS psgn
          |  FROM e),
          |ag AS (SELECT g, max(nd) AS n_days,
          |    SUM(CASE WHEN pe IS NOT NULL THEN
          |      CAST(e - pe AS DECIMAL(38,0)) * (e - pe) END) AS sd2,
          |    SUM(CAST(e AS DECIMAL(38,0)) * e) AS se2,
          |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS a,
          |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS b,
          |    CAST(SUM(CASE WHEN sgn IS NOT NULL AND psgn IS NOT NULL
          |      AND sgn <> psgn THEN 1 ELSE 0 END) + 1 AS BIGINT)
          |      AS runs
          |  FROM l GROUP BY g),
          |z AS (SELECT *, 2.0 * a * b / (a + b) + 1 AS mu,
          |    (2.0 * a * b * (2.0 * a * b - a - b)) /
          |      (CAST(a + b AS DOUBLE) * (a + b) * (a + b - 1)) AS s2
          |  FROM ag)
          |SELECT g AS event_type, n_days, a AS n_pos, b AS n_neg, runs,
          |  CASE WHEN se2 > 0 THEN
          |    round(CAST(sd2 AS DOUBLE) / CAST(se2 AS DOUBLE), 6) END
          |    AS dw,
          |  CASE WHEN s2 > 0 THEN
          |    round((CAST(runs AS DOUBLE) - mu) / sqrt(s2), 6) END
          |    AS runs_z
          |FROM z ORDER BY event_type""".stripMargin,


      // exact decimal S_g/ΣS_g²/n_g moments, the sum-of-squares
      // identities, one double division per term
      "q452_anova_f" ->
        """WITH base AS (SELECT l_returnflag AS g,
          |    CAST(l_quantity AS BIGINT) AS v FROM lineitem),
          |gs AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
          |    CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_g,
          |    CAST(SUM(CAST(v AS DECIMAL(38,0)) * v) AS DECIMAL(38,0))
          |      AS ss_g
          |  FROM base GROUP BY g),
          |ag AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
          |    CAST(count(*) AS BIGINT) AS k,
          |    CAST(SUM(s_g) AS DECIMAL(38,0)) AS s,
          |    CAST(SUM(ss_g) AS DOUBLE) AS ssq,
          |    CAST(SUM(CAST(CAST(CAST(s_g AS DECIMAL(38,0)) * s_g
          |        AS DOUBLE) / n_g AS DECIMAL(38,18))) AS DOUBLE) AS t_sum
          |  FROM gs),
          |fin AS (SELECT n, k,
          |    t_sum - CAST(CAST(s AS DECIMAL(38,0)) * s AS DOUBLE) / n
          |      AS ssb,
          |    ssq - t_sum AS ssw,
          |    ssq - CAST(CAST(s AS DECIMAL(38,0)) * s AS DOUBLE) / n
          |      AS sst
          |  FROM ag)
          |SELECT n, k, k - 1 AS df1, n - k AS df2,
          |  round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
          |  CASE WHEN ssw > 0 AND k > 1 THEN
          |    round((ssb / (k - 1)) / (ssw / (n - k)), 6) END AS f,
          |  CASE WHEN sst > 0 THEN round(ssb / sst, 6) END AS eta_sq
          |FROM fin""".stripMargin,


      // doubled-rank midranks over |d|, tie-corrected z from exact
      // BIGINT terms (×4-cleared variance)
      "q453_wilcoxon_pairs" ->
        """WITH li AS (SELECT l_partkey, year(l_shipdate) AS yr,
          |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
          |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
          |  GROUP BY 1, 2),
          |pr AS (SELECT b.q - a.q AS d
          |  FROM li a JOIN li b ON a.l_partkey = b.l_partkey
          |    AND a.yr = 1996 AND b.yr = 1997),
          |base AS (SELECT d, abs(d) AS ad FROM pr WHERE d <> 0),
          |pv AS (SELECT ad, CAST(count(*) AS BIGINT) AS t,
          |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS t_pos
          |  FROM base GROUP BY ad),
          |rk AS (SELECT ad, t, t_pos,
          |    2 * CAST(coalesce(SUM(t) OVER (ORDER BY ad
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) + t + 1 AS r2
          |  FROM pv),
          |ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
          |    CAST(SUM(t_pos * r2) AS BIGINT) AS s2,
          |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie FROM rk)
          |SELECT n AS n_pairs, CAST(s2 AS DOUBLE) / 2.0 AS w_plus,
          |  CASE WHEN 2 * n * (n + 1) * (2 * n + 1) - tie > 0 THEN
          |    round(CAST(s2 - n * (n + 1) // 2 AS DOUBLE) /
          |      sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tie AS DOUBLE)
          |        / 12.0), 6) END AS z
          |FROM ag""".stripMargin,


      // within-block midranks via rank()−1 (tie-deterministic), the
      // ×4-cleared tie-general chi-square, all-BIGINT until the final
      // divisions
      "q454_friedman" ->
        """WITH cells AS (SELECT
          |    year(l_shipdate) * 12 + month(l_shipdate) AS b,
          |    l_returnflag AS j,
          |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
          |      AS BIGINT) AS v
          |  FROM lineitem GROUP BY 1, 2),
          |kt AS (SELECT CAST(count(DISTINCT j) AS BIGINT) AS k
          |  FROM cells),
          |cb AS (SELECT b FROM cells GROUP BY b
          |  HAVING count(*) = (SELECT k FROM kt)),
          |rk AS (SELECT c.j,
          |    2 * (CAST(rank() OVER (PARTITION BY c.b ORDER BY c.v)
          |      AS BIGINT) - 1) +
          |      CAST(count(*) OVER (PARTITION BY c.b, c.v) AS BIGINT) + 1
          |      AS r2
          |  FROM cells c JOIN cb USING (b)),
          |pj AS (SELECT j, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(r2) AS BIGINT) AS rj2,
          |    CAST(SUM(r2 * r2) AS BIGINT) AS rsq2
          |  FROM rk GROUP BY j),
          |ag AS (SELECT max(n) AS n, (SELECT k FROM kt) AS k,
          |    CAST(SUM((rj2 - n * ((SELECT k FROM kt) + 1)) *
          |      (rj2 - n * ((SELECT k FROM kt) + 1))) AS BIGINT) AS num,
          |    CAST(SUM(rsq2) AS BIGINT) AS ssr2
          |  FROM pj),
          |fin AS (SELECT n, k, num,
          |    ssr2 - n * k * (k + 1) * (k + 1) AS den FROM ag)
          |SELECT n AS n_blocks, k, k - 1 AS df,
          |  CASE WHEN den > 0 THEN
          |    round(CAST((k - 1) * num AS DOUBLE) /
          |      CAST(den AS DOUBLE), 6) END AS chi2_f,
          |  CASE WHEN den > 0 THEN
          |    round(CAST((k - 1) * num AS DOUBLE) / CAST(den AS DOUBLE) /
          |      CAST(n * (k - 1) AS DOUBLE), 6) END AS kendall_w
          |FROM fin""".stripMargin,


      // per-arm exact decimal moments; Wald ratio and pooled-variance
      // first-stage F as fixed double trees
      "q455_iv_wald" ->
        """WITH ue AS (SELECT user_id,
          |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
          |      END) AS BIGINT) AS x,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |      AS y,
          |    user_id % 2 AS z
          |  FROM events GROUP BY user_id),
          |side AS (SELECT z, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx
          |  FROM ue GROUP BY z),
          |pr AS (SELECT a.n AS n_a, b.n AS n_b,
          |    a.sx / a.n - b.sx / b.n AS fs,
          |    a.sy / a.n - b.sy / b.n AS rf,
          |    ((a.sxx - a.sx * a.sx / a.n) + (b.sxx - b.sx * b.sx / b.n))
          |      / (a.n + b.n - 2) AS sp2
          |  FROM side a, side b WHERE a.z = 1 AND b.z = 0)
          |SELECT n_a AS n_encouraged, n_b AS n_control,
          |  round(fs, 6) AS first_stage, round(rf, 6) AS reduced_form,
          |  CASE WHEN fs <> 0 THEN round(rf / fs, 6) END AS beta_iv,
          |  CASE WHEN sp2 > 0 AND n_a + n_b > 2 THEN
          |    round((fs * fs) / (sp2 * (CAST(1 AS DOUBLE) / n_a +
          |      CAST(1 AS DOUBLE) / n_b)), 6) END AS first_stage_f
          |FROM pr""".stripMargin,


      // complete user×type grid; the k²-cleared all-BIGINT Q
      "q456_cochran_q" ->
        """WITH obs AS (SELECT user_id, event_type, 1 AS x FROM events
          |  GROUP BY 1, 2),
          |u AS (SELECT DISTINCT user_id FROM events),
          |t AS (SELECT DISTINCT event_type FROM events),
          |grid AS (SELECT u.user_id AS b, t.event_type AS j,
          |    CAST(coalesce(o.x, 0) AS BIGINT) AS x
          |  FROM u CROSS JOIN t LEFT JOIN obs o
          |    ON o.user_id = u.user_id AND o.event_type = t.event_type),
          |kt AS (SELECT CAST(count(DISTINCT j) AS BIGINT) AS k FROM grid),
          |rb AS (SELECT b, CAST(SUM(x) AS BIGINT) AS r FROM grid
          |  GROUP BY b),
          |tot AS (SELECT (SELECT k FROM kt) AS k,
          |    CAST(SUM(r) AS BIGINT) AS nn,
          |    CAST(SUM(r * r) AS BIGINT) AS rr,
          |    CAST(count(*) AS BIGINT) AS n_blocks,
          |    CAST(SUM(CASE WHEN r > 0 AND r < (SELECT k FROM kt)
          |      THEN 1 ELSE 0 END) AS BIGINT) AS n_informative
          |  FROM rb),
          |cj AS (SELECT j, CAST(SUM(x) AS BIGINT) AS c FROM grid
          |  GROUP BY j),
          |ag AS (SELECT k, nn, rr, n_blocks, n_informative,
          |    CAST(SUM((k * c - nn) * (k * c - nn)) AS BIGINT) AS num
          |  FROM cj, tot GROUP BY 1, 2, 3, 4, 5)
          |SELECT n_blocks, n_informative, k, k - 1 AS df,
          |  CASE WHEN k * (k * nn - rr) > 0 THEN
          |    round(CAST((k - 1) * num AS DOUBLE) /
          |      CAST(k * (k * nn - rr) AS DOUBLE), 6) END AS q
          |FROM ag""".stripMargin,


      // per-arm moments once; pairs on arm_a < arm_b; J is the rational
      // Hedges correction (no gamma), every tree fixed
      "q457_effect_sizes" ->
        """WITH gs AS (SELECT l_returnflag AS arm,
          |    CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0)))
          |      AS DOUBLE) AS sv,
          |    CAST(SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))
          |      * CAST(l_quantity AS BIGINT)) AS DOUBLE) AS svv
          |  FROM lineitem GROUP BY 1),
          |pr AS (SELECT a.arm AS arm_a, b.arm AS arm_b,
          |    a.n AS n_a, b.n AS n_b,
          |    a.sv / a.n AS m_a, b.sv / b.n AS m_b,
          |    (a.svv - a.sv * a.sv / a.n) / (a.n - 1) AS v_a,
          |    (b.svv - b.sv * b.sv / b.n) / (b.n - 1) AS v_b
          |  FROM gs a JOIN gs b ON a.arm < b.arm),
          |fin AS (SELECT arm_a, arm_b, n_a, n_b, m_a, m_b,
          |    ((n_a - 1) * v_a + (n_b - 1) * v_b) / (n_a + n_b - 2)
          |      AS sp2,
          |    CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE) /
          |      (CAST(4 AS DOUBLE) * (n_a + n_b - 2) - CAST(1 AS DOUBLE))
          |      AS j
          |  FROM pr)
          |SELECT arm_a, arm_b, n_a, n_b,
          |  round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b,
          |  CASE WHEN sp2 > 0 THEN
          |    round((m_a - m_b) / sqrt(sp2), 6) END AS cohen_d,
          |  CASE WHEN sp2 > 0 THEN
          |    round(j * ((m_a - m_b) / sqrt(sp2)), 6) END AS hedges_g
          |FROM fin ORDER BY arm_a, arm_b""".stripMargin,


      "q458_harmonic_centrality" -> harmonicCentralityOracleSql,


      // i < j day pairs; ratio comparisons by decimal cross-product,
      // every count an exact BIGINT
      "q459_kendall_tau" ->
        """WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
          |      CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
          |    CAST(count(*) AS BIGINT) AS x,
          |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
          |      AS BIGINT) AS sn
          |  FROM orders GROUP BY 1),
          |p AS (SELECT a.x - b.x AS dx,
          |    CAST(a.sn AS DECIMAL(38,0)) * b.x -
          |      CAST(b.sn AS DECIMAL(38,0)) * a.x AS cy
          |  FROM d a JOIN d b ON a.t < b.t),
          |ct AS (SELECT
          |    CAST(SUM(CASE WHEN (dx > 0 AND cy > 0) OR
          |      (dx < 0 AND cy < 0) THEN 1 ELSE 0 END) AS BIGINT) AS c,
          |    CAST(SUM(CASE WHEN (dx > 0 AND cy < 0) OR
          |      (dx < 0 AND cy > 0) THEN 1 ELSE 0 END) AS BIGINT) AS dd,
          |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n1,
          |    CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n2
          |  FROM p),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
          |SELECT n, n * (n - 1) // 2 AS n0, c AS concordant,
          |  dd AS discordant, n1 AS ties_x, n2 AS ties_y,
          |  CASE WHEN (n * (n - 1) // 2 - n1) * (n * (n - 1) // 2 - n2)
          |      > 0 THEN
          |    round(CAST(c - dd AS DOUBLE) /
          |      sqrt(CAST((n * (n - 1) // 2 - n1) *
          |        (n * (n - 1) // 2 - n2) AS DOUBLE)), 6) END AS tau_b
          |FROM nn, ct""".stripMargin,


      // integer centering e = n·x − S; ρ_k from decimal sums with one
      // double division; Durbin-Levinson as a fixed double tree
      "q460_pacf" ->
        """WITH dd AS (SELECT event_type AS g,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          |      AS BIGINT) AS t,
          |    CAST(count(*) AS BIGINT) AS v
          |  FROM events GROUP BY 1, 2),
          |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(v) AS BIGINT) AS s FROM dd GROUP BY g),
          |e AS (SELECT dd.g, dd.t, tot.n, tot.n * dd.v - tot.s AS e
          |  FROM dd JOIN tot USING (g)),
          |c0 AS (SELECT g, max(n) AS n,
          |    CAST(SUM(CAST(e AS DECIMAL(38,0)) * e) AS DECIMAL(38,0))
          |      AS c0
          |  FROM e GROUP BY g),
          |c1 AS (SELECT a.g, CAST(SUM(CAST(a.e AS DECIMAL(38,0)) * b.e)
          |    AS DECIMAL(38,0)) AS c1
          |  FROM e a JOIN e b ON a.g = b.g AND b.t = a.t + 1 GROUP BY 1),
          |c2 AS (SELECT a.g, CAST(SUM(CAST(a.e AS DECIMAL(38,0)) * b.e)
          |    AS DECIMAL(38,0)) AS c2
          |  FROM e a JOIN e b ON a.g = b.g AND b.t = a.t + 2 GROUP BY 1),
          |c3 AS (SELECT a.g, CAST(SUM(CAST(a.e AS DECIMAL(38,0)) * b.e)
          |    AS DECIMAL(38,0)) AS c3
          |  FROM e a JOIN e b ON a.g = b.g AND b.t = a.t + 3 GROUP BY 1),
          |r AS (SELECT c0.g, c0.n,
          |    CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
          |    CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
          |    CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3
          |  FROM c0 JOIN c1 USING (g) JOIN c2 USING (g) JOIN c3 USING (g)
          |  WHERE c0 > 0),
          |f AS (SELECT *, CASE WHEN 1e0 - r1 * r1 <> 0 THEN
          |    (r2 - r1 * r1) / (1e0 - r1 * r1) END AS p22 FROM r),
          |f2 AS (SELECT *, r1 * (1e0 - p22) AS p21 FROM f),
          |f3 AS (SELECT *, 1e0 - p21 * r1 - p22 * r2 AS p33den FROM f2)
          |SELECT g AS event_type, n AS n_periods,
          |  round(r1, 6) AS rho1, round(r2, 6) AS rho2,
          |  round(r3, 6) AS rho3, round(r1, 6) AS pacf1,
          |  round(p22, 6) AS pacf2,
          |  round(CASE WHEN p33den <> 0 THEN
          |    (r3 - p21 * r2 - p22 * r1) / p33den END, 6) AS pacf3
          |FROM f3 ORDER BY event_type""".stripMargin,


      "q461_holt_winters" -> holtWintersOracleSql,


      // i < j sign pairs; tie-corrected variance; all BIGINT until the
      // final /18 and the continuity-corrected z
      "q462_mann_kendall" ->
        """WITH d AS (SELECT event_type AS g,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
          |      AS BIGINT) AS t,
          |    CAST(count(*) AS BIGINT) AS v
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT a.g, CAST(SUM(CASE WHEN b.v > a.v THEN 1
          |      WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
          |  FROM d a JOIN d b ON a.g = b.g AND a.t < b.t GROUP BY a.g),
          |tv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS tc FROM d
          |  GROUP BY 1, 2),
          |ti AS (SELECT g, CAST(SUM(tc) AS BIGINT) AS n,
          |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie
          |  FROM tv GROUP BY g),
          |f AS (SELECT s.g, ti.n, s.s_stat,
          |    ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tie AS var18
          |  FROM s JOIN ti USING (g))
          |SELECT g AS event_type, n AS n_periods, s_stat,
          |  round(CAST(var18 AS DOUBLE) / 18.0, 6) AS var_s,
          |  round(CASE WHEN var18 > 0 THEN
          |    CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) /
          |        sqrt(CAST(var18 AS DOUBLE) / 18.0)
          |      WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) /
          |        sqrt(CAST(var18 AS DOUBLE) / 18.0)
          |      ELSE 0.0 END END, 6) AS z
          |FROM f ORDER BY event_type""".stripMargin,


      // q443's JS pipeline over centroid-cell counts; the assignment
      // replays as the q418 rn=1 argmin
      "q463_semantic_divergence" ->
        s"""WITH $codebookCte,
          |asn AS (SELECT label, centroid_id FROM (
          |    SELECT e.label, c.cid AS centroid_id,
          |      row_number() OVER (PARTITION BY e.vec_id
          |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
          |          c.cv), c.cid) AS rn
          |    FROM embeddings e, c) WHERE rn = 1),
          |tc AS (SELECT label AS src, centroid_id AS tok,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM asn GROUP BY 1, 2),
          |tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS nt FROM tc
          |  GROUP BY src),
          |a AS (SELECT tc.src AS sa, tok, c AS ca, nt AS na
          |  FROM tc JOIN tot ON tc.src = tot.src),
          |o1 AS (SELECT a.sa, bt.src AS sb, a.tok, a.ca, a.na,
          |    bc.c AS cb, bt.nt AS nb
          |  FROM a JOIN tot bt ON bt.src <> a.sa
          |  LEFT JOIN tc bc ON bc.src = bt.src AND bc.tok = a.tok),
          |terms AS (SELECT sa, sb,
          |    CAST(ca AS DOUBLE) / na AS pa,
          |    CAST(coalesce(cb, 0) AS DOUBLE) / nb AS qb
          |  FROM o1),
          |t AS (SELECT sa, sb,
          |    SUM(CAST(pa * ln(2.0 * pa / (pa + qb)) AS DECIMAL(38,18)))
          |      AS t,
          |    CAST(count(*) AS BIGINT) AS n_terms
          |  FROM terms GROUP BY 1, 2)
          |SELECT x.sa, x.sb, x.n_terms + y.n_terms AS n_terms,
          |  round((CAST(x.t AS DOUBLE) + CAST(y.t AS DOUBLE)) / 2.0, 6)
          |    AS jsd
          |FROM t x JOIN t y ON y.sa = x.sb AND y.sb = x.sa
          |WHERE x.sa < x.sb ORDER BY x.sa, x.sb""".stripMargin,


      // exact lower medians off cumulative histograms at every level;
      // nothing row-sorted
      "q464_shard_median_bias" ->
        """WITH h AS (SELECT o_orderkey % 8 AS sh,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
          |    CAST(count(*) AS BIGINT) AS c
          |  FROM orders GROUP BY 1, 2),
          |sm AS (SELECT sh, min(v) AS med FROM (
          |    SELECT sh, v,
          |      SUM(c) OVER (PARTITION BY sh ORDER BY v
          |        ROWS UNBOUNDED PRECEDING) AS cum,
          |      SUM(c) OVER (PARTITION BY sh) AS n_sh
          |    FROM h) WHERE cum >= (n_sh + 1) // 2 GROUP BY sh),
          |mm AS (SELECT min(med) AS med_of_meds,
          |    CAST(max(k) AS BIGINT) AS n_shards FROM (
          |    SELECT med,
          |      SUM(1) OVER (ORDER BY med ROWS UNBOUNDED PRECEDING) AS rk,
          |      count(*) OVER () AS k FROM sm)
          |  WHERE rk >= (k + 1) // 2),
          |g AS (SELECT v, CAST(SUM(c) AS BIGINT) AS c FROM h GROUP BY v),
          |tm AS (SELECT min(v) AS true_median,
          |    CAST(max(n) AS BIGINT) AS n_rows FROM (
          |    SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
          |      AS cum, SUM(c) OVER () AS n FROM g)
          |  WHERE cum >= (n + 1) // 2)
          |SELECT n_rows, n_shards, med_of_meds, true_median,
          |  abs(med_of_meds - true_median) AS abs_err,
          |  CASE WHEN true_median <> 0 THEN
          |    round(CAST(abs(med_of_meds - true_median) AS DOUBLE) /
          |      true_median, 6) END AS rel_err
          |FROM mm, tm""".stripMargin,


      // deterministic top-1000 reference vocab (cf desc, tok asc);
      // occurrence- and type-level OOV per source
      "q465_oov_rate" ->
        """WITH toks AS (SELECT source AS src,
          |    unnest(list_filter(regexp_split_to_array(lower(text),
          |      '\s+'), x -> x <> '')) AS tok
          |  FROM documents),
          |tc AS (SELECT src, tok, CAST(count(*) AS BIGINT) AS c
          |  FROM toks GROUP BY 1, 2),
          |vocab AS (SELECT tok FROM (SELECT tok,
          |      CAST(SUM(c) AS BIGINT) AS cf FROM tc GROUP BY tok)
          |  ORDER BY cf DESC, tok ASC LIMIT 1000),
          |j AS (SELECT tc.src, tc.c,
          |    v.tok IS NOT NULL AS in_vocab
          |  FROM tc LEFT JOIN vocab v USING (tok))
          |SELECT src AS source, CAST(SUM(c) AS BIGINT) AS n_tokens,
          |  CAST(SUM(CASE WHEN NOT in_vocab THEN c ELSE 0 END)
          |    AS BIGINT) AS n_oov,
          |  round(CAST(SUM(CASE WHEN NOT in_vocab THEN c ELSE 0 END)
          |    AS DOUBLE) / SUM(c), 6) AS oov_rate,
          |  CAST(count(*) AS BIGINT) AS n_types,
          |  CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_oov_types,
          |  round(CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*), 6) AS type_oov_rate
          |FROM j GROUP BY src ORDER BY src""".stripMargin,


      "q466_goertzel_tone" -> goertzelOracleSql,


      "q467_image_gradients" -> imageGradientsOracleSql,


      "q468_minhash_calibration" -> minhashCalibrationOracleSql,


      "q469_string_encoding_audit" ->
        Seq("p_brand", "p_name", "p_type").map(stringEncodingColSql)
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),


      "q470_query_performance" -> qppOracleSql(
        Seq("q_agg" -> Seq("agg", "group", "sort"),
          "q_broad" -> Seq("data", "table"),
          "q_scan" -> Seq("scan", "filter"),
          "q_spark" -> Seq("spark", "join", "vector", "window")),
        k = 10),


      // Aalen-Johansen replay: any-event KM prefix product via the
      // q251 sorted list fold (sentinel factor keeps empty prefixes
      // out of null-land), decimal-cumsum CIFs
      "q471_competing_risks" ->
        """WITH per AS (SELECT user_id,
          |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
          |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
          |  FROM events GROUP BY user_id),
          |fa AS (SELECT user_id,
          |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS ta
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
          |fb AS (SELECT user_id,
          |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS tb
          |  FROM events WHERE event_type = 'error' GROUP BY user_id),
          |life AS (SELECT
          |    CASE WHEN ta IS NOT NULL AND (tb IS NULL OR ta <= tb)
          |      THEN (ta - t0) // 3600000000
          |    WHEN tb IS NOT NULL THEN (tb - t0) // 3600000000
          |    ELSE (t1 - t0) // 3600000000 END AS t,
          |    CASE WHEN ta IS NOT NULL AND (tb IS NULL OR ta <= tb)
          |      THEN 1 WHEN tb IS NOT NULL THEN 2 ELSE 0 END AS cause
          |  FROM per LEFT JOIN fa USING (user_id)
          |  LEFT JOIN fb USING (user_id)),
          |pt AS (SELECT CAST(t AS BIGINT) AS t, count(*) AS n_all,
          |    CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS d1,
          |    CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS d2
          |  FROM life GROUP BY 1),
          |tt AS (SELECT CAST(SUM(n_all) AS BIGINT) AS N FROM pt),
          |ar AS (SELECT t, d1, d2, N - CAST(coalesce(SUM(n_all)
          |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
          |        AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
          |  FROM pt, tt),
          |st AS (SELECT t, n_at_risk, d1, d2,
          |    CAST(n_at_risk - d1 - d2 AS DOUBLE) / n_at_risk AS f
          |  FROM ar WHERE d1 + d2 > 0),
          |fx AS (SELECT t AS u, f FROM st
          |  UNION ALL SELECT -1, CAST(1.0 AS DOUBLE)),
          |sp AS (SELECT a.t, a.n_at_risk, a.d1, a.d2,
          |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
          |      list(CAST(b.f AS DOUBLE) ORDER BY b.u)),
          |      (x, y) -> x * y) AS s_prev
          |  FROM st a JOIN fx b ON b.u < a.t
          |  GROUP BY 1, 2, 3, 4),
          |tm AS (SELECT *, s_prev * d1 / n_at_risk AS term1,
          |    s_prev * d2 / n_at_risk AS term2 FROM sp)
          |SELECT t, n_at_risk, d1, d2, s_prev,
          |  round(CAST(SUM(CAST(term1 AS DECIMAL(38,18)))
          |    OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE), 9)
          |    AS cif1,
          |  round(CAST(SUM(CAST(term2 AS DECIMAL(38,18)))
          |    OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS DOUBLE), 9)
          |    AS cif2
          |FROM tm ORDER BY t""".stripMargin,


      // exact ×10-cleared pinball losses per grid slope; argmin with
      // smaller-β tie-break
      "q472_quantile_regression" -> {
        val gridSql = (0L to 20L).map(_ * 2500000L).mkString("[", ", ", "]")
        def lossCol(t: Int) =
          s"""CAST(SUM(CASE WHEN r > 0 THEN $t * r
             |      ELSE ($t - 10) * r END) AS BIGINT) AS l$t"""
            .stripMargin
        def pick(t: Int) =
          s"""SELECT CAST(0.$t AS DOUBLE) AS tau, b AS beta,
             |  l$t AS loss10, n
             |FROM (SELECT *, row_number() OVER (ORDER BY l$t, b) AS rk
             |  FROM l) WHERE rk = 1""".stripMargin
        s"""WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
           |    CAST(count(*) AS BIGINT) AS x,
           |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
           |      AS BIGINT) AS y
           |  FROM orders GROUP BY 1),
           |g AS (SELECT x, y, CAST(b AS BIGINT) AS b
           |  FROM d, unnest($gridSql) AS cb(b)),
           |r AS (SELECT b, y - b * x AS r FROM g),
           |l AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
           |    ${Seq(1, 5, 9).map(lossCol).mkString(",\n    ")}
           |  FROM r GROUP BY b)
           |${Seq(1, 5, 9).map(pick).mkString("\nUNION ALL\n")}
           |ORDER BY tau""".stripMargin
      },


      // replace-and-measure occurrence counts; substring semantics
      "q473_blocklist_scan" ->
        """WITH x AS (SELECT source AS src, text AS t, p
          |  FROM documents, unnest(['big', 'error', 'slow']) AS pp(p)),
          |h AS (SELECT src, p,
          |    (length(t) - length(replace(t, p, ''))) // length(p)
          |      AS hits
          |  FROM x)
          |SELECT src, p, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_docs_hit,
          |  CAST(SUM(hits) AS BIGINT) AS total_hits,
          |  round(CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*), 6) AS doc_share
          |FROM h GROUP BY 1, 2 ORDER BY src, p""".stripMargin,


      // pooled-distinct-value CDF-gap integral; exact hugeint numerator
      // |ca·nb − cb·na|·gap, one double divide by na·nb at the end
      "q474_wasserstein_drift" ->
        """WITH b AS (SELECT o_orderpriority AS g,
          |    year(o_orderdate) = 1997 AS cur,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
          |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)),
          |c AS (SELECT g, x,
          |    CAST(SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS BIGINT) AS da,
          |    CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS db
          |  FROM b GROUP BY 1, 2),
          |w AS (SELECT g, x,
          |    SUM(da) OVER (PARTITION BY g ORDER BY x
          |      ROWS UNBOUNDED PRECEDING) AS ca,
          |    SUM(db) OVER (PARTITION BY g ORDER BY x
          |      ROWS UNBOUNDED PRECEDING) AS cb,
          |    SUM(da) OVER (PARTITION BY g) AS na,
          |    SUM(db) OVER (PARTITION BY g) AS nb,
          |    lead(x) OVER (PARTITION BY g ORDER BY x) - x AS gap
          |  FROM c)
          |SELECT g AS o_orderpriority, CAST(max(na) AS BIGINT) AS n_a,
          |  CAST(max(nb) AS BIGINT) AS n_b,
          |  round(CAST(SUM(abs(CAST(ca AS HUGEINT) * nb
          |      - CAST(cb AS HUGEINT) * na) * gap) AS DOUBLE)
          |    / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)), 6)
          |    AS w1
          |FROM w WHERE gap IS NOT NULL
          |GROUP BY g ORDER BY g""".stripMargin,


      // per-feature bin counts broadcast back; rank by exact count
      // product (≡ -Σ log density order), ties by key
      "q475_hbos_outliers" ->
        """WITH b AS (SELECT o_orderkey,
          |    CAST(round(o_totalprice * 100) AS BIGINT) // 2000000
          |      AS price_bin,
          |    CAST(isodow(o_orderdate) AS INT) AS dow,
          |    o_orderpriority AS prio
          |  FROM orders),
          |h0 AS (SELECT price_bin, count(*) AS c0 FROM b GROUP BY 1),
          |h1 AS (SELECT dow, count(*) AS c1 FROM b GROUP BY 1),
          |h2 AS (SELECT prio, count(*) AS c2 FROM b GROUP BY 1)
          |SELECT o_orderkey, CAST(c0 AS BIGINT) AS c0,
          |  CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
          |  CAST(CAST(c0 AS HUGEINT) * c1 * c2 AS DOUBLE) AS score
          |FROM b JOIN h0 USING (price_bin) JOIN h1 USING (dow)
          |  JOIN h2 USING (prio)
          |ORDER BY CAST(c0 AS HUGEINT) * c1 * c2, o_orderkey
          |LIMIT 20""".stripMargin,


      // 16-coalition exact Shapley: v(S) = converted users whose touched
      // set ⊆ S; k!·φ integer via weights |S|!·(3−|S|)!
      "q476_shapley_attribution" ->
        """WITH per AS (SELECT user_id,
          |    CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
          |      + 2 * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
          |      + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0
          |          END)
          |      + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0
          |          END) AS BIGINT) AS mask,
          |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          |      AS conv
          |  FROM events GROUP BY user_id),
          |sigs AS (SELECT mask, CAST(SUM(conv) AS BIGINT) AS n_conv
          |  FROM per GROUP BY 1),
          |coal AS (SELECT CAST(range AS BIGINT) AS smask FROM range(16)),
          |v AS (SELECT smask,
          |    CAST(coalesce(SUM(n_conv), 0) AS BIGINT) AS v
          |  FROM coal LEFT JOIN sigs ON (smask & mask) = mask
          |  GROUP BY 1),
          |ch AS (SELECT * FROM (VALUES ('click', 1), ('view', 2),
          |    ('signup', 4), ('error', 8)) AS t(channel, bitval)),
          |m AS (SELECT channel,
          |    CAST(SUM((CASE bit_count(s.smask) WHEN 0 THEN 6 WHEN 1
          |      THEN 2 WHEN 2 THEN 2 ELSE 6 END) * (u.v - s.v))
          |      AS BIGINT) AS phi_fact
          |  FROM ch, v s, v u
          |  WHERE u.smask = s.smask + ch.bitval
          |    AND (s.smask & ch.bitval) = 0
          |  GROUP BY channel),
          |va AS (SELECT v AS v_all FROM v WHERE smask = 15)
          |SELECT channel, phi_fact,
          |  round(CAST(phi_fact AS DOUBLE) / 24, 6) AS phi,
          |  round(CASE WHEN v_all > 0 THEN CAST(phi_fact AS DOUBLE)
          |    / (24.0 * v_all) END, 6) AS share
          |FROM m, va ORDER BY channel""".stripMargin,


      // batches of 32 in arrival vs length-sorted order; padded = Σ
      // per-batch max·members — all integers but the waste share
      "q477_padding_waste" ->
        """WITH d AS (SELECT doc_id AS id,
          |    CAST(len(list_filter(regexp_split_to_array(lower(text),
          |      '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS len
          |  FROM documents),
          |a AS (SELECT len, row_number() OVER (ORDER BY id) AS rn FROM d),
          |s AS (SELECT len, row_number() OVER (ORDER BY len, id) AS rn
          |  FROM d),
          |pa AS (SELECT (rn - 1) // 32 AS batch, count(*) AS bn,
          |    SUM(len) AS breal, max(len) AS bmax FROM a GROUP BY 1),
          |ps AS (SELECT (rn - 1) // 32 AS batch, count(*) AS bn,
          |    SUM(len) AS breal, max(len) AS bmax FROM s GROUP BY 1)
          |SELECT 'arrival' AS strategy, count(*) AS n_batches,
          |  CAST(SUM(breal) AS BIGINT) AS real_tokens,
          |  CAST(SUM(bmax * bn) AS BIGINT) AS padded_tokens,
          |  round(CAST(SUM(bmax * bn) - SUM(breal) AS DOUBLE)
          |    / CAST(SUM(bmax * bn) AS BIGINT), 6) AS waste_frac
          |FROM pa
          |UNION ALL
          |SELECT 'length_sorted', count(*),
          |  CAST(SUM(breal) AS BIGINT),
          |  CAST(SUM(bmax * bn) AS BIGINT),
          |  round(CAST(SUM(bmax * bn) - SUM(breal) AS DOUBLE)
          |    / CAST(SUM(bmax * bn) AS BIGINT), 6)
          |FROM ps ORDER BY strategy""".stripMargin
  )
}
