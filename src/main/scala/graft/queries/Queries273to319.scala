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

/** Query builders + DuckDB oracles q273-q319, split verbatim from
  * SparkEntry (see its scaladoc for the oracle-parity contract; NOTES.md
  * for the hash/decimal replay rules). */
private[graft] object Queries273to319 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    "q273_forward_fill" -> ((s, dir) => {
      // calendar-spine forward fill: a full day spine (sequence between
      // min and max day) left-joined to sparse daily purchase revenue,
      // gaps carried forward by last(ignoreNulls) — the LOCF gap-fill
      // every daily-reporting pipeline needs
      val daily = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val span = events(s, dir).agg(
        to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      val spine = span.select(
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("day"), "left")
        .withColumn("filled_cents",
          coalesce(last("cents", ignoreNulls = true).over(w), lit(0L)))
        .withColumn("is_observed", col("cents").isNotNull)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cents"), col("filled_cents"), col("is_observed"))
        .orderBy("day")
    }),


    "q274_longest_streak" -> ((s, dir) => {
      // longest consecutive-day activity streak per user (gaps-and-
      // islands on the day grid): day − dense-rank is constant within a
      // run; top-20 streaks, ties → earliest start, then user
      val days = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days
        .withColumn("_rn", row_number().over(w))
        .withColumn("_isl", expr("date_sub(day, _rn)"))
        .groupBy("user_id", "_isl")
        .agg(count(lit(1)).as("streak_days"),
          min("day").as("streak_start"))
        .select(col("user_id"), col("streak_days"),
          date_format(col("streak_start"), "yyyy-MM-dd")
            .as("streak_start"))
        .orderBy(col("streak_days").desc, col("streak_start"),
          col("user_id"))
        .limit(20)
    }),


    "q275_assortativity" -> ((s, dir) => {
      // degree assortativity of the q101 kNN graph: exact-decimal
      // Pearson of (deg(src), deg(dst)) over undirected edge endpoints —
      // do hubs link to hubs? (negative on healthy kNN graphs: hubs
      // absorb low-degree spokes; complements q194's hubness histogram)
      val und = storedKnnGraph(s, dir)
        .filter(col("id") =!= col("nbr_id"))
        .select(least(col("id"), col("nbr_id")).as("a"),
          greatest(col("id"), col("nbr_id")).as("b"))
        .distinct()
      val nbrs = und.select(col("a").as("v"), col("b").as("n"))
        .union(und.select(col("b").as("v"), col("a").as("n")))
      val deg = nbrs.groupBy("v").agg(count(lit(1)).as("deg"))
      val ends = nbrs
        .join(deg.select(col("v"), col("deg").as("dx")), "v")
        .join(deg.select(col("v").as("n"), col("deg").as("dy")), "n")
        .select(lit("knn").as("g"), col("dx"), col("dy"))
      Stats.groupCorrelation(ends, "g", "dx", "dy")
        .select(col("n"), col("corr").as("assortativity"))
    }),


    "q276_term_burstiness" -> ((s, dir) => {
      // Church–Gale term burstiness: cf/df — the mean occurrences per
      // CONTAINING doc; function words sit near 1, topical/template
      // terms burst; top-20 bursty terms at df ≥ 5, SERVED from the
      // standing IndexStore's term table (the r9 sweep: the corpus
      // tokenize is paid once at store build, not per query)
      storedIndexTerms(s, dir)
        .filter(col("df") >= 5)
        .select(col("term"), col("df"), col("cf"),
          (col("cf").cast("double") / col("df")).as("burstiness"))
        .orderBy(col("burstiness").desc, col("term"))
        .limit(20)
    }),


    "q277_edge_embeddedness" -> ((s, dir) => {
      // edge embeddedness histogram of the q101 kNN graph: per edge the
      // common-neighbor count (0 = bridge, high = deeply embedded) — the
      // tie-strength signal that decides which near-dup edges to TRUST
      // when clustering; one shared-neighbor join scoped to edges
      val und = storedKnnGraph(s, dir)
        .filter(col("id") =!= col("nbr_id"))
        .select(least(col("id"), col("nbr_id")).as("a"),
          greatest(col("id"), col("nbr_id")).as("b"))
        .distinct()
      val nbrs = und.select(col("a").as("v"), col("b").as("n"))
        .union(und.select(col("b").as("v"), col("a").as("n")))
      val cn = und
        .join(nbrs.select(col("v").as("a"), col("n").as("w1")), Seq("a"))
        .join(nbrs.select(col("v").as("b"), col("n").as("w2")), Seq("b"))
        .filter(col("w1") === col("w2") &&
          col("w1") =!= col("a") && col("w1") =!= col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cn"))
      und.join(cn, Seq("a", "b"), "left")
        .select(coalesce(col("cn"), lit(0L)).as("embeddedness"))
        .groupBy("embeddedness").agg(count(lit(1)).as("n_edges"))
        .orderBy("embeddedness")
    }),


    "q278_result_diversity" -> ((s, dir) => {
      // redundancy audit of a result list: mean pairwise cosine distance
      // of the q17 top-8 — the number MMR (q19) exists to raise; k·(k−1)/2
      // literal-free pairs over a broadcast-sized list, decimal-summed
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val top = Similarity.topK(e, "embedding", qv, 8, "COSINE", "vec_id")
        .select(col("vec_id"), col("embedding"))
      val pairs = top.select(col("vec_id").as("ida"),
          col("embedding").as("va"))
        .crossJoin(top.select(col("vec_id").as("idb"),
          col("embedding").as("vb")))
        .filter(col("ida") < col("idb"))
        .select(round(call_function("graft_cosine_distance", col("va"),
          col("vb")), 6).as("d"))
      pairs.agg(count(lit(1)).as("n_pairs"),
        round(sum(col("d").cast("decimal(38,18)")).cast("double") /
          count(lit(1)), 6).as("mean_pairwise_distance"))
    }),


    "q279_fill_rate" -> ((s, dir) =>
      // monthly fill rate: share of lines shipped within 30 days of the
      // order date — the fulfilment SLA ratio, exact integer counts
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_format(to_date(col("o_orderdate")), "yyyy-MM")
          .as("month"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(datediff(to_date(col("l_shipdate")),
            to_date(col("o_orderdate"))) <= 30, 1L).otherwise(0L))
            .as("n_within_30d"))
        .withColumn("fill_rate",
          col("n_within_30d").cast("double") / col("n_lines"))
        .orderBy("month"))
    ,


    "q280_error_wilson" -> ((s, dir) => {
      // hourly error-rate monitor with Wilson 95% bounds — the interval
      // that behaves at small n where ±1.96√(p̂q̂/n) fails; z is a fixed
      // literal, the whole bound is one deterministic double tree over
      // exact counts
      val z = 1.96
      val hourly = events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("errs"))
      val p = col("errs").cast("double") / col("n")
      val denom = lit(1.0) + lit(z * z) / col("n")
      val center = p + lit(z * z) / (lit(2.0) * col("n"))
      val margin = lit(z) * sqrt(
        (p * (lit(1.0) - p) + lit(z * z) / (lit(4.0) * col("n"))) /
          col("n"))
      // clamp at 0: the Wilson lower bound is mathematically >= 0, and
      // the clamp kills the -0.0-vs-+0.0 round() canonicalization split
      // between DuckDB and Spark when center-margin ~ -1e-17
      hourly
        .withColumn("err_rate", round(p, 6))
        .withColumn("wilson_lo",
          round(greatest(lit(0.0), (center - margin) / denom), 6))
        .withColumn("wilson_hi", round((center + margin) / denom, 6))
        .orderBy("hour")
    }),


    "q281_uplift_deciles" -> ((s, dir) => {
      // qini-lite uplift readout: users deciled by pre-period activity
      // (exact ceil-rank), per decile the treated-vs-control outcome
      // means and their difference — does the "treatment" arm help the
      // heavy or the light users? (q226/q246's segmentation leg)
      val ev = events(s, dir)
      val cut = lit("2024-01-20").cast("timestamp")
      val pre = ev.filter(col("event_type") === "view" && col("ts") < cut)
        .groupBy("user_id").agg(count(lit(1)).as("x"))
      val out = ev.filter(col("event_type") === "purchase" &&
          col("ts") >= cut)
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      val base = ev.select("user_id").distinct()
        .join(pre, Seq("user_id"), "left")
        .join(out, Seq("user_id"), "left")
        .select(col("user_id"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
        .withColumn("treated", Sketches.keyHash(col("user_id")) % 2 === 0)
      val n = base.agg(count(lit(1)).as("n"))
      base.crossJoin(broadcast(n))
        .withColumn("_r", row_number().over(
          Window.orderBy(col("x"), col("user_id"))).cast("long"))
        .withColumn("decile", expr("(10 * _r + n - 1) div n"))
        .groupBy("decile")
        .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("n_treated"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_control"),
          // a tiny-SF decile can be single-armed: NULL mean, not ÷0
          when(sum(when(col("treated"), 1L).otherwise(0L)) > 0,
            sum(when(col("treated"), col("y")).otherwise(0L)).cast("double")
              / sum(when(col("treated"), 1L).otherwise(0L)))
            .as("mean_treated"),
          when(sum(when(!col("treated"), 1L).otherwise(0L)) > 0,
            sum(when(!col("treated"), col("y")).otherwise(0L)).cast("double")
              / sum(when(!col("treated"), 1L).otherwise(0L)))
            .as("mean_control"))
        .withColumn("uplift", col("mean_treated") - col("mean_control"))
        .orderBy("decile")
    }),


    "q282_power_table" -> ((s, dir) => {
      // sample-size table for the purchase-cents metric: n per arm =
      // 2(z_α/2+z_β)²σ²/δ² at 95%/80% (fixed z literals) for a grid of
      // minimum detectable effects — σ² from exact per-user sums; the
      // "how long must the test run" planning readout
      val perUser = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      val stats = perUser.agg(count(lit(1)).as("n"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("syy"))
      val varY = (col("syy").cast("double") -
        col("sy").cast("double") * col("sy").cast("double") / col("n")) /
        col("n")
      val zsum2 = (1.959964 + 0.841621) * (1.959964 + 0.841621)
      Seq(500L, 1000L, 2000L, 5000L).map { mde =>
        stats.select(lit(mde).as("mde_cents"), col("n").as("n_users"),
          round(varY, 6).as("var_cents"),
          round(lit(2.0 * zsum2) * varY / lit((mde * mde).toDouble), 2)
            .as("n_per_arm"))
      }.reduce(_ unionByName _).orderBy("mde_cents")
    }),


    "q283_srm_check" -> ((s, dir) => {
      // sample-ratio-mismatch guardrail for the q226 hash split: χ²
      // against the expected 50/50 with the exact-int numerator
      // (2·n_a − n)² / n — a big χ² means the bucketing is broken and
      // every downstream readout is suspect
      val arms = events(s, dir).select("user_id").distinct()
        .withColumn("treated", Sketches.keyHash(col("user_id")) % 2 === 0)
      arms.agg(
          sum(when(col("treated"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("treated"), 1L).otherwise(0L)).as("n_b"))
        .withColumn("n", col("n_a") + col("n_b"))
        .withColumn("chi2", round(
          ((lit(2L) * col("n_a") - col("n")) *
            (lit(2L) * col("n_a") - col("n"))).cast("double") / col("n"),
          6))
        .withColumn("srm_suspect", col("chi2") > 3.841459)
        .select("n_a", "n_b", "n", "chi2", "srm_suspect")
    }),


    "q284_dau_mau" -> ((s, dir) => {
      // stickiness: mean daily active users over monthly active users
      // per calendar month — exact integer sums into one division
      val ev = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .withColumn("month", date_format(col("day"), "yyyy-MM"))
      val dau = ev.select("user_id", "day", "month").distinct()
        .groupBy("month", "day").agg(count(lit(1)).as("dau"))
        .groupBy("month").agg(sum("dau").as("dau_sum"),
          count(lit(1)).as("n_days"))
      val mau = ev.select("user_id", "month").distinct()
        .groupBy("month").agg(count(lit(1)).as("mau"))
      dau.join(mau, "month")
        .withColumn("stickiness",
          col("dau_sum").cast("double") / (col("n_days") * col("mau")))
        .orderBy("month")
    }),


    "q285_hhi_trend" -> ((s, dir) =>
      // supplier-concentration drift: monthly HHI of revenue shares —
      // Σ cents² / (Σ cents)², exact-int numerators per month; a rising
      // HHI means consolidation (q171's Gini, but trended)
      tbl(s, dir, "lineitem")
        .groupBy(date_format(to_date(col("l_shipdate")), "yyyy-MM")
          .as("month"), col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_suppliers"),
          // 128-bit-safe: share sums square past Long range at scale
          (sum(col("cents").cast("decimal(38,0)") *
              col("cents").cast("decimal(38,0)")).cast("double") /
            (sum("cents").cast("decimal(38,0)") *
              sum("cents").cast("decimal(38,0)")).cast("double"))
            .as("hhi"))
        .orderBy("month")),


    "q286_growth_accounting" -> ((s, dir) => {
      // weekly user growth accounting: new / retained / resurrected
      // active counts + churned-from-last-week — the canonical growth
      // state machine from first-week and previous-active-week lags
      val wk = expr("cast(datediff(cast(ts as date), date'1970-01-01') " +
        "div 7 as int)")
      val uw = events(s, dir).select(col("user_id"), wk.as("wk")).distinct()
      val w = Window.partitionBy("user_id").orderBy("wk")
      val tagged = uw
        .withColumn("first_wk", min("wk").over(
          Window.partitionBy("user_id")))
        .withColumn("prev_wk", lag("wk", 1).over(w))
        .withColumn("state",
          when(col("wk") === col("first_wk"), "new")
            .when(col("prev_wk") === col("wk") - 1, "retained")
            .otherwise("resurrected"))
      val active = tagged.groupBy("wk").agg(
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        count(lit(1)).as("n_active"))
      // churned out of week w = active in w-1 but not in w
      val churn = uw.select(col("user_id"), (col("wk") + 1).as("wk"))
        .join(uw, Seq("user_id", "wk"), "left_anti")
        .groupBy("wk").agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("wk"), "left")
        .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
        .orderBy("wk")
    }),


    "q287_eb_shrinkage" -> ((s, dir) => {
      // empirical-Bayes shrunk hourly error rates: (errs + m·K)/(n + K)
      // with prior strength K = 20 pulls small-sample hours toward the
      // global mean m — the ranking-safe companion to q280's Wilson
      // bounds (raw rates over-rank tiny hours; shrunk rates don't)
      val hourly = events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("errs"))
      val glob = hourly.agg(sum("errs").as("_te"), sum("n").as("_tn"))
      hourly.crossJoin(broadcast(glob))
        .withColumn("raw_rate", round(col("errs").cast("double") /
          col("n"), 6))
        .withColumn("shrunk_rate", round(
          (col("errs").cast("double") +
            col("_te").cast("double") / col("_tn") * lit(20.0)) /
            (col("n").cast("double") + lit(20.0)), 6))
        .select("hour", "n", "errs", "raw_rate", "shrunk_rate")
        .orderBy("hour")
    }),


    "q288_load_factor" -> ((s, dir) =>
      // capacity planning: per day the peak-hour load vs the mean
      // hourly load (load factor = peak·24/total) — exact integers
      // into one division
      events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          hour(col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
        .groupBy("day")
        .agg(sum("n").as("n_events"), max("n").as("peak_hour_n"),
          count(lit(1)).as("n_hours"))
        .withColumn("load_factor",
          (col("peak_hour_n") * col("n_hours")).cast("double") /
            col("n_events"))
        .orderBy("day")),


    "q289_ratio_to_parent" -> ((s, dir) =>
      // ratio-to-parent: each nation's revenue share WITHIN its region
      // plus the region's share of the world — two window sums over the
      // q03-style broadcast-dim join, exact cents
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
        .withColumn("region_cents",
          sum("cents").over(Window.partitionBy("r_name")))
        .withColumn("world_cents", sum("cents").over(Window.partitionBy()))
        .select(col("r_name"), col("n_name"), col("cents"),
          (col("cents").cast("double") / col("region_cents"))
            .as("share_of_region"),
          (col("region_cents").cast("double") / col("world_cents"))
            .as("region_share_of_world"))
        .orderBy("r_name", "n_name")),


    "q290_prefix_completions" -> ((s, dir) =>
      // autocomplete table: top-3 completions per 2-char prefix by
      // collection frequency — the SECOND consumer of the native
      // graft_top_k bounded-heap aggregate (ties → term asc); term
      // stats SERVED from the standing IndexStore (the r9 sweep)
      graft.plans.TopKAggregate.topKRows(
          storedIndexTerms(s, dir)
            .filter(length(col("term")) >= 2)
            .withColumn("prefix", substring(col("term"), 1, 2)),
          Seq("prefix"),
          Seq((-col("cf")).as("ncf"), col("term").as("term")), Nil, k = 3)
        .select(col("prefix"), col("term"), (-col("ncf")).as("cf"))
        .orderBy(col("prefix"), col("cf").desc, col("term"))),


    "q291_brand_cross_sell" -> ((s, dir) => {
      // brand cross-sell lift over ORDER baskets (q269's shape on the
      // sales tables): distinct brands per order, pair lift =
      // n_ab·N/(n_a·n_b); top-20 lifted pairs
      // the distinct (order, brand) basket feeds FOUR branches (N, the
      // singles, both pair sides) — checkpoint it once (r12) so the
      // lineitem⋈part scan+distinct runs once, not per reference.
      // Scale note (the Itemsets.tf trade-off): |orders|·brands rows —
      // at cluster scale this frame persists to the store instead
      val basket = tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand")).distinct()
        .transform(Lineage.cut(_, "q291.basket"))
      val nOrders = basket.select("ok").distinct()
        .agg(count(lit(1)).as("_N"))
      val single = basket.groupBy("p_brand").agg(count(lit(1)).as("n_one"))
      basket.select(col("ok"), col("p_brand").as("a"))
        .join(basket.select(col("ok"), col("p_brand").as("b")), "ok")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_both"))
        .join(broadcast(single.select(col("p_brand").as("a"),
          col("n_one").as("n_a"))), "a")
        .join(broadcast(single.select(col("p_brand").as("b"),
          col("n_one").as("n_b"))), "b")
        .crossJoin(broadcast(nOrders))
        .withColumn("lift", (col("n_both") * col("_N")).cast("double") /
          (col("n_a") * col("n_b")))
        .select("a", "b", "n_both", "lift")
        .orderBy(col("lift").desc, col("a"), col("b")).limit(20)
    }),


    "q292_freshness_sla" -> ((s, dir) => {
      // per-day p95 arrival lag (event time vs the arrival-order
      // high-water mark, the q248 lateness signal) — exact lower-rank
      // selection per day; the freshness-SLA dashboard number
      val w = Window.orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val late = events(s, dir)
        .withColumn("_ts_us", unix_micros(col("ts")))
        .withColumn("late_us", max("_ts_us").over(w) - col("_ts_us"))
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val wd = Window.partitionBy("day").orderBy(col("late_us"),
        col("event_id"))
      late
        .withColumn("r", row_number().over(wd).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("day")))
        .filter(col("r") === greatest(lit(1L), expr("(95 * n) div 100")))
        .select(col("day"), col("late_us").as("p95_late_us"),
          col("n").as("n_events"))
        .orderBy("day")
    }),


    "q293_dup_label_agreement" -> ((s, dir) => {
      // near-dup edge quality: do q20's MinHash-LSH candidate pairs stay
      // within one source/lang? — the label-agreement rate that tells
      // you whether near-dups cross provenance boundaries (they should
      // rarely: high cross-source agreement hints template contamination)
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      val pairs = nearDupPairs(corpus)
      val meta = d.select(col("doc_id"), col("source"), col("lang"))
      val withMeta = pairs
        .withColumn("base_a", pmod(col("doc_a"), lit(1000000L)))
        .withColumn("base_b", pmod(col("doc_b"), lit(1000000L)))
        .join(meta.select(col("doc_id").as("base_a"),
          col("source").as("src_a"), col("lang").as("lang_a")), "base_a")
        .join(meta.select(col("doc_id").as("base_b"),
          col("source").as("src_b"), col("lang").as("lang_b")), "base_b")
      withMeta.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("src_a") === col("src_b"), 1L).otherwise(0L))
          .as("n_same_source"),
        sum(when(col("lang_a") === col("lang_b"), 1L).otherwise(0L))
          .as("n_same_lang"),
        (sum(when(col("src_a") === col("src_b"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("source_agreement"),
        (sum(when(col("lang_a") === col("lang_b"), 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("lang_agreement"))
    }),


    "q294_vocab_overlap" -> ((s, dir) => {
      // source vocabulary overlap: Jaccard of each source pair's top-50
      // terms (by within-source cf, ties → term) — the lexical-overlap
      // matrix behind mixing decisions; top-50 via the native
      // graft_top_k heap, overlap via one term equi-join
      val tf = tbl(s, dir, "documents")
        .select(col("source"), explode(Retrieval.analyze(col("text")))
          .as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cf"))
      val top = graft.plans.TopKAggregate.topKRows(tf, Seq("source"),
        Seq((-col("cf")).as("ncf"), col("term").as("term")), Nil, k = 50)
      // list sizes can be < k on small vocabularies — union from sizes
      val sizes = top.groupBy("source").agg(count(lit(1)).as("sz"))
      val a = top.select(col("source").as("src_a"), col("term"))
      val b = top.select(col("source").as("src_b"), col("term"))
      a.join(b, "term").filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("sz").as("_sa"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("sz").as("_sb"))), "src_b")
        .withColumn("jaccard", col("n_shared").cast("double") /
          (col("_sa") + col("_sb") - col("n_shared")))
        .select("src_a", "src_b", "n_shared", "jaccard")
        .orderBy("src_a", "src_b")
    }),


    "q295_aa_calibration" -> ((s, dir) => {
      // A/A calibration: the q226 Welch t under FOUR different hash
      // seeds of the same (null) data — |t| should hover small; a seed
      // tripping 1.96 on an A/A flags bucketing bias before any real
      // test is trusted
      val perUser = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).cast("long")
          .as("v100"))
      Seq(1000003L, 999983L, 1000033L, 1000037L).map { base =>
        Stats.welchTTest(
            perUser.withColumn("arm",
              Sketches.keyHash(col("user_id"), base) % 2 === 0),
            "arm", "v100")
          .select(lit(base).as("seed_base"), col("t_stat"),
            (abs(col("t_stat")) > 1.96).as("suspicious"))
      }.reduce(_ unionByName _).orderBy("seed_base")
    }),


    "q296_bounce_rate" -> ((s, dir) =>
      // single-event-session share per day — the q27 sessions rolled to
      // the bounce metric; exact counts, one division
      streaming.EventStreams.sessionizeBatch(events(s, dir), 1800000L)
        .groupBy(date_format(col("session_start"), "yyyy-MM-dd")
          .as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .as("n_bounces"))
        .withColumn("bounce_rate",
          col("n_bounces").cast("double") / col("n_sessions"))
        .orderBy("day")),


    "q297_return_rate" -> ((s, dir) =>
      // return-rate by brand: share of lineitems flagged 'R', with the
      // returned revenue share — exact counts/cents, broadcast dim
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("cents"),
          sum(when(col("l_returnflag") === "R",
            round(col("l_extendedprice") * 100).cast("long"))
            .otherwise(0L)).as("returned_cents"))
        .withColumn("return_rate",
          col("n_returned").cast("double") / col("n_lines"))
        .withColumn("returned_value_share",
          col("returned_cents").cast("double") / col("cents"))
        .orderBy("p_brand")),


    "q298_conversion_lag" -> ((s, dir) => {
      // view→purchase conversion-lag histogram in whole days: each
      // user's first view and first purchase at-or-after it (the q69
      // funnel's timing tail), bucketed by exact integer day gaps
      val ev = events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t_view"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t_p"))
      v.join(p, "user_id").filter(col("t_p") >= col("t_view"))
        .groupBy("user_id").agg(min("t_view").as("tv"),
          min("t_p").as("tp"))
        .select(expr("(tp - tv) div 86400000000").as("days_to_convert"))
        .groupBy("days_to_convert").agg(count(lit(1)).as("n_users"))
        .orderBy("days_to_convert")
    }),


    "q299_vocab_exclusivity" -> ((s, dir) => {
      // per-source lexical exclusivity: how much of a source's
      // vocabulary appears NOWHERE else — the "does this source add
      // anything" mixing signal; one distinct + one df-across-sources
      // aggregate
      val st = tbl(s, dir, "documents")
        .select(col("source"), explode(Retrieval.analyze(col("text")))
          .as("term"))
        .distinct()
      val spread = st.groupBy("term")
        .agg(count(lit(1)).as("n_sources"))
      st.join(spread, "term")
        .groupBy("source")
        .agg(count(lit(1)).as("n_terms"),
          sum(when(col("n_sources") === 1, 1L).otherwise(0L))
            .as("n_exclusive"))
        .withColumn("exclusivity",
          col("n_exclusive").cast("double") / col("n_terms"))
        .orderBy("source")
    }),


    "q300_health_scorecard" -> ((s, dir) => {
      // one-glance data-health scorecard: the key audit numbers as
      // (metric, value) rows — the summary a pipeline run publishes
      val ev = events(s, dir)
      val docs = tbl(s, dir, "documents")
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      def one(name: String, v: Column, df: DataFrame) =
        df.agg(v.cast("double").as("value"))
          .select(lit(name).as("metric"), col("value"))
      Seq(
        one("docs_total", count(lit(1)), docs),
        one("events_total", count(lit(1)), ev),
        one("users_distinct", countDistinct(col("user_id")), ev),
        one("error_event_share",
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .cast("double") / count(lit(1)), ev),
        one("orphan_lineitems", count(lit(1)),
          li.join(o, col("l_orderkey") === col("o_orderkey"),
            "left_anti")),
        one("purchase_cents_total",
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L)), ev)
      ).reduce(_ unionByName _).orderBy("metric")
    }),


    "q301_lorenz_curve" -> ((s, dir) => {
      // Lorenz points: cumulative revenue share at each supplier decile
      // (suppliers ascending by revenue) — the curve behind q171's Gini;
      // exact integer cumsums, shares as single divisions
      val rev = tbl(s, dir, "lineitem").groupBy("l_suppkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      val n = rev.agg(count(lit(1)).as("n"), sum("cents").as("tot"))
      val ranked = rev.crossJoin(broadcast(n))
        .withColumn("r", row_number().over(
          Window.orderBy(col("cents"), col("l_suppkey"))).cast("long"))
        .withColumn("decile", expr("(10 * r + n - 1) div n"))
      ranked.groupBy("decile")
        .agg(count(lit(1)).as("n_suppliers"), sum("cents").as("cents"),
          max("tot").as("_tot"))
        .withColumn("cum_cents", sum("cents").over(
          Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile"), col("n_suppliers"), col("cents"),
          (col("cum_cents").cast("double") / col("_tot"))
            .as("cum_share"))
        .orderBy("decile")
    }),


    "q302_hist_intersection" -> ((s, dir) => {
      // source-pair similarity of doc-length distributions: histogram
      // intersection Σ min(p_a, p_b) over log2 length octaves — the
      // q163 buckets turned into a pairwise distribution-overlap matrix;
      // per-bucket mins of exact fractions, decimal-summed
      val d = tbl(s, dir, "documents")
        .select(col("source"),
          length(bin(greatest(length(col("text")), lit(1)))).as("octave"))
      val per = d.groupBy("source", "octave").agg(count(lit(1)).as("n"))
      val tot = d.groupBy("source").agg(count(lit(1)).as("nt"))
      val frac = per.join(broadcast(tot), "source")
        .select(col("source"), col("octave"),
          (col("n").cast("double") / col("nt")).as("p"))
      frac.select(col("source").as("src_a"), col("octave"),
          col("p").as("pa"))
        .join(frac.select(col("source").as("src_b"), col("octave"),
          col("p").as("pb")), "octave")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(round(sum(least(col("pa"), col("pb"))
          .cast("decimal(38,18)")).cast("double"), 6)
          .as("intersection"))
        .orderBy("src_a", "src_b")
    }),


    "q303_single_source_risk" -> ((s, dir) => {
      // supply-chain concentration: each part's top-supplier volume
      // share; parts ≥ 80% single-sourced are flagged — min_by argmax,
      // exact quantity sums
      val vol = tbl(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      vol.groupBy("l_partkey")
        .agg(count(lit(1)).as("n_suppliers"), sum("qty").as("total_qty"),
          max("qty").as("top_qty"),
          min_by(col("l_suppkey"),
            struct((-col("qty")).as("nq"), col("l_suppkey")))
            .as("top_suppkey"))
        .withColumn("top_share",
          col("top_qty").cast("double") / col("total_qty"))
        .withColumn("single_sourced", col("top_share") >= 0.8)
        .orderBy("l_partkey")
    }),


    "q304_fk_integrity_map" -> ((s, dir) => {
      // the full referential map in one pass: every FK edge's row count,
      // orphan count, and orphan rate — the whole-schema version of the
      // q44 orphan audit (a healthy warehouse shows all zeros)
      // ONE pass per CHILD table (r12, the mid-band fold): each FK edge
      // was an anti-join count + a separate row count = 2 aggregates and
      // a child re-scan per edge (12 aggregates, lineitem scanned 6×).
      // Left-join + count-nulls counts each child row once (and equals
      // the anti-join's orphan count) only if every parent key occurs
      // once, so the parent key projections are de-duplicated. lineitem's
      // 3 edges ride one scan and one aggregate, and every edge's n_rows
      // folds into the same pass.
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val su = tbl(s, dir, "supplier")
      val p = tbl(s, dir, "part"); val na = tbl(s, dir, "nation")
      def orph(pk: String) =
        sum(when(col(pk).isNull, 1L).otherwise(0L)).cast("long")
      def keys(parent: DataFrame, pk: String) =
        parent.select(col(pk)).distinct()
      val liRows = li.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .join(keys(o, "o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left")
        .join(keys(p, "p_partkey"),
          col("l_partkey") === col("p_partkey"), "left")
        .join(keys(su, "s_suppkey"),
          col("l_suppkey") === col("s_suppkey"), "left")
        .agg(count(lit(1)).as("n_rows"), orph("o_orderkey").as("_o"),
          orph("p_partkey").as("_p"), orph("s_suppkey").as("_s"))
        .selectExpr("""stack(3,
            'lineitem->orders', n_rows, _o,
            'lineitem->part', n_rows, _p,
            'lineitem->supplier', n_rows, _s) AS (fk_edge, n_rows, n_orphans)""")
      def edge1(name: String, child: DataFrame, ck: String,
                parent: DataFrame, pk: String) =
        child.select(col(ck))
          .join(keys(parent, pk), col(ck) === col(pk), "left")
          .agg(count(lit(1)).as("n_rows"), orph(pk).as("n_orphans"))
          .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"))
      liRows.unionByName(
          edge1("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(
          edge1("customer->nation", c, "c_nationkey", na, "n_nationkey"))
        .unionByName(
          edge1("supplier->nation", su, "s_nationkey", na, "n_nationkey"))
        .withColumn("orphan_rate",
          col("n_orphans").cast("double") / col("n_rows"))
        .orderBy("fk_edge")
    }),


    "q305_fold_stability" -> ((s, dir) => {
      // eval-fold stability: the mean quality score across 5 hash folds
      // and the between-fold variance of those means — a noisy metric
      // (high variance) means the eval split can't be trusted to rank
      // model variants; exact per-fold sums, q260's variance tree on the
      // fold means
      val folds = tbl(s, dir, "documents")
        .withColumn("fold", Sketches.keyHash(col("doc_id")) % 5)
        .withColumn("q", TF.qualityScore(col("text")))
      val per = folds.groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("q").cast("decimal(38,18)")).cast("double") /
            count(lit(1))).as("mean_q"))
      val spread = per.agg(
        count(lit(1)).as("n_folds"),
        round((sum((col("mean_q") * col("mean_q"))
            .cast("decimal(38,18)")).cast("double") -
          sum(col("mean_q").cast("decimal(38,18)")).cast("double") *
            sum(col("mean_q").cast("decimal(38,18)")).cast("double") /
            count(lit(1))) / count(lit(1)), 12).as("between_fold_var"))
      per.crossJoin(broadcast(spread))
        .select(col("fold"), col("n_docs"), round(col("mean_q"), 6)
          .as("mean_q"), col("between_fold_var"))
        .orderBy("fold")
    }),


    "q306_cell_balance" -> ((s, dir) => {
      // IVF cell-balance audit: per-cell counts plus the skew numbers
      // that set worst-case probe latency (max/mean ratio, exact-sum CV)
      // — an unbalanced codebook is the #1 reason IVF p99 blows up;
      // served from the standing AnnStore (cell column only — the scan
      // reads just partition directories' metadata-cheap column)
      val sizes = storedAssigned(s, dir)
        .groupBy("centroid_id").agg(count(lit(1)).as("n_vectors"))
      val st = sizes.agg(count(lit(1)).as("_k"), sum("n_vectors").as("_n"),
        max("n_vectors").as("_mx"),
        sum(col("n_vectors") * col("n_vectors")).as("_sxx"))
      sizes.crossJoin(broadcast(st))
        .withColumn("share", col("n_vectors").cast("double") / col("_n"))
        .withColumn("max_over_mean",
          (col("_mx") * col("_k")).cast("double") / col("_n"))
        .withColumn("cv", round(
          sqrt((col("_sxx").cast("double") -
            col("_n").cast("double") * col("_n").cast("double") /
              col("_k")) / col("_k")) /
            (col("_n").cast("double") / col("_k")), 6))
        .select("centroid_id", "n_vectors", "share", "max_over_mean", "cv")
        .orderBy("centroid_id")
    }),


    "q307_probe_cost_curve" -> ((s, dir) => {
      // IVF probe-cost curve: for nprobe ∈ {1, 2, 4}, the fraction of
      // the corpus a query (vec 0) would scan — the latency half of the
      // q103 recall gate; centroid ranking is driver-free (window over
      // 8 rows), sizes join broadcast; cell sizes from the standing
      // AnnStore
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      val sizes = storedAssigned(s, dir).groupBy("centroid_id")
        .agg(count(lit(1)).as("sz"))
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val ranked = centroids.crossJoin(broadcast(qv))
        .withColumn("d", VF.cosineDistance(col("cv"), col("qe")))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("d"), col("cid"))))
        .join(sizes, col("cid") === col("centroid_id"))
      val tot = sizes.agg(sum("sz").as("_n"))
      Seq(1, 2, 4).map { p =>
        ranked.filter(col("rk") <= p)
          .agg(sum("sz").as("n_scanned"))
          .crossJoin(broadcast(tot))
          .select(lit(p).as("nprobe"), col("n_scanned"),
            (col("n_scanned").cast("double") / col("_n"))
              .as("scan_fraction"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),


    "q308_splithalf_topterms" -> ((s, dir) => {
      // split-half reliability of the "top-20 terms" list: docs split by
      // the keyHash parity, per-half top-20 by cf (ties → term), overlap
      // count — an unstable list means the ranking is noise
      val halves = tbl(s, dir, "documents")
        .withColumn("half", Sketches.keyHash(col("doc_id")) % 2)
        .select(col("half"), explode(Retrieval.analyze(col("text")))
          .as("term"))
        .groupBy("half", "term").agg(count(lit(1)).as("cf"))
      val top = graft.plans.TopKAggregate.topKRows(halves, Seq("half"),
        Seq((-col("cf")).as("ncf"), col("term").as("term")), Nil, k = 20)
      val a = top.filter(col("half") === 0).select("term")
      val b = top.filter(col("half") === 1).select("term")
      a.join(b, "term").agg(count(lit(1)).as("n_overlap"))
        .select(col("n_overlap"),
          (col("n_overlap").cast("double") / lit(20.0)).as("overlap_at_20"))
    }),


    "q309_cell_distortion" -> ((s, dir) => {
      // IVF distortion by cell: mean cosine distance of members to their
      // centroid (per-row distances rounded 6 dp on both engines, then
      // the exact-decimal mean) — which cells need a codebook re-train;
      // pairs with q306's balance audit; members served from the
      // standing AnnStore
      val centroids = codebook(s, dir)
      storedAssigned(s, dir)
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
        .join(broadcast(centroids), col("centroid_id") === col("cid"))
        .withColumn("d",
          round(VF.cosineDistance(col("embedding"), col("cv")), 6))
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vectors"),
          round(sum(col("d").cast("decimal(38,18)")).cast("double") /
            count(lit(1)), 6).as("mean_distortion"),
          round(max("d"), 6).as("max_distortion"))
        .orderBy("centroid_id")
    }),


    "q310_decayed_popularity" -> ((s, dir) => {
      // recency-weighted popularity with EXACT half-life weights: a
      // week-old event counts half — weights are powers of two, so the
      // decayed score times 2^5 is an exact BIGINT (no float decay
      // drift between engines); per event type, newest-heavy ranking
      val ev = events(s, dir)
      val mx = ev.agg(max(expr(
        "cast(datediff(cast(ts as date), date'1970-01-01') div 7 as int)"))
        .as("_mw"))
      ev.select(col("event_type"), expr(
          "cast(datediff(cast(ts as date), date'1970-01-01') div 7 " +
          "as int)").as("wk"))
        .crossJoin(broadcast(mx))
        .withColumn("age_wk", least(col("_mw") - col("wk"), lit(5)))
        .withColumn("w32", expr("shiftleft(1L, cast(5 - age_wk as int))"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum("w32").as("decayed_x32"))
        .withColumn("decayed_score",
          col("decayed_x32").cast("double") / 32.0)
        .orderBy(col("decayed_x32").desc, col("event_type"))
    }),


    "q311_wcc_distributed" -> ((s, dir) => {
      // the 100 TB clustering path, force-gated: collectThreshold = 0
      // makes dedupClusters take the distributed hash-min label loop
      // (the driver union-find is only the small-graph shortcut), so the
      // oracle's recursive fixpoint gates the loop a cluster would
      // actually run on a billion-edge near-dup graph — same corpus,
      // same oracle as q56
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      val pairs = nearDupPairs(corpus)
      Dedup.dedupClusters(pairs, "doc_a", "doc_b", collectThreshold = 0L)
        .select(col("id").as("doc_id"), col("cluster_rep"))
        .orderBy("doc_id")
    }),


    "q312_filtered_ann" -> ((s, dir) => {
      // metadata-filtered vector search (the serving-time "filtered
      // query"): IVF probe of 2 cells with a label predicate applied
      // INSIDE the probed cells (pre-filter semantics) — stored
      // partitionBy(centroid_id), the probe prunes partitions and the
      // predicate dies in the scan stage, so non-matching vectors never
      // reach the top-k heap
      val e = tbl(s, dir, "embeddings")
      val assigned = storedAssigned(s, dir)
        .select(col("vec_id"), col("embedding"), col("label"),
          col("centroid_id"))
      val cents = codebookSeq(s, dir)
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      Similarity.ivfSearch(assigned.filter(col("label") === 2),
          "embedding", "vec_id", cents, qv, 8, 2)
        .select(col("vec_id"), col("label"), col("centroid_id"),
          round(col("distance"), 6).as("distance"))
    }),


    "q313_query_likelihood" -> ((s, dir) =>
      // Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty),
      // the LM counterpart to q98's BM25: identical filtered-explode
      // shuffle shape, cf/C stats broadcast, exact-decimal score sum
      Retrieval.queryLikelihood(tbl(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "vector", "window"), 20, mu = 1000.0)),


    "q314_rbo" -> ((s, dir) => {
      // rank-biased overlap (Webber et al. 2010) between the BM25 and
      // query-likelihood top-20 lists — the top-weighted "do two rankers
      // agree" monitor. p = 1/2, so every per-depth term is one division
      // (X_d/d) scaled by an exact power of two: bit-identical doubles
      // both engines, decimal-summed. Both lists are top-k frames, so
      // everything after retrieval is driver-scale
      val docs = tbl(s, dir, "documents")
      val terms = Seq("spark", "join", "vector", "window")
      val wr = Window.orderBy(col("score").desc, col("id").asc)
      val a = storedBm25(s, dir, terms, 20)
        .select(col("id"), row_number().over(wr).as("ra"))
      val b = Retrieval.queryLikelihood(docs, "doc_id", "text", terms, 20)
        .select(col("id"), row_number().over(wr).as("rb"))
      val j = a.join(b, Seq("id"), "full").na.fill(999, Seq("ra", "rb"))
      val depths = s.range(1, 21).select(col("id").cast("int").as("d"))
      j.crossJoin(depths)
        .groupBy("d")
        .agg(sum(when(greatest(col("ra"), col("rb")) <= col("d"), 1L)
          .otherwise(0L)).as("x_d"))
        .agg(round(sum(((col("x_d").cast("double") / col("d")) /
            expr("shiftleft(1L, d)").cast("double"))
          .cast("decimal(27,15)")).cast("double"), 6).as("rbo"),
          (max(when(col("d") === 20, col("x_d"))).cast("double") / 20.0)
            .as("overlap_at_20"))
    }),


    "q315_t_closeness" -> ((s, dir) =>
      // t-closeness release audit over the q218 quasi-identifiers: a
      // class leaks when its source distribution diverges from the
      // corpus's even if it is large (k) and diverse (l) — exact-integer
      // total-variation distance, one division per class
      Governance.tClosenessAudit(
          tbl(s, dir, "documents")
            .withColumn("len_bucket", expr("n_chars div 100")),
          Seq("lang", "len_bucket"), "source", t = 0.4)
        .orderBy("lang", "len_bucket")),


    "q316_top_ngram_repetition" -> ((s, dir) =>
      // Gopher top-n-gram repetition gate (n = 2, 3, 4): fraction of
      // token characters claimed by the most frequent n-gram — the
      // boilerplate-loop kill signal q72's bigram stats only cover at
      // n = 2. Paper-shaped thresholds; integer counts, one division
      TextQuality.topNgramFractions(tbl(s, dir, "documents"), "doc_id",
          "text", Seq(2, 3, 4), Seq(0.20, 0.18, 0.16))
        .orderBy("doc_id")),


    "q317_dup_ngram_coverage" -> ((s, dir) => {
      // Gopher duplicated-n-gram coverage: the fraction of tokens inside
      // at least one REPEATED 6-gram, counting each token once (interval
      // union via a running-max window — overlapping spans would
      // overcount). Every third doc gets its first 8 tokens re-appended
      // as a known self-repetition; clean docs must report 0
      val d = tbl(s, dir, "documents")
      val corpus = d
        .withColumn("_t0", TextQuality.tokens(col("text")))
        .withColumn("text",
          when(col("doc_id") % 3 === 0 && size(col("_t0")) >= 8,
            concat(col("text"), lit(" "), concat_ws(" ", slice(col("_t0"), 1, 8))))
          .otherwise(col("text")))
        .select("doc_id", "text")
      TextQuality.dupNgramCoverage(corpus, "doc_id", "text", n = 6)
        .orderBy("doc_id")
    }),


    "q318_absorbing_conversion" -> ((s, dir) => {
      // 4-step conversion probability by value iteration over the q187
      // within-session transition matrix: P(reach 'purchase' in ≤ 4
      // moves) from every state — the funnel-free "how close is this
      // state to converting" summary. One corpus pass builds the counts;
      // the iteration runs on the tiny state space
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapUs = 30L * 60 * 1000000
      val trans = events(s, dir)
        .select("user_id", "event_id", "ts", "event_type")
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .withColumn("_gap",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("from_type").isNotNull && col("_gap") <= gapUs)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      GraphAnalytics.absorbingReach(trans, "from_type", "to_type", "n",
          target = "purchase", rounds = 4)
        .orderBy("state")
    }),


    "q319_linear_rerank" -> ((s, dir) => {
      // second-stage reranker over the q256 feature join: a fixed linear
      // model (the shape a trained LTR model serves as) rescores the
      // BM25 top-20; output carries both ranks so rank movement is
      // auditable. All feature weights literal, one round at the end
      val d = tbl(s, dir, "documents")
      val q0 = Seq("spark", "join", "vector", "window")
      val cands = storedBm25(s, dir, q0, 20)
        .select(col("id").as("doc_id"), col("score").as("bm25"))
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val dense = e.select(col("vec_id").as("doc_id"),
        round(call_function("graft_cosine_distance", col("embedding"),
          array(qv.map(v => lit(v)): _*)), 6).as("cos_dist"))
      val prior = d.select(col("doc_id"),
        TF.qualityScore(col("text")).as("quality"),
        length(col("text")).as("text_len"))
      val feats = cands.join(prior, "doc_id")
        .join(dense, Seq("doc_id"), "left")
        .withColumn("cd", coalesce(col("cos_dist"), lit(1.0)))
      val scored = feats.withColumn("score2", round(
        lit(2.0) * col("bm25") - lit(3.0) * col("cd") +
          lit(5.0) * col("quality") - lit(0.001) * col("text_len"), 6))
      scored
        .withColumn("rank_before", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
        .withColumn("rank_after", row_number().over(
          Window.orderBy(col("score2").desc, col("doc_id"))))
        .filter(col("rank_after") <= 10)
        .select(col("doc_id"), col("score2"), col("rank_after"),
          col("rank_before"), col("bm25"))
        .orderBy("rank_after")
    })
  )

  def oracleSql: Map[String, String] = Map(


      // generate_series spine + IGNORE NULLS last_value carry-forward
      "q273_forward_fill" ->
        """WITH d AS (SELECT CAST(ts AS DATE) AS day,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |      AS cents
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
          |sp AS (SELECT min(CAST(ts AS DATE)) AS d0,
          |    max(CAST(ts AS DATE)) AS d1 FROM events),
          |spine AS (SELECT CAST(unnest(generate_series(d0, d1,
          |    INTERVAL 1 DAY)) AS DATE) AS day FROM sp),
          |j AS (SELECT spine.day, d.cents
          |  FROM spine LEFT JOIN d USING (day))
          |SELECT strftime(day, '%Y-%m-%d') AS day, cents,
          |  CAST(coalesce(last_value(cents IGNORE NULLS)
          |    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS BIGINT)
          |    AS filled_cents,
          |  cents IS NOT NULL AS is_observed
          |FROM j ORDER BY day""".stripMargin,


      // day − row_number is constant within a consecutive-day run
      "q274_longest_streak" ->
        """WITH dy AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          |  FROM events),
          |r AS (SELECT user_id, day, row_number()
          |    OVER (PARTITION BY user_id ORDER BY day) AS rn FROM dy),
          |g AS (SELECT user_id, day - CAST(rn AS INT) AS isl, day FROM r),
          |a AS (SELECT user_id, count(*) AS streak_days,
          |    strftime(min(day), '%Y-%m-%d') AS streak_start
          |  FROM g GROUP BY user_id, isl)
          |SELECT user_id, streak_days, streak_start FROM a
          |ORDER BY streak_days DESC, streak_start, user_id
          |LIMIT 20""".stripMargin,


      // undirected q101 degrees on both endpoints into the q111 Pearson
      "q275_assortativity" ->
        s"""$knnEdgesPrefixSql,
           |u0 AS (SELECT DISTINCT least(id, nbr_id) AS a,
           |    greatest(id, nbr_id) AS b
           |  FROM g0 WHERE id <> nbr_id),
           |nb2 AS (SELECT a AS v, b AS n FROM u0
           |  UNION ALL SELECT b AS v, a AS n FROM u0),
           |dg3 AS (SELECT v, count(*) AS deg FROM nb2 GROUP BY v),
           |en AS (SELECT dx.deg AS x, dy.deg AS y
           |  FROM nb2 JOIN dg3 dx ON nb2.v = dx.v
           |    JOIN dg3 dy ON nb2.n = dy.v),
           |st AS (SELECT COUNT(*) AS n,
           |    CAST(SUM(CAST(x AS DECIMAL(24,6))) AS DOUBLE) AS sx,
           |    CAST(SUM(CAST(y AS DECIMAL(24,6))) AS DOUBLE) AS sy,
           |    CAST(SUM(CAST(x * x AS DECIMAL(24,6))) AS DOUBLE) AS sxx,
           |    CAST(SUM(CAST(y * y AS DECIMAL(24,6))) AS DOUBLE) AS syy,
           |    CAST(SUM(CAST(x * y AS DECIMAL(24,6))) AS DOUBLE) AS sxy
           |  FROM en)
           |SELECT n, round((n * sxy - sx * sy) /
           |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
           |  AS assortativity
           |FROM st""".stripMargin,


      // tf per (term, doc) → df / cf; burstiness = cf/df
      "q276_term_burstiness" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM documents),
          |tf AS (SELECT term, doc_id, count(*) AS c FROM (
          |    SELECT doc_id, unnest(t) AS term FROM toks)
          |  GROUP BY term, doc_id),
          |ag AS (SELECT term, count(*) AS df,
          |    CAST(SUM(c) AS BIGINT) AS cf FROM tf GROUP BY term)
          |SELECT term, df, cf, CAST(cf AS DOUBLE) / df AS burstiness
          |FROM ag WHERE df >= 5
          |ORDER BY burstiness DESC, term LIMIT 20""".stripMargin,


      // common neighbors scoped to EDGES (bridges keep 0 via left join)
      "q277_edge_embeddedness" ->
        s"""$knnEdgesPrefixSql,
           |u0 AS (SELECT DISTINCT least(id, nbr_id) AS a,
           |    greatest(id, nbr_id) AS b
           |  FROM g0 WHERE id <> nbr_id),
           |nb2 AS (SELECT a AS v, b AS n FROM u0
           |  UNION ALL SELECT b AS v, a AS n FROM u0),
           |cn AS (SELECT u0.a, u0.b, count(*) AS cn
           |  FROM u0 JOIN nb2 x ON u0.a = x.v JOIN nb2 y ON u0.b = y.v
           |  WHERE x.n = y.n AND x.n <> u0.a AND x.n <> u0.b
           |  GROUP BY u0.a, u0.b),
           |e2 AS (SELECT CAST(coalesce(cn.cn, 0) AS BIGINT)
           |    AS embeddedness
           |  FROM u0 LEFT JOIN cn USING (a, b))
           |SELECT embeddedness, count(*) AS n_edges FROM e2
           |GROUP BY embeddedness ORDER BY embeddedness""".stripMargin,


      // the q17 top-8 paired a<b; per-pair distances rounded to 6 dp on
      // BOTH sides, then the exact-decimal mean
      "q278_result_diversity" ->
        """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id = 0),
          |top AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          |  FROM embeddings, q
          |  ORDER BY 1.0 - list_cosine_similarity(
          |    CAST(embedding AS DOUBLE[]), qv), vec_id LIMIT 8),
          |pr AS (SELECT round(1.0 - list_cosine_similarity(a.v, b.v), 6)
          |    AS d
          |  FROM top a JOIN top b ON a.vec_id < b.vec_id)
          |SELECT count(*) AS n_pairs,
          |  round(CAST(SUM(CAST(d AS DECIMAL(38,18))) AS DOUBLE)
          |    / count(*), 6) AS mean_pairwise_distance
          |FROM pr""".stripMargin,


      // fulfilment SLA: lines shipped ≤ 30 days after order, per month
      "q279_fill_rate" ->
        """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
          |  count(*) AS n_lines,
          |  CAST(SUM(CASE WHEN date_diff('day',
          |      CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
          |      <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_30d,
          |  CAST(SUM(CASE WHEN date_diff('day',
          |      CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
          |      <= 30 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
          |    AS fill_rate
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY month""".stripMargin,


      // identical Wilson tree with z = 1.96 literals on both sides
      "q280_error_wilson" ->
        """WITH h AS (SELECT strftime(CAST(ts AS TIMESTAMP),
          |      '%Y-%m-%d %H') AS hour,
          |    count(*) AS n,
          |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS errs
          |  FROM events GROUP BY 1)
          |SELECT hour, n, errs,
          |  round(CAST(errs AS DOUBLE) / n, 6) AS err_rate,
          |  round(greatest(0.0,
          |    ((CAST(errs AS DOUBLE) / n + 1.96 * 1.96 / (2.0 * n))
          |    - 1.96 * sqrt((CAST(errs AS DOUBLE) / n
          |        * (1.0 - CAST(errs AS DOUBLE) / n)
          |        + 1.96 * 1.96 / (4.0 * n)) / n))
          |    / (1.0 + 1.96 * 1.96 / n)), 6) AS wilson_lo,
          |  round(((CAST(errs AS DOUBLE) / n + 1.96 * 1.96 / (2.0 * n))
          |    + 1.96 * sqrt((CAST(errs AS DOUBLE) / n
          |        * (1.0 - CAST(errs AS DOUBLE) / n)
          |        + 1.96 * 1.96 / (4.0 * n)) / n))
          |    / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_hi
          |FROM h ORDER BY hour""".stripMargin,


      // the q246 user frame deciled by pre-activity ceil-rank; per
      // decile treated/control means and their difference
      "q281_uplift_deciles" ->
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
          |h0 AS (SELECT user_id, x, y,
          |    (user_id * 1000003) % 2147483647 AS h FROM base),
          |h1 AS (SELECT user_id, x, y,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT user_id, x, y,
          |    (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |arm AS (SELECT user_id, x, y, h % 2 = 0 AS treated FROM h2),
          |nn AS (SELECT count(*) AS n FROM arm),
          |dc AS (SELECT treated, y, (10 * row_number()
          |      OVER (ORDER BY x, user_id) + n - 1) // n AS decile
          |  FROM arm, nn),
          |ag AS (SELECT decile,
          |    CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_treated,
          |    CAST(SUM(CASE WHEN treated THEN 0 ELSE 1 END) AS BIGINT)
          |      AS n_control,
          |    CASE WHEN SUM(CASE WHEN treated THEN 1 ELSE 0 END) > 0
          |      THEN CAST(SUM(CASE WHEN treated THEN y ELSE 0 END)
          |        AS DOUBLE) / SUM(CASE WHEN treated THEN 1 ELSE 0 END)
          |      END AS mean_treated,
          |    CASE WHEN SUM(CASE WHEN treated THEN 0 ELSE 1 END) > 0
          |      THEN CAST(SUM(CASE WHEN treated THEN 0 ELSE y END)
          |        AS DOUBLE) / SUM(CASE WHEN treated THEN 0 ELSE 1 END)
          |      END AS mean_control
          |  FROM dc GROUP BY decile)
          |SELECT decile, n_treated, n_control, mean_treated,
          |  mean_control, mean_treated - mean_control AS uplift
          |FROM ag ORDER BY decile""".stripMargin,


      // n/arm = 2(z_α/2+z_β)²σ²/δ², fixed z literals, σ² from exact sums
      "q282_power_table" ->
        """WITH pu AS (SELECT user_id,
          |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
          |st AS (SELECT count(*) AS n, CAST(SUM(y) AS BIGINT) AS sy,
          |    CAST(SUM(y * y) AS BIGINT) AS syy FROM pu),
          |v AS (SELECT n, (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
          |    * CAST(sy AS DOUBLE) / n) / n AS var_y FROM st),
          |g AS (SELECT CAST(unnest([500, 1000, 2000, 5000]) AS BIGINT)
          |    AS mde_cents)
          |SELECT mde_cents, n AS n_users, round(var_y, 6) AS var_cents,
          |  round((2.0 * ((1.959964 + 0.841621) * (1.959964 + 0.841621)))
          |    * var_y / CAST(mde_cents * mde_cents AS DOUBLE), 2)
          |    AS n_per_arm
          |FROM g, v ORDER BY mde_cents""".stripMargin,


      // (2n_a − n)²/n against the 3.84 (df=1, 95%) literal
      "q283_srm_check" ->
        """WITH u AS (SELECT DISTINCT user_id FROM events),
          |h0 AS (SELECT (user_id * 1000003) % 2147483647 AS h FROM u),
          |h1 AS (SELECT (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1),
          |a AS (SELECT
          |    CAST(SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_a,
          |    CAST(SUM(CASE WHEN h % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
          |      AS n_b
          |  FROM h2)
          |SELECT n_a, n_b, n_a + n_b AS n,
          |  round(CAST((2 * n_a - (n_a + n_b)) * (2 * n_a - (n_a + n_b))
          |    AS DOUBLE) / (n_a + n_b), 6) AS chi2,
          |  round(CAST((2 * n_a - (n_a + n_b)) * (2 * n_a - (n_a + n_b))
          |    AS DOUBLE) / (n_a + n_b), 6) > 3.841459 AS srm_suspect
          |FROM a""".stripMargin,


      // DAU mean over MAU per month, exact sums into one division
      "q284_dau_mau" ->
        """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day,
          |    strftime(CAST(ts AS DATE), '%Y-%m') AS month FROM events),
          |d AS (SELECT month, day, count(DISTINCT user_id) AS dau
          |  FROM ev GROUP BY month, day),
          |da AS (SELECT month, CAST(SUM(dau) AS BIGINT) AS dau_sum,
          |    count(*) AS n_days FROM d GROUP BY month),
          |m AS (SELECT month, CAST(count(DISTINCT user_id) AS BIGINT)
          |    AS mau FROM ev GROUP BY month)
          |SELECT month, dau_sum, n_days, mau,
          |  CAST(dau_sum AS DOUBLE) / (n_days * mau) AS stickiness
          |FROM da JOIN m USING (month) ORDER BY month""".stripMargin,


      // HHI in 128-bit arithmetic (HUGEINT ≡ Spark's decimal(38,0))
      "q285_hhi_trend" ->
        """WITH r AS (SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m')
          |      AS month, l_suppkey,
          |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
          |      AS BIGINT) AS cents
          |  FROM lineitem GROUP BY 1, 2)
          |SELECT month, count(*) AS n_suppliers,
          |  CAST(SUM(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
          |    / CAST(SUM(CAST(cents AS HUGEINT))
          |      * SUM(CAST(cents AS HUGEINT)) AS DOUBLE) AS hhi
          |FROM r GROUP BY month ORDER BY month""".stripMargin,


      // first-week / previous-week lags drive the state machine;
      // churn(w) = active in w−1, absent in w
      "q286_growth_accounting" ->
        """WITH uw AS (SELECT DISTINCT user_id,
          |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |      - DATE '1970-01-01') // 7 AS INT) AS wk FROM events),
          |t AS (SELECT user_id, wk,
          |    min(wk) OVER (PARTITION BY user_id) AS first_wk,
          |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
          |  FROM uw),
          |st AS (SELECT wk, CASE WHEN wk = first_wk THEN 'new'
          |    WHEN prev_wk = wk - 1 THEN 'retained'
          |    ELSE 'resurrected' END AS state FROM t),
          |act AS (SELECT wk,
          |    CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_new,
          |    CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_retained,
          |    CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_resurrected,
          |    count(*) AS n_active
          |  FROM st GROUP BY wk),
          |ch AS (SELECT u1.wk + 1 AS wk, count(*) AS n_churned
          |  FROM uw u1 LEFT JOIN uw u2 ON u1.user_id = u2.user_id
          |    AND u2.wk = u1.wk + 1
          |  WHERE u2.user_id IS NULL GROUP BY u1.wk + 1)
          |SELECT act.wk, n_new, n_retained, n_resurrected, n_active,
          |  CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
          |FROM act LEFT JOIN ch USING (wk) ORDER BY wk""".stripMargin,


      // (errs + m·20)/(n + 20) with the global mean m — same tree
      "q287_eb_shrinkage" ->
        """WITH h AS (SELECT strftime(CAST(ts AS TIMESTAMP),
          |      '%Y-%m-%d %H') AS hour, count(*) AS n,
          |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          |      AS BIGINT) AS errs
          |  FROM events GROUP BY 1),
          |g AS (SELECT CAST(SUM(errs) AS BIGINT) AS te,
          |    CAST(SUM(n) AS BIGINT) AS tn FROM h)
          |SELECT hour, n, errs,
          |  round(CAST(errs AS DOUBLE) / n, 6) AS raw_rate,
          |  round((CAST(errs AS DOUBLE) + CAST(te AS DOUBLE) / tn * 20.0)
          |    / (CAST(n AS DOUBLE) + 20.0), 6) AS shrunk_rate
          |FROM h, g ORDER BY hour""".stripMargin,


      // peak·hours/total per day
      "q288_load_factor" ->
        """WITH hh AS (SELECT strftime(CAST(ts AS TIMESTAMP),
          |      '%Y-%m-%d') AS day,
          |    hour(CAST(ts AS TIMESTAMP)) AS hr, count(*) AS n
          |  FROM events GROUP BY 1, 2)
          |SELECT day, CAST(SUM(n) AS BIGINT) AS n_events,
          |  CAST(max(n) AS BIGINT) AS peak_hour_n, count(*) AS n_hours,
          |  CAST(max(n) * count(*) AS DOUBLE) / SUM(n) AS load_factor
          |FROM hh GROUP BY day ORDER BY day""".stripMargin,


      // nation share within region, region share of world
      "q289_ratio_to_parent" ->
        """WITH j AS (SELECT r_name, n_name,
          |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
          |      AS BIGINT) AS cents
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |    JOIN customer ON o_custkey = c_custkey
          |    JOIN nation ON c_nationkey = n_nationkey
          |    JOIN region ON n_regionkey = r_regionkey
          |  GROUP BY r_name, n_name),
          |w AS (SELECT r_name, n_name, cents,
          |    CAST(SUM(cents) OVER (PARTITION BY r_name) AS BIGINT) AS rc,
          |    CAST(SUM(cents) OVER () AS BIGINT) AS wc FROM j)
          |SELECT r_name, n_name, cents,
          |  CAST(cents AS DOUBLE) / rc AS share_of_region,
          |  CAST(rc AS DOUBLE) / wc AS region_share_of_world
          |FROM w ORDER BY r_name, n_name""".stripMargin,


      // row_number replay of the bounded-heap top-3 per prefix
      "q290_prefix_completions" ->
        """WITH toks AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM documents),
          |tf AS (SELECT term, doc_id, count(*) AS c FROM (
          |    SELECT doc_id, unnest(t) AS term FROM toks)
          |  GROUP BY term, doc_id),
          |ix AS (SELECT term, CAST(SUM(c) AS BIGINT) AS cf FROM tf
          |  GROUP BY term),
          |fx AS (SELECT substring(term, 1, 2) AS prefix, term, cf
          |  FROM ix WHERE length(term) >= 2),
          |rk AS (SELECT prefix, term, cf, row_number()
          |    OVER (PARTITION BY prefix ORDER BY cf DESC, term) AS rn
          |  FROM fx)
          |SELECT prefix, term, cf FROM rk WHERE rn <= 3
          |ORDER BY prefix, cf DESC, term""".stripMargin,


      // distinct brands per order, q269's lift on the sales tables
      "q291_brand_cross_sell" ->
        """WITH bk AS (SELECT DISTINCT l_orderkey AS ok, p_brand
          |  FROM lineitem JOIN part ON l_partkey = p_partkey),
          |nb AS (SELECT count(*) AS N FROM (SELECT DISTINCT ok FROM bk)),
          |s1 AS (SELECT p_brand, count(*) AS n_one FROM bk
          |  GROUP BY p_brand),
          |pr AS (SELECT x.p_brand AS a, y.p_brand AS b, count(*)
          |    AS n_both
          |  FROM bk x JOIN bk y ON x.ok = y.ok AND x.p_brand < y.p_brand
          |  GROUP BY 1, 2)
          |SELECT a, b, CAST(n_both AS BIGINT) AS n_both,
          |  CAST(n_both * N AS DOUBLE) / (sa.n_one * sb.n_one) AS lift
          |FROM pr JOIN s1 sa ON pr.a = sa.p_brand
          |  JOIN s1 sb ON pr.b = sb.p_brand, nb
          |ORDER BY lift DESC, a, b LIMIT 20""".stripMargin,


      // q248's high-water lateness, p95 lower-rank per day
      "q292_freshness_sla" ->
        """WITH e AS (SELECT event_id,
          |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
          |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
          |  FROM events),
          |lm AS (SELECT day, event_id, max(ts_us) OVER (ORDER BY event_id
          |    ROWS UNBOUNDED PRECEDING) - ts_us AS late_us FROM e),
          |rk AS (SELECT day, late_us, row_number() OVER (PARTITION BY day
          |      ORDER BY late_us, event_id) AS r,
          |    count(*) OVER (PARTITION BY day) AS n
          |  FROM lm)
          |SELECT day, late_us AS p95_late_us, n AS n_events
          |FROM rk WHERE r = greatest(1, (95 * n) // 100)
          |ORDER BY day""".stripMargin,


      // the q20 pair CTEs joined back to base-doc provenance
      "q293_dup_label_agreement" ->
        s"""WITH $minhashPairCtes,
           |pp AS (SELECT doc_a % 1000000 AS ba, doc_b % 1000000 AS bb
           |  FROM pairs WHERE est_jaccard >= 0.8),
           |me AS (SELECT doc_id, source, lang FROM documents),
           |j AS (SELECT x.source AS sa, x.lang AS la, y.source AS sb,
           |    y.lang AS lb
           |  FROM pp JOIN me x ON pp.ba = x.doc_id
           |    JOIN me y ON pp.bb = y.doc_id)
           |SELECT count(*) AS n_pairs,
           |  CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_same_source,
           |  CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_same_lang,
           |  CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*) AS source_agreement,
           |  CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*) AS lang_agreement
           |FROM j""".stripMargin,


      // top-50 per source by (cf DESC, term) then one term join;
      // union sizes from the actual list lengths
      "q294_vocab_overlap" ->
        """WITH tf AS (SELECT source, term, count(*) AS cf FROM (
          |    SELECT source, unnest(list_filter(
          |      regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
          |      AS term
          |    FROM documents)
          |  GROUP BY source, term),
          |rk AS (SELECT source, term, row_number() OVER (
          |    PARTITION BY source ORDER BY cf DESC, term) AS rn FROM tf),
          |tp AS (SELECT source, term FROM rk WHERE rn <= 50),
          |sz AS (SELECT source, count(*) AS sz FROM tp GROUP BY source),
          |sh AS (SELECT a.source AS src_a, b.source AS src_b, count(*)
          |    AS n_shared
          |  FROM tp a JOIN tp b ON a.term = b.term
          |    AND a.source < b.source
          |  GROUP BY 1, 2)
          |SELECT src_a, src_b, n_shared,
          |  CAST(n_shared AS DOUBLE) / (za.sz + zb.sz - n_shared)
          |    AS jaccard
          |FROM sh JOIN sz za ON sh.src_a = za.source
          |  JOIN sz zb ON sh.src_b = zb.source
          |ORDER BY src_a, src_b""".stripMargin,


      // the q226 Welch chain replayed under four seed bases
      "q295_aa_calibration" -> {
        val seeds = Seq(1000003L, 999983L, 1000033L, 1000037L)
        val chains = seeds.zipWithIndex.map { case (b, i) =>
          s"""h0$i AS (SELECT user_id, v100,
             |    (user_id * $b) % 2147483647 AS h FROM pu),
             |h1$i AS (SELECT v100,
             |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0$i),
             |h2$i AS (SELECT v100,
             |    (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1$i),
             |arm$i AS (SELECT v100, h % 2 = 0 AS arm FROM h2$i),
             |sa$i AS (SELECT CAST(count(*) AS BIGINT) AS n_a,
             |    CAST(SUM(CAST(v100 AS DECIMAL(38,0))) AS DOUBLE) AS sv_a,
             |    CAST(SUM(CAST(v100 * v100 AS DECIMAL(38,0))) AS DOUBLE)
             |      AS svv_a
             |  FROM arm$i WHERE arm),
             |sb$i AS (SELECT CAST(count(*) AS BIGINT) AS n_b,
             |    CAST(SUM(CAST(v100 AS DECIMAL(38,0))) AS DOUBLE) AS sv_b,
             |    CAST(SUM(CAST(v100 * v100 AS DECIMAL(38,0))) AS DOUBLE)
             |      AS svv_b
             |  FROM arm$i WHERE NOT arm),
             |t$i AS (SELECT CAST($b AS BIGINT) AS seed_base,
             |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
             |      (sv_a / n_a - sv_b / n_b)
             |      / sqrt(((svv_a - sv_a * sv_a / n_a) / (n_a - 1)) / n_a
             |        + ((svv_b - sv_b * sv_b / n_b) / (n_b - 1)) / n_b)
             |    END AS t_stat
             |  FROM sa$i, sb$i)""".stripMargin
        }.mkString(",\n")
        val union = seeds.indices
          .map(i => s"SELECT seed_base, t_stat FROM t$i")
          .mkString("\nUNION ALL ")
        s"""WITH pu AS (SELECT user_id,
           |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           |      AS v100
           |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
           |$chains
           |SELECT seed_base, t_stat, abs(t_stat) > 1.96 AS suspicious
           |FROM ($union)
           |ORDER BY seed_base""".stripMargin
      },


      // the q27 session CTEs rolled up to daily bounce share
      "q296_bounce_rate" ->
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
          |sess AS (SELECT min(ts) AS session_start, count(*) AS ne
          |  FROM sx GROUP BY user_id, session_id),
          |d AS (SELECT strftime(session_start, '%Y-%m-%d') AS day, ne
          |  FROM sess)
          |SELECT day, count(*) AS n_sessions,
          |  CAST(SUM(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_bounces,
          |  CAST(SUM(CASE WHEN ne = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*) AS bounce_rate
          |FROM d GROUP BY day ORDER BY day""".stripMargin,


      // 'R' share of lines and of cents per brand
      "q297_return_rate" ->
        """SELECT p_brand, count(*) AS n_lines,
          |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_returned,
          |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
          |    AS BIGINT) AS cents,
          |  CAST(SUM(CASE WHEN l_returnflag = 'R'
          |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
          |    ELSE 0 END) AS BIGINT) AS returned_cents,
          |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*) AS return_rate,
          |  CAST(SUM(CASE WHEN l_returnflag = 'R'
          |    THEN CAST(round(l_extendedprice * 100) AS BIGINT)
          |    ELSE 0 END) AS DOUBLE)
          |    / SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
          |    AS returned_value_share
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin,


      // first view, first at-or-after purchase, whole-day gap buckets
      "q298_conversion_lag" ->
        """WITH v AS (SELECT user_id,
          |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS tv
          |  FROM events WHERE event_type = 'view' GROUP BY user_id),
          |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tp
          |  FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT v.user_id, min(v.tv) AS tv, min(p.tp) AS tp
          |  FROM v JOIN p ON v.user_id = p.user_id AND p.tp >= v.tv
          |  GROUP BY v.user_id)
          |SELECT (tp - tv) // 86400000000 AS days_to_convert,
          |  count(*) AS n_users
          |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


      // distinct (source, term) spread; exclusive = seen in 1 source
      "q299_vocab_exclusivity" ->
        """WITH st AS (SELECT DISTINCT source, term FROM (
          |    SELECT source, unnest(list_filter(
          |      regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
          |      AS term
          |    FROM documents)),
          |sp AS (SELECT term, count(*) AS n_sources FROM st
          |  GROUP BY term)
          |SELECT source, count(*) AS n_terms,
          |  CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_exclusive,
          |  CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*) AS exclusivity
          |FROM st JOIN sp USING (term) GROUP BY source
          |ORDER BY source""".stripMargin,


      // the publishable one-glance audit row set
      "q300_health_scorecard" ->
        """SELECT metric, value FROM (
          |  SELECT 'docs_total' AS metric, CAST(count(*) AS DOUBLE)
          |    AS value FROM documents
          |  UNION ALL SELECT 'events_total', CAST(count(*) AS DOUBLE)
          |    FROM events
          |  UNION ALL SELECT 'users_distinct',
          |    CAST(count(DISTINCT user_id) AS DOUBLE) FROM events
          |  UNION ALL SELECT 'error_event_share',
          |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          |      AS DOUBLE) / count(*) FROM events
          |  UNION ALL SELECT 'orphan_lineitems',
          |    CAST(count(*) AS DOUBLE)
          |    FROM lineitem l LEFT JOIN orders o
          |      ON l.l_orderkey = o.o_orderkey
          |    WHERE o.o_orderkey IS NULL
          |  UNION ALL SELECT 'purchase_cents_total',
          |    CAST(SUM(CASE WHEN event_type = 'purchase'
          |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
          |      AS DOUBLE) FROM events)
          |ORDER BY metric""".stripMargin,


      // ascending-revenue ceil-rank deciles, cumulative share points
      "q301_lorenz_curve" ->
        """WITH rev AS (SELECT l_suppkey,
          |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
          |      AS BIGINT) AS cents
          |  FROM lineitem GROUP BY l_suppkey),
          |nn AS (SELECT count(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot
          |  FROM rev),
          |rk AS (SELECT cents, tot, (10 * row_number()
          |    OVER (ORDER BY cents, l_suppkey) + n - 1) // n AS decile
          |  FROM rev, nn),
          |ag AS (SELECT decile, count(*) AS n_suppliers,
          |    CAST(SUM(cents) AS BIGINT) AS cents, max(tot) AS tot
          |  FROM rk GROUP BY decile)
          |SELECT decile, n_suppliers, cents,
          |  CAST(CAST(SUM(cents) OVER (ORDER BY decile
          |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE) / tot
          |    AS cum_share
          |FROM ag ORDER BY decile""".stripMargin,


      // per-source length-octave fractions, pairwise Σ min
      "q302_hist_intersection" ->
        """WITH d AS (SELECT source,
          |    CAST(length(bin(greatest(length(text), 1))) AS INT)
          |      AS octave
          |  FROM documents),
          |per AS (SELECT source, octave, count(*) AS n FROM d
          |  GROUP BY source, octave),
          |tt AS (SELECT source, count(*) AS nt FROM d GROUP BY source),
          |fr AS (SELECT per.source, octave,
          |    CAST(n AS DOUBLE) / nt AS p
          |  FROM per JOIN tt ON per.source = tt.source)
          |SELECT a.source AS src_a, b.source AS src_b,
          |  round(CAST(SUM(CAST(least(a.p, b.p) AS DECIMAL(38,18)))
          |    AS DOUBLE), 6) AS intersection
          |FROM fr a JOIN fr b ON a.octave = b.octave
          |  AND a.source < b.source
          |GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin,


      // per-part top-supplier share; arg-top via row_number
      "q303_single_source_risk" ->
        """WITH vol AS (SELECT l_partkey, l_suppkey,
          |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
          |  FROM lineitem GROUP BY l_partkey, l_suppkey),
          |rk AS (SELECT l_partkey, l_suppkey, qty, row_number()
          |    OVER (PARTITION BY l_partkey ORDER BY qty DESC, l_suppkey)
          |      AS rn
          |  FROM vol),
          |ag AS (SELECT l_partkey, count(*) AS n_suppliers,
          |    CAST(SUM(qty) AS BIGINT) AS total_qty,
          |    CAST(max(qty) AS BIGINT) AS top_qty
          |  FROM vol GROUP BY l_partkey)
          |SELECT ag.l_partkey, n_suppliers, total_qty, top_qty,
          |  rk.l_suppkey AS top_suppkey,
          |  CAST(top_qty AS DOUBLE) / total_qty AS top_share,
          |  CAST(top_qty AS DOUBLE) / total_qty >= 0.8 AS single_sourced
          |FROM ag JOIN rk ON ag.l_partkey = rk.l_partkey AND rk.rn = 1
          |ORDER BY ag.l_partkey""".stripMargin,


      // every FK edge's orphan audit unioned; all-zero orphans expected
      "q304_fk_integrity_map" ->
        """SELECT fk_edge, n_rows, n_orphans,
          |  CAST(n_orphans AS DOUBLE) / n_rows AS orphan_rate
          |FROM (
          |  SELECT 'lineitem->orders' AS fk_edge,
          |    (SELECT count(*) FROM lineitem) AS n_rows,
          |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o
          |      ON l.l_orderkey = o.o_orderkey
          |      WHERE o.o_orderkey IS NULL) AS n_orphans
          |  UNION ALL SELECT 'lineitem->part',
          |    (SELECT count(*) FROM lineitem),
          |    (SELECT count(*) FROM lineitem l LEFT JOIN part p
          |      ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)
          |  UNION ALL SELECT 'lineitem->supplier',
          |    (SELECT count(*) FROM lineitem),
          |    (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
          |      ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)
          |  UNION ALL SELECT 'orders->customer',
          |    (SELECT count(*) FROM orders),
          |    (SELECT count(*) FROM orders o LEFT JOIN customer c
          |      ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
          |  UNION ALL SELECT 'customer->nation',
          |    (SELECT count(*) FROM customer),
          |    (SELECT count(*) FROM customer c LEFT JOIN nation n
          |      ON c.c_nationkey = n.n_nationkey
          |      WHERE n.n_nationkey IS NULL)
          |  UNION ALL SELECT 'supplier->nation',
          |    (SELECT count(*) FROM supplier),
          |    (SELECT count(*) FROM supplier s LEFT JOIN nation n
          |      ON s.s_nationkey = n.n_nationkey
          |      WHERE n.n_nationkey IS NULL))
          |ORDER BY fk_edge""".stripMargin,


      // 5 keyHash folds; fold means in decimal, q260's variance tree on
      // the 5 means, rounded 12
      "q305_fold_stability" ->
        """WITH h0 AS (SELECT doc_id, text,
          |    (doc_id * 1000003) % 2147483647 AS h FROM documents),
          |h1 AS (SELECT doc_id, text,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT doc_id, text,
          |    (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |f AS (SELECT h % 5 AS fold,
          |    QUALITY_EXPR AS q
          |  FROM h2),
          |per AS (SELECT fold, count(*) AS n_docs,
          |    CAST(SUM(CAST(q AS DECIMAL(38,18))) AS DOUBLE) / count(*)
          |      AS mean_q
          |  FROM f GROUP BY fold),
          |sp AS (SELECT count(*) AS n_folds,
          |    round((CAST(SUM(CAST(mean_q * mean_q AS DECIMAL(38,18)))
          |        AS DOUBLE)
          |      - CAST(SUM(CAST(mean_q AS DECIMAL(38,18))) AS DOUBLE)
          |        * CAST(SUM(CAST(mean_q AS DECIMAL(38,18))) AS DOUBLE)
          |        / count(*)) / count(*), 12) AS between_fold_var
          |  FROM per)
          |SELECT fold, n_docs, round(mean_q, 6) AS mean_q,
          |  between_fold_var
          |FROM per, sp ORDER BY fold""".stripMargin
          .replace("QUALITY_EXPR", qualitySql),


      // the q35 assignment CTEs; skew stats on one 8-row frame
      "q306_cell_balance" ->
        s"""$knnEdgesPrefixSql,
           |sz AS (SELECT centroid_id, count(*) AS n_vectors FROM a
           |  GROUP BY centroid_id),
           |st AS (SELECT count(*) AS k,
           |    CAST(SUM(n_vectors) AS BIGINT) AS n,
           |    CAST(max(n_vectors) AS BIGINT) AS mx,
           |    CAST(SUM(n_vectors * n_vectors) AS BIGINT) AS sxx
           |  FROM sz)
           |SELECT centroid_id, CAST(n_vectors AS BIGINT) AS n_vectors,
           |  CAST(n_vectors AS DOUBLE) / n AS share,
           |  CAST(mx * k AS DOUBLE) / n AS max_over_mean,
           |  round(sqrt((CAST(sxx AS DOUBLE)
           |      - CAST(n AS DOUBLE) * CAST(n AS DOUBLE) / k) / k)
           |    / (CAST(n AS DOUBLE) / k), 6) AS cv
           |FROM sz, st ORDER BY centroid_id""".stripMargin,


      // centroid ranking by query cosine; scanned = Σ sizes of the
      // nprobe nearest cells
      "q307_probe_cost_curve" ->
        s"""$knnEdgesPrefixSql,
           |sz AS (SELECT centroid_id, count(*) AS sz FROM a
           |  GROUP BY centroid_id),
           |qq AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id = 0),
           |rkc AS (SELECT c.cid, sz.sz, row_number() OVER (ORDER BY
           |    1.0 - list_cosine_similarity(c.cv, qv), c.cid) AS rk
           |  FROM c, qq JOIN sz ON c.cid = sz.centroid_id),
           |tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM sz),
           |pp AS (SELECT CAST(unnest([1, 2, 4]) AS INT) AS nprobe)
           |SELECT nprobe, CAST(SUM(sz) AS BIGINT) AS n_scanned,
           |  CAST(SUM(sz) AS DOUBLE) / max(n) AS scan_fraction
           |FROM pp, rkc, tot WHERE rkc.rk <= pp.nprobe
           |GROUP BY nprobe ORDER BY nprobe""".stripMargin,


      // keyHash-parity halves; per-half top-20 by (cf DESC, term)
      "q308_splithalf_topterms" ->
        """WITH h0 AS (SELECT doc_id, text,
          |    (doc_id * 1000003) % 2147483647 AS h FROM documents),
          |h1 AS (SELECT doc_id, text,
          |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT doc_id, text,
          |    (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |f AS (SELECT h % 2 AS half,
          |    list_filter(regexp_split_to_array(lower(text), '\s+'),
          |      x -> x <> '') AS t
          |  FROM h2),
          |tf AS (SELECT half, term, count(*) AS cf FROM (
          |    SELECT half, unnest(t) AS term FROM f)
          |  GROUP BY half, term),
          |rk AS (SELECT half, term, row_number() OVER (
          |    PARTITION BY half ORDER BY cf DESC, term) AS rn FROM tf),
          |tp AS (SELECT half, term FROM rk WHERE rn <= 20)
          |SELECT count(*) AS n_overlap,
          |  CAST(count(*) AS DOUBLE) / 20.0 AS overlap_at_20
          |FROM tp a JOIN tp b ON a.term = b.term
          |  AND a.half = 0 AND b.half = 1""".stripMargin,


      // member→centroid distances rounded 6 dp, exact-decimal means
      "q309_cell_distortion" ->
        s"""$knnEdgesPrefixSql,
           |dd AS (SELECT a.centroid_id,
           |    round(1.0 - list_cosine_similarity(
           |      CAST(a.embedding AS DOUBLE[]), c.cv), 6) AS d
           |  FROM a JOIN c ON a.centroid_id = c.cid)
           |SELECT centroid_id, count(*) AS n_vectors,
           |  round(CAST(SUM(CAST(d AS DECIMAL(38,18))) AS DOUBLE)
           |    / count(*), 6) AS mean_distortion,
           |  round(max(d), 6) AS max_distortion
           |FROM dd GROUP BY centroid_id ORDER BY centroid_id""".stripMargin,


      // power-of-two half-life weights: ×32 keeps everything BIGINT
      "q310_decayed_popularity" ->
        """WITH e AS (SELECT event_type,
          |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
          |      - DATE '1970-01-01') // 7 AS INT) AS wk FROM events),
          |m AS (SELECT max(wk) AS mw FROM e),
          |w AS (SELECT event_type, least(mw - wk, 5) AS age_wk
          |  FROM e, m),
          |x AS (SELECT event_type, CAST(1 << (5 - age_wk) AS BIGINT)
          |    AS w32 FROM w)
          |SELECT event_type, count(*) AS n_events,
          |  CAST(SUM(w32) AS BIGINT) AS decayed_x32,
          |  CAST(SUM(w32) AS DOUBLE) / 32.0 AS decayed_score
          |FROM x GROUP BY event_type
          |ORDER BY decayed_x32 DESC, event_type""".stripMargin,


      // forced-distributed hash-min labels converge to the same fixpoint
      // as the union-find — byte-identical oracle to q56
      "q311_wcc_distributed" -> dedupClustersOracleSql,


      // q54's assign/probe replay with the label predicate applied to
      // the probed-cell scan (pre-filter semantics)
      "q312_filtered_ann" ->
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
          |$codebookCte,
          |$assignCte,
          |probes AS (SELECT cid FROM c, q ORDER BY list_distance(cv, qv), cid LIMIT 2)
          |SELECT e.vec_id, e.label, a.centroid_id,
          |  round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS distance
          |FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
          |WHERE a.centroid_id IN (SELECT cid FROM probes) AND e.label = 2
          |ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), e.vec_id
          |LIMIT 8""".stripMargin,


      // rank-equivalent Dirichlet QL over matched rows only: the zero-tf
      // smoothing mass folds into the dl-only term (× |q| = 4); same
      // decimal-sum + round-6 ln discipline as q98
      "q313_query_likelihood" -> queryLikelihoodOracleSql,


      // per-depth agreement X_d/d scaled by exact 2^-d — each term is one
      // correctly-rounded division times an exact power of two, so the
      // decimal sum matches bit-for-bit
      "q314_rbo" ->
        s"""WITH bm AS ($bm25OracleSql),
           |ql AS ($queryLikelihoodOracleSql),
           |ar AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS ra FROM bm),
           |br AS (SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rb FROM ql),
           |j AS (SELECT COALESCE(ra, 999) AS ra, COALESCE(rb, 999) AS rb
           |  FROM ar FULL OUTER JOIN br USING (id)),
           |x AS (SELECT d, CAST(SUM(CASE WHEN greatest(ra, rb) <= d
           |      THEN 1 ELSE 0 END) AS BIGINT) AS x_d
           |  FROM j, unnest(range(1, 21)) AS u(d) GROUP BY d)
           |SELECT round(CAST(SUM(CAST((CAST(x_d AS DOUBLE) / d)
           |    / CAST(1 << d AS DOUBLE) AS DECIMAL(27,15))) AS DOUBLE), 6) AS rbo,
           |  CAST(MAX(CASE WHEN d = 20 THEN x_d END) AS DOUBLE) / 20.0
           |    AS overlap_at_20
           |FROM x""".stripMargin,


      // exact-integer TVD: Σ|n_cs·N − N_s·n_c| over HUGEINT (≡ the Spark
      // side's decimal(38,0) — count products overflow BIGINT at scale),
      // one double division per class
      "q315_t_closeness" ->
        """WITH cell AS (SELECT lang, n_chars // 100 AS len_bucket, source,
          |    CAST(count(*) AS BIGINT) AS n_cs
          |  FROM documents GROUP BY 1, 2, 3),
          |cls AS (SELECT lang, len_bucket, CAST(SUM(n_cs) AS BIGINT) AS n_c
          |  FROM cell GROUP BY 1, 2),
          |gl AS (SELECT source, CAST(SUM(n_cs) AS BIGINT) AS n_s
          |  FROM cell GROUP BY 1),
          |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM gl),
          |grid AS (SELECT c.lang, c.len_bucket, c.n_c, g.source, g.n_s,
          |    COALESCE(x.n_cs, 0) AS n_cs, t.n_tot
          |  FROM cls c CROSS JOIN gl g CROSS JOIN tot t
          |  LEFT JOIN cell x ON x.lang = c.lang
          |    AND x.len_bucket = c.len_bucket AND x.source = g.source)
          |SELECT lang, len_bucket, MAX(n_c) AS class_size,
          |  (CAST(SUM(ABS(CAST(n_cs AS HUGEINT) * n_tot
          |      - CAST(n_s AS HUGEINT) * n_c)) AS DOUBLE)
          |    / CAST(MAX(CAST(n_c AS HUGEINT) * n_tot) AS DOUBLE)) / 2.0 AS tvd,
          |  (CAST(SUM(ABS(CAST(n_cs AS HUGEINT) * n_tot
          |      - CAST(n_s AS HUGEINT) * n_c)) AS DOUBLE)
          |    / CAST(MAX(CAST(n_c AS HUGEINT) * n_tot) AS DOUBLE)) / 2.0 > 0.4
          |    AS t_violation
          |FROM grid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


      // per-n top-gram via a (c DESC, g DESC) window ≡ Spark's
      // max(struct(c, g)); chars of a space-joined n-gram = length − (n−1)
      "q316_top_ngram_repetition" ->
        """WITH t AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |b AS (SELECT doc_id, length(array_to_string(t, '')) AS tc, t FROM t),
          |g2 AS (SELECT doc_id, tc, unnest(list_transform(range(1, len(t)),
          |    i -> array_to_string(t[CAST(i AS INT):CAST(i + 1 AS INT)], ' '))) AS g
          |  FROM b WHERE len(t) >= 2),
          |c2 AS (SELECT doc_id, tc, g, CAST(count(*) AS BIGINT) AS c
          |  FROM g2 GROUP BY 1, 2, 3),
          |s2 AS (SELECT doc_id, CAST(c * (length(g) - 1) AS DOUBLE) / tc AS f
          |  FROM c2 QUALIFY row_number() OVER (PARTITION BY doc_id
          |    ORDER BY c DESC, g DESC) = 1),
          |g3 AS (SELECT doc_id, tc, unnest(list_transform(range(1, len(t) - 1),
          |    i -> array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' '))) AS g
          |  FROM b WHERE len(t) >= 3),
          |c3 AS (SELECT doc_id, tc, g, CAST(count(*) AS BIGINT) AS c
          |  FROM g3 GROUP BY 1, 2, 3),
          |s3 AS (SELECT doc_id, CAST(c * (length(g) - 2) AS DOUBLE) / tc AS f
          |  FROM c3 QUALIFY row_number() OVER (PARTITION BY doc_id
          |    ORDER BY c DESC, g DESC) = 1),
          |g4 AS (SELECT doc_id, tc, unnest(list_transform(range(1, len(t) - 2),
          |    i -> array_to_string(t[CAST(i AS INT):CAST(i + 3 AS INT)], ' '))) AS g
          |  FROM b WHERE len(t) >= 4),
          |c4 AS (SELECT doc_id, tc, g, CAST(count(*) AS BIGINT) AS c
          |  FROM g4 GROUP BY 1, 2, 3),
          |s4 AS (SELECT doc_id, CAST(c * (length(g) - 3) AS DOUBLE) / tc AS f
          |  FROM c4 QUALIFY row_number() OVER (PARTITION BY doc_id
          |    ORDER BY c DESC, g DESC) = 1)
          |SELECT d.doc_id,
          |  COALESCE(s2.f, 0.0) AS top2_frac,
          |  COALESCE(s3.f, 0.0) AS top3_frac,
          |  COALESCE(s4.f, 0.0) AS top4_frac,
          |  COALESCE(s2.f, 0.0) <= 0.20 AND COALESCE(s3.f, 0.0) <= 0.18
          |    AND COALESCE(s4.f, 0.0) <= 0.16 AS rep_pass
          |FROM documents d
          |LEFT JOIN s2 ON d.doc_id = s2.doc_id
          |LEFT JOIN s3 ON d.doc_id = s3.doc_id
          |LEFT JOIN s4 ON d.doc_id = s4.doc_id
          |ORDER BY d.doc_id""".stripMargin,


      // duplicated-6-gram interval union: running-max-of-end window, per
      // -span new coverage = e − max(prev_max, pos−1) clamped at 0
      "q317_dup_ngram_coverage" ->
        """WITH t0 AS (SELECT doc_id, text,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
          |  FROM documents),
          |c AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 AND len(t) >= 8
          |    THEN text || ' ' || array_to_string(t[1:8], ' ')
          |    ELSE text END AS text FROM t0),
          |t AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
          |  FROM c),
          |b AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM t),
          |o AS (SELECT doc_id, i AS pos,
          |    array_to_string(t[CAST(i AS INT):CAST(i + 5 AS INT)], ' ') AS g
          |  FROM b, unnest(range(1, len(t) - 4)) AS u(i)
          |  WHERE len(t) >= 6),
          |d AS (SELECT doc_id, pos, pos + 5 AS e FROM o
          |  QUALIFY count(*) OVER (PARTITION BY doc_id, g) > 1),
          |cov AS (SELECT doc_id, greatest(0, e - greatest(
          |    COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
          |    pos - 1)) AS cv
          |  FROM d),
          |s AS (SELECT doc_id, CAST(SUM(cv) AS BIGINT) AS covered_tokens
          |  FROM cov GROUP BY 1)
          |SELECT b.doc_id, b.n_tokens,
          |  COALESCE(s.covered_tokens, 0) AS covered_tokens,
          |  CASE WHEN b.n_tokens = 0 THEN 0.0
          |    ELSE CAST(COALESCE(s.covered_tokens, 0) AS DOUBLE) / b.n_tokens
          |  END AS dup6_frac
          |FROM b LEFT JOIN s ON b.doc_id = s.doc_id
          |ORDER BY b.doc_id""".stripMargin,


      // q187's transition CTEs, then 4 unrolled value-iteration rounds:
      // per-edge p·v in double (identical trees), per-state decimal sum
      "q318_absorbing_conversion" ->
        """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
          |    event_type FROM events),
          |l AS (SELECT event_type,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS from_type,
          |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
          |      ORDER BY ts, event_id)) AS gap_us
          |  FROM e),
          |p AS (SELECT from_type, event_type AS to_type,
          |    CAST(count(*) AS BIGINT) AS n FROM l
          |  WHERE from_type IS NOT NULL AND gap_us <= 1800000000 GROUP BY 1, 2),
          |m AS (SELECT from_type AS s, to_type AS t, n,
          |    SUM(n) OVER (PARTITION BY from_type) AS tot FROM p),
          |st AS (SELECT DISTINCT s FROM
          |  (SELECT s FROM m UNION ALL SELECT t FROM m)),
          |r0 AS (SELECT s, CASE WHEN s = 'purchase' THEN 1.0 ELSE 0.0 END
          |  AS v FROM st),
          |r1 AS (SELECT st.s, CASE WHEN st.s = 'purchase' THEN 1.0
          |    ELSE COALESCE(f.vn, 0.0) END AS v
          |  FROM st LEFT JOIN (SELECT m.s, CAST(SUM(CAST(
          |      (CAST(m.n AS DOUBLE) / m.tot) * v.v AS DECIMAL(27,15)))
          |      AS DOUBLE) AS vn
          |    FROM m JOIN r0 v ON m.t = v.s GROUP BY m.s) f ON st.s = f.s),
          |r2 AS (SELECT st.s, CASE WHEN st.s = 'purchase' THEN 1.0
          |    ELSE COALESCE(f.vn, 0.0) END AS v
          |  FROM st LEFT JOIN (SELECT m.s, CAST(SUM(CAST(
          |      (CAST(m.n AS DOUBLE) / m.tot) * v.v AS DECIMAL(27,15)))
          |      AS DOUBLE) AS vn
          |    FROM m JOIN r1 v ON m.t = v.s GROUP BY m.s) f ON st.s = f.s),
          |r3 AS (SELECT st.s, CASE WHEN st.s = 'purchase' THEN 1.0
          |    ELSE COALESCE(f.vn, 0.0) END AS v
          |  FROM st LEFT JOIN (SELECT m.s, CAST(SUM(CAST(
          |      (CAST(m.n AS DOUBLE) / m.tot) * v.v AS DECIMAL(27,15)))
          |      AS DOUBLE) AS vn
          |    FROM m JOIN r2 v ON m.t = v.s GROUP BY m.s) f ON st.s = f.s),
          |r4 AS (SELECT st.s, CASE WHEN st.s = 'purchase' THEN 1.0
          |    ELSE COALESCE(f.vn, 0.0) END AS v
          |  FROM st LEFT JOIN (SELECT m.s, CAST(SUM(CAST(
          |      (CAST(m.n AS DOUBLE) / m.tot) * v.v AS DECIMAL(27,15)))
          |      AS DOUBLE) AS vn
          |    FROM m JOIN r3 v ON m.t = v.s GROUP BY m.s) f ON st.s = f.s)
          |SELECT s AS state, round(v, 6) AS p_reach FROM r4
          |ORDER BY state""".stripMargin,


      // q256's feature CTEs → fixed linear weights → both rank windows;
      // ranks cast to INT for schema parity
      "q319_linear_rerank" ->
        s"""WITH cand AS ($bm25OracleSql),
           |qvx AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
           |  FROM embeddings WHERE vec_id = 0),
           |dense AS (SELECT vec_id AS id,
           |    round(1.0 - list_cosine_similarity(
           |      CAST(embedding AS DOUBLE[]), qv), 6) AS cos_dist
           |  FROM embeddings, qvx),
           |pri AS (SELECT doc_id AS id, $qualitySql AS quality,
           |    CAST(length(text) AS INT) AS text_len FROM documents),
           |f AS (SELECT c.id AS doc_id, c.score AS bm25, p.quality,
           |    p.text_len, COALESCE(d.cos_dist, 1.0) AS cd
           |  FROM cand c JOIN pri p USING (id) LEFT JOIN dense d USING (id)),
           |sc AS (SELECT doc_id, bm25, round(2.0 * bm25 - 3.0 * cd
           |    + 5.0 * quality - 0.001 * text_len, 6) AS score2 FROM f),
           |r AS (SELECT doc_id, score2, bm25,
           |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
           |      AS rank_before,
           |    CAST(row_number() OVER (ORDER BY score2 DESC, doc_id) AS INT)
           |      AS rank_after FROM sc)
           |SELECT doc_id, score2, rank_after, rank_before, bm25 FROM r
           |WHERE rank_after <= 10 ORDER BY rank_after""".stripMargin
  )
}
