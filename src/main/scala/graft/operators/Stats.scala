package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-replay statistical profiling: anomaly flags and correlations whose
  * every intermediate is either an exact decimal accumulation or a
  * correctly-rounded double op in a FIXED parenthesization, so the DuckDB
  * oracle reproduces them bit-for-bit (sqrt IS correctly rounded per
  * IEEE 754 — unlike ln/exp/pow, it is replay-safe; see NOTES.md parity
  * rules 5/11). Spark's own stddev/corr aggregate doubles in partition
  * order and are NOT replayable — these compute the same statistics from
  * order-independent decimal sums. */
object Stats {

  private def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(24,$scale)")).cast("double")

  /** Per-group z-score anomalies: rows where |value − mean| > `sigmas`·σ
    * (population σ). One group aggregate (broadcast back) + one map-side
    * filter — the profile a 100 TB quality monitor runs per column.
    * Returns the flagged rows with their z-score. A constant group has
    * σ = 0 → z is NaN and no row is flagged (NaN > x is false) — the
    * desired behavior: a constant column has no outliers. */
  def zscoreAnomalies(df: DataFrame, groupCol: String, valueCol: String,
                      sigmas: Double = 2.0): DataFrame =
    zscoreAnomaliesAgainst(df, df, groupCol, valueCol, sigmas)

  /** [[zscoreAnomalies]] with the profile computed from a SEPARATE
    * (historical) frame — the online-monitoring shape: profile a trusted
    * window once, broadcast its per-group stats, and filter a live STREAM
    * against them (stream-static broadcast join; works unchanged under
    * `readStream`, pinned by StreamingSpec). */
  def zscoreAnomaliesAgainst(df: DataFrame, profile: DataFrame,
                             groupCol: String, valueCol: String,
                             sigmas: Double = 2.0): DataFrame = {
    val stats = profile.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      dsum(col(valueCol)).as("s"),
      dsum(col(valueCol) * col(valueCol)).as("ss"))
    val mean = col("s") / col("n")
    val variance = (col("ss") - col("s") * col("s") / col("n")) / col("n")
    val std = sqrt(variance)
    df.join(broadcast(stats), groupCol)
      .withColumn("z", (col(valueCol) - mean) / std)
      .filter(abs(col("z")) > sigmas)
      .select(df.columns.map(col) :+ col("z"): _*)
  }

  /** Pearson correlation of two columns per group, from the six
    * order-independent sums: r = (n·Σxy − Σx·Σy) /
    * (sqrt(n·Σx² − Σx²̄) · sqrt(n·Σy² − Σy²̄)). One hash aggregate with
    * map-side partials — a full column-pair correlation matrix is just
    * this over each pair. */
  def groupCorrelation(df: DataFrame, groupCol: String, xCol: String,
                       yCol: String): DataFrame = {
    val x = col(xCol); val y = col(yCol)
    df.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"),
        dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
        dsum(x * y).as("sxy"))
      .select(col(groupCol), col("n"),
        // round(,12): Σy² at scale 6 has an integer representation past
        // 2^53, and decimal→double conversion is correctly rounded in
        // Spark (BigDecimal) but not in DuckDB's int128 path — a 1-ulp
        // divergence that survives the algebra at ~1e-15 relative
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 12).as("corr"))
  }

  /** Two-sample chi-square drift profile between a reference and a
    * current snapshot of a categorical column — the corpus-composition
    * monitor a 100 TB ingest runs per batch (did the source / language /
    * domain mix shift?). Per category: both counts, the expected current
    * count under the reference distribution `e = (tc·n_ref)/tr`, and the
    * χ² contribution `(n_cur − e)²/e`.
    *
    * Replay-exactness: every term is integer counts into a FIXED
    * parenthesization of correctly-rounded double ops (one product, one
    * divide, one subtract, one square, one divide — no `ln`/`pow`), so
    * DuckDB reproduces each contribution bit-for-bit; callers total the
    * contributions with a decimal accumulate (see q147). Categories
    * ABSENT from the reference have no defined expectation — they emit
    * NULL expected/contrib rather than vanishing (the q100 lesson), and
    * a drift gate should treat any such row as an automatic flag.
    *
    * Shape: two count aggregates, a full outer join on the category
    * (both frames are |categories|-sized), totals as a one-row
    * broadcast. Nothing corpus-sized leaves the scan stage. */
  def chiSquareDrift(ref: DataFrame, cur: DataFrame,
                     catCol: String): DataFrame = {
    val r = ref.groupBy(col(catCol).as("category"))
      .agg(count(lit(1)).as("n_ref"))
    val c = cur.groupBy(col(catCol).as("category"))
      .agg(count(lit(1)).as("n_cur"))
    val j = r.join(c, Seq("category"), "full")
      .select(col("category"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = j.agg(sum("n_ref").as("_tr"), sum("n_cur").as("_tc"))
    j.crossJoin(broadcast(tot))
      .withColumn("expected",
        when(col("n_ref") > 0,
          (col("_tc") * col("n_ref")).cast("double") / col("_tr")))
      .withColumn("_d", col("n_cur").cast("double") - col("expected"))
      .withColumn("contrib", (col("_d") * col("_d")) / col("expected"))
      .select("category", "n_ref", "n_cur", "expected", "contrib")
  }

  /** EWMA control chart over per-group ordered series: each row is scored
    * against the geometrically-weighted mean of its (up to) `window`
    * PREDECESSORS with α = 1/2 — weight 2⁻¹ for the most recent, 2⁻ʲ for
    * j back, normalized by 1 − 2⁻ᴸ over the L available. Rows whose
    * |value − ewma| exceeds `threshold` are returned — the drift/spike
    * monitor shape (EWMA chart, Roberts 1959) for a per-key metric
    * stream.
    *
    * Replay-exactness: 2⁻ʲ weights are exact powers of two (computed as
    * `v / (1<<j)` — an exact double scaling, no `pow`), each term is then
    * decimal-truncated and summed exactly, and the final
    * divide-by-(1 − 2⁻ᴸ) is one correctly-rounded double op — bit-for-bit
    * reproducible by the DuckDB oracle, which matters because the
    * anomaly FLAG compares the unrounded deviation against the
    * threshold. Rows with fewer than `minHistory` predecessors are
    * unscored (a 1-row history is all weight-½ noise).
    *
    * Shape at scale: ONE shuffle (window partition by group); the
    * weighted fold is a map-side higher-order function over a ≤`window`
    * element frame list — no self-join, no explode. */
  def ewmaMonitor(df: DataFrame, groupCol: String, orderCol: String,
                  tieCol: String, valueCol: String, window: Int = 16,
                  minHistory: Int = 4, threshold: Double = 2.0): DataFrame = {
    require(window <= 30, "weights 2^-j underflow decimal scale past 30")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(orderCol).asc, col(tieCol).asc)
      .rowsBetween(-window, -1)
    // frame list is oldest-first: element i of L is j = L-i+1 steps back.
    // The weighted fold is the native graft_ewma_wsum (r12): identical
    // per-term CAST-to-DECIMAL(38,18) + exact decimal accumulation as
    // the aggregate(zip_with(...)) lambda it replaces (spec-pinned),
    // without the interpreted per-element HOF cost on every row
    val hist = collect_list(col(valueCol).cast("double")).over(w)
    df.withColumn("_hist", hist)
      .withColumn("_L", size(col("_hist")))
      .filter(col("_L") >= minHistory)
      .withColumn("_wsum",
        call_function("graft_ewma_wsum", col("_hist")))
      .withColumn("ewma", col("_wsum").cast("double") /
        (lit(1.0) - lit(1.0) / expr("CAST(shiftleft(1L, _L) AS DOUBLE)")))
      .withColumn("deviation", col(valueCol) - col("ewma"))
      .filter(abs(col("deviation")) > threshold)
      .select(col(groupCol), col(orderCol), col(tieCol), col(valueCol),
        col("_L").as("n_history"), col("ewma"), col("deviation"))
  }

  /** Exact two-sample Kolmogorov-Smirnov statistic between a reference
    * and a current numeric sample — the CONTINUOUS-distribution drift
    * gate that complements [[chiSquareDrift]]'s categorical one. D =
    * max_x |F_ref(x) − F_cur(x)| is computed in pure integer arithmetic:
    * at every distinct value the cross-multiplied gap
    * |cumRef·nCur − cumCur·nRef| is a BIGINT, divided by nRef·nCur only
    * at the end — no float CDFs, exact under any partitioning.
    *
    * Scale shape: each side collapses to its distinct values map-side;
    * the ordered cumulative window runs over |distinct values| rows.
    * Returns one row (n_ref, n_cur, d_num, d_denom, ks_d, d_at). */
  def ksStatistic(ref: DataFrame, cur: DataFrame, valueCol: String): DataFrame = {
    def side(df: DataFrame, n: String) =
      df.groupBy(col(valueCol).as("_v")).agg(count(lit(1)).as(n))
    val counts = side(ref, "_nr").join(side(cur, "_nc"), Seq("_v"), "full")
      .select(col("_v"), coalesce(col("_nr"), lit(0L)).as("_nr"),
        coalesce(col("_nc"), lit(0L)).as("_nc"))
    val tot = counts.agg(sum("_nr").cast("long").as("_tr"),
      sum("_nc").cast("long").as("_tc"))
    val w = Window.orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(tot))
      .withColumn("_gap",
        abs(sum("_nr").over(w) * col("_tc") - sum("_nc").over(w) * col("_tr")))
      // argmax with deterministic tie-break: largest gap, then smallest value
      .agg(first(col("_tr")).as("n_ref"), first(col("_tc")).as("n_cur"),
        max(struct(col("_gap"), (-col("_v")).as("_nv"))).as("_best"))
      .select(col("n_ref"), col("n_cur"),
        col("_best._gap").as("d_num"),
        (col("n_ref") * col("n_cur")).as("d_denom"),
        (col("_best._gap").cast("double") / (col("n_ref") * col("n_cur")))
          .as("ks_d"),
        (-col("_best._nv")).as("d_at"))
  }

  /** Spearman rank correlation per group — the robust (monotone-invariant)
    * complement to [[groupCorrelation]]: Pearson over DOUBLED average
    * ranks, which stay INTEGERS under ties (avg rank of a tie run =
    * cnt_less + (cnt_eq+1)/2, so 2·avgRank = 2·rank() + cnt_eq − 1 — no
    * fractional rank arithmetic to keep in sync across engines). The rank
    * transform is two windows sharing one group exchange; the correlation
    * is the same six order-independent decimal sums as
    * [[groupCorrelation]] (doubling ranks scales both variables by 2,
    * which cancels in ρ). round(,12) for the same decimal→double 1-ulp
    * reason. Rank squares reach n³ per group — summed as decimal(38,0),
    * exact to ~10³⁸ (group rows ≲ 10¹² at scale). */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
               yCol: String): DataFrame = {
    val pg = Window.partitionBy(col(groupCol))
    def rank2(c: String): Column =
      lit(2L) * rank().over(pg.orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy(col(groupCol), col(c))) - lit(1L)
    // pairwise-complete: a NULL in either column would otherwise be
    // RANKED (Spark sorts nulls first, other engines last — a silent
    // cross-engine divergence) — drop the pair instead
    val ranks = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol),
        rank2(xCol).as("_rx"), rank2(yCol).as("_ry"))
    def s0(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    def sp(a: Column, b: Column) =
      sum(a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast("double")
    ranks.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        s0(col("_rx")).as("sx"), s0(col("_ry")).as("sy"),
        sp(col("_rx"), col("_rx")).as("sxx"),
        sp(col("_ry"), col("_ry")).as("syy"),
        sp(col("_rx"), col("_ry")).as("sxy"))
      .select(col(groupCol), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 12).as("rho"))
  }

  /** Exact trimmed mean per group: drop the lowest and highest
    * `trimTenths`/10 of rows by (value, tie) rank, then the exact
    * decimal mean of the kept middle — the robust location estimate
    * between the mean (outlier-fragile) and the median (throws away
    * everything); the metric-summary shape for per-group latency /
    * value columns with heavy tails. Cut counts are `n div (10/k)`-style
    * integer arithmetic (`cut = n·trimTenths div 10`), deterministic
    * under ties via the tie column.
    *
    * One window shuffle (rank + count share the group exchange) and one
    * hash aggregate. Returns (group, n, n_kept, trimmed_mean); a group
    * where trimming removes everything (n ≤ 2·cut) yields NULL mean. */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
                  tieCol: String, trimTenths: Int = 1): DataFrame = {
    require(trimTenths >= 0 && trimTenths <= 4, "trim 0..4 tenths per side")
    val w = Window.partitionBy(col(groupCol))
    val ranked = df.select(col(groupCol), col(valueCol),
        row_number().over(w.orderBy(col(valueCol), col(tieCol))).as("_rk"),
        count(lit(1)).over(w).as("_n"))
      .withColumn("_cut", expr(s"(_n * $trimTenths) div 10"))
      .withColumn("_keep",
        col("_rk") > col("_cut") && col("_rk") <= col("_n") - col("_cut"))
    // conditional aggregate, not a filter: a fully-trimmed group stays a
    // row with NULL mean instead of vanishing (the q100 absent-rows rule)
    ranked.groupBy(col(groupCol)).agg(
        max("_n").as("n"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        dsum(when(col("_keep"), col(valueCol))).as("_s"))
      .select(col(groupCol), col("n"), col("n_kept"),
        when(col("n_kept") > 0, col("_s") / col("n_kept"))
          .as("trimmed_mean"))
  }

  /** Mood's median test: the k-sample location test that needs only
    * per-group counts above/below the GRAND median — the most
    * outlier-robust member of the nonparametric family (where
    * [[kruskalWallis]] ranks every value, Mood dichotomizes, so a
    * single corrupt extreme moves one count by one). Values equal to
    * the grand median are dropped (the standard convention). Emits one
    * row per group: observed counts, expected-above under homogeneity
    * (row total times column share), and the group's additive chi-sq
    * contribution — the caller sums contributions for the k-1 df
    * statistic (no p-value: the ln/exp cross-engine rule).
    *
    * Input contract: the value column is INTEGRAL — it is cast to long
    * (like [[kruskalWallis]]), so fractional observations would be
    * truncated before both the grand-median pass and the above/below
    * classification; pre-scale fixed-point data (e.g. cents) first.
    * Degenerate-cell semantics: a zero expected count on ONE side only
    * (a zero column marginal — e.g. no value anywhere above the grand
    * median) forces that side's observed count to zero too, so the cell
    * contributes 0 by the standard chi-sq convention and `chi2_part`
    * is the DEFINED half. Only a group degenerate on BOTH sides (empty
    * after median-equal values drop, or an empty table) reports NULL —
    * surfaced, not NaN.
    *
    * Scale shape: the grand median rides [[groupedTwoPassMedian]]'s
    * two-pass histogram (no value buffer anywhere), collected as ONE
    * driver scalar; then a single groupBy over the rows and a
    * broadcast of the 1-row marginal totals. Nothing buffers a
    * group. */
  def moodMedianTest(df: DataFrame, groupCol: String, vCol: String,
                     coarseBins: Int = 256): DataFrame = {
    val v = df.select(col(groupCol).as("g"),
      col(vCol).cast("long").as("v"))
    val med = groupedTwoPassMedian(
        v.select(lit(0L).as("g"), col("v")), coarseBins)
      .head().getAs[Double]("med")
    val cnt = v.groupBy("g").agg(
      sum(when(col("v") > med, 1L).otherwise(0L)).as("n_above"),
      sum(when(col("v") < med, 1L).otherwise(0L)).as("n_below"))
    val tot = cnt.agg(sum("n_above").as("ta"), sum("n_below").as("tb"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("n_g", col("n_above") + col("n_below"))
      .withColumn("nn", col("ta") + col("tb"))
      .withColumn("e_above",
        col("n_g") * (col("ta").cast("double") / col("nn")))
      .withColumn("e_below",
        col("n_g") * (col("tb").cast("double") / col("nn")))
      .withColumn("chi2_part",
        when(col("e_above") > 0 || col("e_below") > 0,
          coalesce(when(col("e_above") > 0,
            (col("n_above") - col("e_above"))
              * (col("n_above") - col("e_above")) / col("e_above")), lit(0.0))
            + coalesce(when(col("e_below") > 0,
              (col("n_below") - col("e_below"))
                * (col("n_below") - col("e_below")) / col("e_below")),
              lit(0.0))))
      .select(col("g"), col("n_above"), col("n_below"),
        round(col("e_above"), 6).as("exp_above"),
        round(col("chi2_part"), 6).as("chi2_part"))
  }

  /** Negative-binomial method-of-moments fit per group: from each
    * group's exact (n, sum k, sum k^2) blocks, mean m and SAMPLE
    * variance v, then the NB(r, p) solution r = m^2/(v - m), p = m/v —
    * the count model for OVERDISPERSED event data (Poisson forces
    * v = m; q423's dispersion index DETECTS the violation, this fits
    * the model that accommodates it). Groups without overdispersion
    * (v <= m) get NULL r/p — a Poisson-or-thinner group has no NB fit,
    * surfaced rather than extrapolated.
    *
    * Scale shape: one groupBy with decimal-exact sum blocks; the
    * closed-form solve is per-group driver-width arithmetic. */
  def negativeBinomialFit(counts: DataFrame, groupCol: String,
                          kCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    counts.select(col(groupCol).as("g"), col(kCol).cast("long").as("k"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("k").as("s"),
        sum(d0(col("k")) * col("k")).as("ss"))
      .filter(col("n") >= 2)
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("variance",
        (col("ss").cast("double")
          - col("s").cast("double") * col("s") / col("n"))
          / (col("n") - 1))
      .withColumn("nb_r", when(col("variance") > col("mean"),
        col("mean") * col("mean") / (col("variance") - col("mean"))))
      .withColumn("nb_p", when(col("variance") > col("mean"),
        col("mean") / col("variance")))
      .select(col("g"), col("n"), round(col("mean"), 6).as("mean"),
        round(col("variance"), 6).as("variance"),
        round(col("nb_r"), 6).as("nb_r"),
        round(col("nb_p"), 6).as("nb_p"))
  }

  /** Kruskal–Wallis H test (1952) over integer-valued observations —
    * the k-sample nonparametric ANOVA completing the rank family
    * (two-sample AUC rank-sum, permutation p-values): do the k groups
    * share a location, without normality assumptions? Ranks are
    * midranks kept EXACT as 2·rank integers (2·below + ties + 1);
    * per-group rank sums and the tie-correction Σ(t³−t) are exact
    * BIGINT/decimal, and H is assembled from them in a fixed double
    * tree. Output: (n, k, df, h, h_adj) — h_adj NULL if every value is
    * identical (tie correction 0).
    *
    * Scale shape: everything runs on the DISTINCT-value histogram
    * (value-vocabulary-sized, never row-sized): one global cumulative
    * window over the histogram, one (group × value) aggregate. */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val perV = base.groupBy("v").agg(count(lit(1)).as("t"))
    val wOrd = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .withColumn("below", coalesce(sum("t").over(wOrd), lit(0L)))
      .withColumn("r2", lit(2L) * col("below") + col("t") + 1)
    val gs = base.groupBy("g", "v").agg(count(lit(1)).as("n_gv"))
      .join(ranked.select("v", "r2"), Seq("v"))
      .groupBy("g")
      .agg(sum(col("n_gv") * col("r2")).as("s2"), sum("n_gv").as("n_g"))
    val tot = ranked.agg(sum("t").as("nn"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie"))
    gs.crossJoin(broadcast(tot))
      // S_i = s2/2 ⇒ S_i²/n_i = s2²/(4·n_i); decimal square, one cast
      .withColumn("term",
        (d0(col("s2")) * col("s2")).cast("double") / 4.0 / col("n_g"))
      .groupBy("nn", "tie")
      .agg(count(lit(1)).as("k"),
        sum(d18(col("term"))).cast("double").as("s"))
      .withColumn("h",
        lit(12.0) / (col("nn").cast("double") * (col("nn") + 1)) *
          col("s") - lit(3.0) * (col("nn").cast("double") + 1))
      .withColumn("c", lit(1.0) - col("tie").cast("double") /
        (col("nn").cast("double") * col("nn") * col("nn") - col("nn")))
      .select(col("nn").as("n"), col("k"), (col("k") - 1).as("df"),
        round(col("h"), 6).as("h"),
        when(col("c") > 0, round(col("h") / col("c"), 6)).as("h_adj"))
  }

  /** Brown–Forsythe test (1974) — Levene's variance-equality test with
    * the MEDIAN center: are the k groups' spreads equal? The robust
    * pre-check before any pooled-variance inference. Centers are LOWER
    * medians read off the per-group value histogram (deterministic
    * order statistic, no interpolation — so the absolute deviations
    * stay exact integers), and the F statistic assembles from exact
    * Σz/Σz² moments via the sum-of-squares identities. Output one row:
    * (n, k, df1, df2, f).
    *
    * Scale shape: two passes over the (group × distinct-value)
    * histogram — one cumulative window for the median, one aggregate
    * for the moments; nothing row-sorted. */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val hist = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    val med = hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n_g", sum("c").over(wAll))
      .filter(col("cum") >= expr("(n_g + 1) div 2")) // div: Spark `/` on
      .groupBy("g").agg(min("v").as("m"), max("n_g").as("n_g")) // longs is double
    val z = hist.join(med, Seq("g"))
      .withColumn("z", abs(col("v") - col("m")))
      .groupBy("g")
      .agg(max("n_g").as("n_g"), sum(col("c") * col("z")).as("sz"),
        sum(d0(col("c")) * col("z") * col("z")).as("szz"))
    val parts = z
      .withColumn("between", (d0(col("sz")) * col("sz")).cast("double") /
        col("n_g"))
      .withColumn("within", col("szz").cast("double") -
        (d0(col("sz")) * col("sz")).cast("double") / col("n_g"))
    parts.agg(sum("n_g").as("n"), count(lit(1)).as("k"),
        sum(d18(col("between"))).cast("double").as("b"),
        sum(d18(col("within"))).cast("double").as("w"),
        sum("sz").as("s_all"))
      .withColumn("bss", col("b") -
        (d0(col("s_all")) * col("s_all")).cast("double") / col("n"))
      .select(col("n"), col("k"), (col("k") - 1).as("df1"),
        (col("n") - col("k")).as("df2"),
        when(col("w") > 0 && col("k") > 1, round(
          (col("bss") / (col("k").cast("double") - 1)) /
            (col("w") / (col("n").cast("double") - col("k"))), 6))
          .as("f"))
  }

  /** Longest consecutive-day activity streak per entity — the classic
    * gaps-and-islands engagement metric (an island is a run of distinct
    * active days where each day = previous + 1; `day − row_number` is
    * constant exactly on such runs). Returns the `topK` entities by
    * (longest_streak desc, entity asc) with their total active days.
    *
    * Scale shape: rows collapse to DISTINCT (entity, day) first, so the
    * window sorts the per-entity day list (bounded by the calendar, not
    * the event count); the final top-k is a TakeOrdered, no global
    * sort. */
  def longestStreaks(df: DataFrame, entityCol: String, dayCol: String,
                     topK: Int): DataFrame = {
    val days = df.select(col(entityCol).as("e"),
      col(dayCol).cast("long").as("day")).distinct()
    val w = Window.partitionBy("e").orderBy("day")
    days
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("e", "grp").agg(count(lit(1)).as("len"))
      .groupBy("e").agg(sum("len").as("n_active_days"),
        max("len").as("longest_streak"))
      .orderBy(col("longest_streak").desc, col("e"))
      .limit(topK)
      .select(col("e").as(entityCol), col("n_active_days"),
        col("longest_streak"))
  }

  /** RFM segmentation (recency / frequency / monetary quintiles): each
    * entity scored 1–5 on each axis by `ntile(5)` with a deterministic
    * (metric, entity) order, rolled up per 3-digit code with size and
    * average monetary value — the standard customer-base health grid.
    * Recency quintile 1 = most recent (smallest day gap).
    *
    * Exactness: quintile assignment is pure integer positioning (both
    * engines split ⌈n/5⌉-first); the only double is the final avg =
    * sum/count division. One per-entity aggregate, three small windows
    * over the entity frame, one rollup. */
  def rfmSegments(df: DataFrame, entityCol: String, dayCol: String,
                  valueCol: String): DataFrame = {
    val per = df.groupBy(col(entityCol).as("e"))
      .agg(max(col(dayCol).cast("long")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col(valueCol).cast("long")).as("cents"))
    val gmax = per.agg(max("last_day").as("gd"))
    val scored = per.crossJoin(broadcast(gmax))
      .withColumn("recency", col("gd") - col("last_day"))
      .withColumn("r", ntile(5).over(
        Window.orderBy(col("recency"), col("e"))))
      .withColumn("f", ntile(5).over(
        Window.orderBy(col("freq").desc, col("e"))))
      .withColumn("m", ntile(5).over(
        Window.orderBy(col("cents").desc, col("e"))))
    scored.groupBy(concat(col("r"), col("f"), col("m")).as("rfm_code"))
      .agg(count(lit(1)).as("n_entities"),
        round(sum("cents").cast("double") / count(lit(1)) / 100.0, 6)
          .as("avg_value"))
  }

  /** Hill tail-index estimator (1975) over the top-`k` order statistics
    * of an integer-valued column: γ̂ = (1/k)Σ ln(x_(i)/x_(k+1)) and
    * α̂ = 1/γ̂ — the Pareto-tail exponent readout completing the
    * extreme-value pair with the mean-excess table (q432): α ≤ 2 means
    * infinite variance, sampling/bounds plans must switch to
    * heavy-tail-aware estimators. Tie-break by `tieCol` makes the
    * top-k set deterministic (equal values make γ̂ order-free anyway).
    *
    * Scale shape: `orderBy().limit(k+1)` is a TakeOrderedAndProject —
    * per-partition top-(k+1) heaps, no global sort; everything after
    * runs on k+1 rows. Log terms decimal-accumulate; γ̂ and α̂ are
    * single-division doubles, NULL α̂ when the top is flat (γ̂ = 0). */
  def hillTailIndex(df: DataFrame, valueCol: String, tieCol: String,
                    k: Int): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val top = df.select(col(valueCol).cast("long").as("v"),
        col(tieCol).as("tie"))
      .orderBy(col("v").desc, col("tie")).limit(k + 1)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("v").desc, col("tie"))))
    val th = top.filter(col("rk") === k + 1).select(col("v").as("xk"))
    top.filter(col("rk") <= k).crossJoin(broadcast(th))
      .select(col("xk"), (log(col("v").cast("double")) -
        log(col("xk").cast("double"))).as("t"))
      .groupBy("xk").agg(count(lit(1)).as("k"),
        sum(d18(col("t"))).cast("double").as("s"))
      .select(col("k"), col("xk").as("x_k"),
        round(col("s") / col("k"), 6).as("gamma"),
        when(col("s") > 0,
          round(lit(1.0) / (col("s") / col("k")), 6)).as("alpha"))
  }

  /** Weibull fit by median-rank regression (Bernard's approximation):
    * the parametric close-out of the survival family ([[kaplanMeier]],
    * [[nelsonAalen]], [[logRank]]) — ln(−ln(1−F_i)) regressed on
    * ln(t_i) over the UNCENSORED failure times gives shape k (k < 1:
    * infant-mortality churn, k ≈ 1: memoryless, k > 1: wear-out) and
    * scale λ = exp(−b/k). F_i = (i − 0.3)/(n + 0.4) median ranks.
    * Equal times permute freely under the row_number: their (x, y)
    * pair SETS are identical, so the OLS sums don't depend on the
    * tie order. Censored rows are excluded (plain MRR; the adjusted-
    * rank variant is a different estimator), as are t ≤ 0 lifetimes.
    *
    * One rank window over the failure-time frame (entity-level — user
    * count, never event-sized), decimal-accumulated OLS moments, fixed
    * double tree + exp/ln (display-rounded). */
  def weibullFit(life: DataFrame, tCol: String,
                 obsCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val f = life.filter(col(obsCol) && col(tCol) > 0)
      .select(col(tCol).cast("long").as("t"))
    val ranked = f
      .withColumn("i", row_number().over(Window.orderBy("t")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("x", log(col("t").cast("double")))
      .withColumn("y", log(-log(lit(1.0) -
        (col("i").cast("double") - 0.3) / (col("n") + 0.4))))
    ranked.groupBy("n")
      .agg(sum(d18(col("x"))).cast("double").as("sx"),
        sum(d18(col("y"))).cast("double").as("sy"),
        sum(d18(col("x") * col("x"))).cast("double").as("sxx"),
        sum(d18(col("y") * col("y"))).cast("double").as("syy"),
        sum(d18(col("x") * col("y"))).cast("double").as("sxy"))
      .withColumn("shape",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy") - col("shape") * col("sx")) / col("n"))
      .select(col("n").as("n_fail"),
        round(col("shape"), 6).as("shape"),
        round(exp(-col("intercept") / col("shape")), 6).as("scale"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
  }

  /** Burstiness audit: the index of dispersion (Fano factor) of per-bucket
    * event counts for each group — D = variance/mean of the counts over
    * fixed time buckets. A Poisson-ish organic stream has D ≈ 1;
    * D ≫ 1 flags bursty machine traffic (crawler floods, replayed logs)
    * and D ≪ 1 suspiciously regular schedules — the stream-hygiene
    * complement to [[chiSquareDrift]]'s composition monitor.
    *
    * Exact rational arithmetic: with n buckets and integer counts c,
    * D = (n·Σc² − (Σc)²) / (n·Σc) — BIGINT numerator/denominator, one
    * double divide at the end (population variance over the group's
    * OBSERVED buckets; silent minutes outside them are not imputed).
    * Two hash aggregates with map-side partials — bucket counts collapse
    * in the scan stage; nothing corpus-sized shuffles. Buckets are
    * epoch-µs integer division (timezone-free, replayable). */
  def dispersionIndex(df: DataFrame, groupCol: String, tsCol: String,
                      bucketSeconds: Long = 60L): DataFrame = {
    require(bucketSeconds >= 1, "need bucketSeconds >= 1")
    // FLOOR division (matching SQL //): plain `div` truncates toward
    // zero, which would make the bucket at the epoch twice as wide for
    // any stream containing (corrupt) pre-1970 timestamps
    val n = bucketSeconds * 1000000L
    val us = s"unix_micros($tsCol)"
    val buckets = df
      .groupBy(col(groupCol),
        expr(s"($us div $n) - (CASE WHEN $us % $n < 0 THEN 1 ELSE 0 END)")
          .as("_b"))
      .agg(count(lit(1)).as("_c"))
    buckets.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_buckets"),
        sum("_c").cast("long").as("n_events"),
        sum(col("_c") * col("_c")).cast("long").as("_scc"))
      .select(col(groupCol), col("n_buckets"), col("n_events"),
        (col("n_buckets") * col("_scc") - col("n_events") * col("n_events"))
          .as("d_num"),
        (col("n_buckets") * col("n_events")).as("d_denom"),
        ((col("n_buckets") * col("_scc") - col("n_events") * col("n_events"))
          .cast("double") / (col("n_buckets") * col("n_events")))
          .as("dispersion"))
  }

  /** Gini concentration of an integer weight across groups — how
    * concentrated the corpus's token mass is over sources/domains (a
    * 100 TB mix audit: G→0 balanced, G→1 one domain dominates). Exact
    * rational arithmetic over the per-group BIGINT totals: with groups
    * sorted by weight ascending and 1-indexed, G = (2·Σ i·w_i − (n+1)·Σw)
    * / (n·Σw) — integers until the final division. The per-group rollup
    * collapses map-side; the rank window runs over |groups| rows.
    * Returns one row (n_groups, total_weight, gini_num, gini). */
  def giniConcentration(df: DataFrame, groupCol: String,
                        weightCol: String): DataFrame =
    df.groupBy(col(groupCol)).agg(sum(col(weightCol)).cast("long").as("_w"))
      .withColumn("_i",
        row_number().over(Window.orderBy(col("_w"), col(groupCol))))
      .agg(count(lit(1)).as("n_groups"), sum("_w").cast("long").as("total_weight"),
        sum(col("_i") * col("_w")).cast("long").as("_iw"))
      .select(col("n_groups"), col("total_weight"),
        (lit(2L) * col("_iw") - (col("n_groups") + 1L) * col("total_weight"))
          .as("gini_num"),
        ((lit(2L) * col("_iw") - (col("n_groups") + 1L) * col("total_weight"))
          .cast("double") / (col("n_groups") * col("total_weight"))).as("gini"))

  /** Theil–Sen robust trend per group: the LOWER MEDIAN of all pairwise
    * slopes (v_j − v_i)/(x_j − x_i) between the group's bucketed points —
    * the drift estimator that shrugs off the outlier days the q184 OLS
    * line chases (breakdown point ≈ 29%). Input must already be one row
    * per (group, x): bucket first (a day of events → one exact sum), so
    * the quadratic pair term is over BUCKETS — bounded by the time range
    * (3 years of days = 1000 points → 500k pair rows per group), never by
    * the corpus. The pair generator is a within-group equi-self-join;
    * slopes divide exact-integer-derived doubles, so each is the same
    * IEEE double in any engine; the median picks rank ⌈n/2⌉ ordered by
    * (slope, x_i, x_j) — fully deterministic under ties.
    * Returns (group, n_points, n_pairs, ts_slope). */
  def theilSenSlope(buckets: DataFrame, groupCol: String, xCol: String,
                    valueCol: String): DataFrame = {
    val a = buckets.select(col(groupCol).as("_g"), col(xCol).as("_xi"),
      col(valueCol).as("_vi"))
    val b = buckets.select(col(groupCol).as("_g"), col(xCol).as("_xj"),
      col(valueCol).as("_vj"))
    val slopes = a.join(b, Seq("_g")).filter(col("_xi") < col("_xj"))
      .select(col("_g"), col("_xi"), col("_xj"),
        ((col("_vj") - col("_vi")).cast("double") /
          (col("_xj") - col("_xi")).cast("double")).as("_slope"))
    val ranked = slopes.withColumn("_rn", row_number().over(
        Window.partitionBy("_g")
          .orderBy(col("_slope"), col("_xi"), col("_xj"))))
      .withColumn("_np", count(lit(1)).over(Window.partitionBy("_g")))
    ranked.filter(expr("_rn = (_np + 1) div 2"))
      .select(col("_g").as(groupCol),
        ceil((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("_np"))) / 2)
          .cast("long").as("n_points"),
        col("_np").as("n_pairs"), col("_slope").as("ts_slope"))
  }

  /** Deterministic Poisson bootstrap (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams"): `reps` resampled means of an
    * integer metric, each row's per-rep multiplicity drawn as
    * Binomial(8, 1/8) ≈ Poisson(1) from the scrambled key hash — so the
    * "resampling" is a pure function of (id, rep): reproducible across
    * reruns and partitionings, and replayable by an oracle. Sampling WITH
    * replacement cannot be expressed as a hash threshold per row (that
    * gives Bernoulli); per-row multiplicities are the standard
    * distributed-bootstrap trick — no global n needed, one pass, and the
    * rep dimension fans out map-side (corpus × reps rows into one
    * combinable aggregate, no shuffle of the corpus itself).
    *
    * Sums are exact BIGINTs; each bootstrap mean is one double division.
    * Returns `reps` rows (rep, n_draws, boot_mean) — the empirical
    * sampling distribution; CI bounds are rank picks off these rows. */
  def bootstrapMeans(df: DataFrame, idCol: String, valueCol: String,
                     reps: Int = 32): DataFrame = {
    require(reps >= 1, "need reps >= 1")
    val drawn = df.select(col(idCol).cast("long").as("_id"),
        col(valueCol).cast("long").as("_v"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("rep"))
      .withColumn("_w", expr(
        "size(filter(sequence(0, 7), j -> " +
          s"${keyHashSql("_id * 8209 + rep * 127 + j")} % 8 = 0))"))
    drawn.groupBy("rep").agg(
        sum(col("_w")).cast("long").as("n_draws"),
        sum(col("_w") * col("_v")).cast("long").as("_wv"))
      .select(col("rep"), col("n_draws"),
        (col("_wv").cast("double") / col("n_draws")).as("boot_mean"))
      .orderBy("rep")
  }

  /** Welch's two-sample t statistic over an INTEGER metric (value-cents)
    * — the A/B readout: unequal variances, no pooling assumption. Every
    * sufficient statistic (n, Σv, Σv²) accumulates as an exact decimal
    * per arm — the same discipline as [[groupCorrelation]] — and the
    * statistic evaluates in one fixed double tree over those exact sums
    * (sqrt is replay-safe; sample variance uses n−1). Arms are the two
    * values of boolean `armCol`. Returns one row:
    * (n_a, n_b, mean_a, mean_b, diff, t_stat); an arm with < 2
    * observations yields NULL t_stat. */
  def welchTTest(df: DataFrame, armCol: String, valueCol: String): DataFrame = {
    def side(flag: Boolean, sfx: String) = df.filter(col(armCol) === flag)
      .agg(count(lit(1)).as(s"n_$sfx"),
        sum(col(valueCol).cast("decimal(38,0)")).cast("double").as(s"sv_$sfx"),
        sum((col(valueCol) * col(valueCol)).cast("decimal(38,0)"))
          .cast("double").as(s"svv_$sfx"))
    def mean(sfx: String) = col(s"sv_$sfx") / col(s"n_$sfx")
    def variance(sfx: String) =
      (col(s"svv_$sfx") - col(s"sv_$sfx") * col(s"sv_$sfx") / col(s"n_$sfx")) /
        (col(s"n_$sfx") - 1)
    side(true, "a").crossJoin(side(false, "b"))
      .select(col("n_a"), col("n_b"),
        mean("a").as("mean_a"), mean("b").as("mean_b"),
        (mean("a") - mean("b")).as("diff"),
        when(col("n_a") >= 2 && col("n_b") >= 2,
          (mean("a") - mean("b")) /
            sqrt(variance("a") / col("n_a") + variance("b") / col("n_b")))
          .as("t_stat"))
  }

  /** Group-sequential experiment monitor with an O'Brien-Fleming-style
    * spending boundary: per calendar-week look k of K, the cumulative
    * Welch z of arm A vs arm B against boundary z_α·√(K/k) — the
    * peeking-safe alternative to re-reading q226's fixed-horizon t every
    * week. Sufficient statistics (n, Σv, Σv²) accumulate per week in
    * exact decimal and cumulate through an ordered window (additions
    * only, so order-independent); z and the boundary evaluate in double
    * over those exact sums with identical expression trees both engines.
    * The weekly frame is bounded by the calendar, so every window here
    * is driver-scale; the corpus is touched once by the weekly
    * aggregate. `vCol` must be an integer metric (cents, counts) with
    * v² within long range, as in [[welchTTest]]. */
  def obfMonitor(df: DataFrame, wkCol: String, armCol: String,
                 vCol: String, zAlpha: Double): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    def armAgg(flag: Column, sfx: String) = Seq(
      sum(when(flag, 1L).otherwise(0L)).as(s"wn_$sfx"),
      sum(when(flag, d38(col(vCol))).otherwise(d38(lit(0L)))).as(s"wsv_$sfx"),
      sum(when(flag, d38(col(vCol) * col(vCol))).otherwise(d38(lit(0L))))
        .as(s"wsvv_$sfx"))
    val weekly = df.groupBy(col(wkCol).as("wk"))
      .agg((armAgg(col(armCol), "a") ++ armAgg(!col(armCol), "b")).head,
        (armAgg(col(armCol), "a") ++ armAgg(!col(armCol), "b")).tail: _*)
    val wcum = Window.orderBy("wk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = weekly
      .withColumn("look", row_number().over(Window.orderBy("wk")))
      .withColumn("n_looks", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("n_a", sum("wn_a").over(wcum))
      .withColumn("n_b", sum("wn_b").over(wcum))
      .withColumn("sv_a", sum("wsv_a").over(wcum).cast("double"))
      .withColumn("svv_a", sum("wsvv_a").over(wcum).cast("double"))
      .withColumn("sv_b", sum("wsv_b").over(wcum).cast("double"))
      .withColumn("svv_b", sum("wsvv_b").over(wcum).cast("double"))
    def mean(sfx: String) = col(s"sv_$sfx") / col(s"n_$sfx")
    def variance(sfx: String) =
      (col(s"svv_$sfx") - col(s"sv_$sfx") * col(s"sv_$sfx") / col(s"n_$sfx")) /
        (col(s"n_$sfx") - 1)
    cum
      .withColumn("diff", mean("a") - mean("b"))
      .withColumn("z", when(col("n_a") >= 2 && col("n_b") >= 2,
        (mean("a") - mean("b")) /
          sqrt(variance("a") / col("n_a") + variance("b") / col("n_b"))))
      .withColumn("bound",
        lit(zAlpha) * sqrt(col("n_looks").cast("double") / col("look")))
      .withColumn("crossed", when(col("z").isNotNull, abs(col("z")) > col("bound")))
      .select(col("wk"), col("look"), col("n_looks"), col("n_a"), col("n_b"),
        col("diff"), col("z"), col("bound"), col("crossed"))
  }

  /** SQL text of [[Sketches.keyHash]] (affine + two xorshift-multiply
    * rounds mod 2^31−1) over an integer SQL expression — inlined so HOF
    * lambdas can use it (they cannot reference outer columns twice via
    * CTE steps). Mirrored by the DuckDB oracle's replay. */
  private[operators] def keyHashSql(k: String): String = {
    val p = 2147483647L
    val mix = graft.plans.HashExpressions.Mix
    val b = graft.plans.HashExpressions.PolyBase1
    val h0 = s"pmod(($k) * $b, ${p}L)"
    val h1 = s"pmod(($h0 ^ shiftright($h0, 16)) * $mix, ${p}L)"
    s"pmod(($h1 ^ shiftright($h1, 13)) * $mix, ${p}L)"
  }

  /** CUSUM changepoint scan (Page 1954, scaled form): over an ordered
    * series, C_t = T·Σ_{i≤t} x_i − t·Σx — the cumulative deviation from
    * the global mean with the 1/T division cleared, so every value is an
    * exact BIGINT. |C| peaks at the most likely level-shift point; rows
    * achieving the global max are flagged. The series is an ordered
    * aggregate (days, hours — bounded), so the global order window is
    * small by construction. */
  def cusumChangepoint(series: DataFrame, orderCol: String,
                       valueCol: String): DataFrame = {
    val tot = series.agg(count(lit(1)).as("_T"), sum(valueCol).as("_S"))
    val wCum = Window.orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "_rn", not "_t": the analyzer is case-INSENSITIVE, so a column
    // named "_t" silently REPLACES the "_T" total via withColumn
    val cum = series.crossJoin(broadcast(tot))
      .withColumn("_rn", row_number().over(Window.orderBy(orderCol))
        .cast("long"))
      .withColumn("cusum",
        col("_T") * sum(col(valueCol)).over(wCum) - col("_rn") * col("_S"))
    val mx = cum.agg(max(abs(col("cusum"))).as("_mx"))
    cum.crossJoin(broadcast(mx))
      .withColumn("is_peak", abs(col("cusum")) === col("_mx"))
      .select(col(orderCol), col(valueCol), col("cusum"), col("is_peak"))
  }

  /** Pettitt changepoint test (Pettitt 1979) — the NONPARAMETRIC member
    * of the changepoint family ([[cusumChangepoint]] assumes a level
    * shift in the mean; [[pageHinkley]] is its online form; this one is
    * rank-based, so a single wild outlier can't fake a shift):
    * U_t = 2·Σ_{i≤t} R_i − t(n+1) over midranks R — with ties the
    * midrank is a half-integer but 2R = rank + (rank + cnt − 1) is an
    * exact BIGINT, so every U_t is an exact integer. |U| peaks at the
    * most likely distribution-shift point. The approximate significance
    * is p ≈ 2·exp(−z) with z = 6K²/(n³ + n²); z is emitted instead of p
    * (exp's last ulp is not cross-engine-safe — the NOTES ln rule). The
    * series is an ordered bounded aggregate like CUSUM's, so the global
    * windows are small by construction. Returns one row per t with
    * (orderCol, value, u_t, is_peak, k_stat, z). */
  def pettittChangepoint(series: DataFrame, orderCol: String,
                         valueCol: String): DataFrame = {
    val wVal = Window.orderBy(col(valueCol))
    val wTie = Window.partitionBy(col(valueCol))
    val wCum = Window.orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = series.agg(count(lit(1)).as("_n"))
    val ranked = series
      .withColumn("_2r", (rank().over(wVal).cast("long") * 2 +
        count(lit(1)).over(wTie) - 1))
      .crossJoin(broadcast(tot))
      .withColumn("_rn", row_number().over(Window.orderBy(orderCol))
        .cast("long"))
      .withColumn("u_t",
        sum(col("_2r")).over(wCum) - col("_rn") * (col("_n") + 1))
    val mx = ranked.filter(col("_rn") < col("_n"))
      .agg(max(abs(col("u_t"))).as("_k"))
    ranked.crossJoin(broadcast(mx))
      .withColumn("is_peak",
        abs(col("u_t")) === col("_k") && col("_rn") < col("_n"))
      .select(col(orderCol), col(valueCol), col("u_t"), col("is_peak"),
        col("_k").as("k_stat"),
        round((lit(6.0) * col("_k").cast("double") *
            col("_k").cast("double")) /
          (col("_n").cast("double") * col("_n").cast("double") *
            col("_n").cast("double") +
           col("_n").cast("double") * col("_n").cast("double")), 6)
          .as("z"))
  }

  /** Kaplan–Meier survival estimate over right-censored lifetimes: rows
    * are (duration `tCol`, event-observed `obsCol` — false = censored);
    * output is one row per EVENT time with the at-risk count, event
    * count, and the product-limit survival Ŝ(t) = Π_{u≤t} (1 − d_u/n_u)
    * — the churn/retention curve that plain means get wrong under
    * censoring.
    *
    * Replay discipline: at-risk counts are suffix sums (exact BIGINT);
    * each step factor is one exact-int double division; the cumulative
    * product folds an ORDERED factor list (`aggregate(array_sort(...))`
    * here, `list_reduce(list(... ORDER BY u))` in the oracle) — same
    * order, same doubles, bit-identical. The step table is bounded by
    * DISTINCT durations (days/hours — never corpus-sized), so the t≤u
    * prefix join and the global step window are small by construction. */
  def kaplanMeier(life: DataFrame, tCol: String, obsCol: String): DataFrame = {
    val perT = life.groupBy(col(tCol).as("t"))
      .agg(count(lit(1)).as("n_all"),
        sum(when(col(obsCol), 1L).otherwise(0L)).as("d"))
    val tot = perT.agg(sum("n_all").as("_N"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = perT.crossJoin(broadcast(tot))
      .withColumn("n_at_risk",
        col("_N") - coalesce(sum("n_all").over(wPrev), lit(0L)))
    val steps = atRisk.filter(col("d") > 0)
      .withColumn("f",
        (col("n_at_risk") - col("d")).cast("double") / col("n_at_risk"))
    val factors = steps.select(col("t").as("u"), col("f"))
    steps.select(col("t"), col("n_at_risk"), col("d").as("n_events"))
      .join(factors, col("u") <= col("t"))
      .groupBy("t", "n_at_risk", "n_events")
      .agg(expr("aggregate(array_sort(collect_list(struct(u, f))), " +
        "cast(1.0 as double), (acc, x) -> acc * x.f)").as("survival"))
  }

  /** Aalen–Johansen cumulative incidence under COMPETING risks: given
    * one row per unit with lifetime t and cause ∈ {0 = censored, 1, 2},
    * CIF_k(t) = Σ_{u≤t} S(u−)·d_k(u)/n(u) where S is the any-event
    * Kaplan–Meier — the estimator that "1 − KM per cause" famously gets
    * WRONG (it over-counts because censoring a competing event isn't
    * censoring). S(u−) is the strict-prefix product over event steps,
    * computed with [[kaplanMeier]]'s deterministic sorted fold (a
    * sentinel factor (u = −1, f = 1) keeps the earliest step's empty
    * prefix out of null-land); the CIF running sums
    * decimal-accumulate. Output one row per event step:
    * (t, n_at_risk, d1, d2, s_prev, cif1, cif2) — raw doubles, the
    * fold-replay discipline.
    *
    * Scale shape: the corpus collapses to the distinct-lifetime step
    * frame upstream; the prefix join is steps², bounded by distinct
    * durations, never by units. */
  def competingRisks(life: DataFrame, tCol: String,
                     causeCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val perT = life.select(col(tCol).cast("long").as("t"),
        col(causeCol).cast("int").as("cause"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("cause") === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col("cause") === 2, 1L).otherwise(0L)).as("d2"))
    val tot = perT.agg(sum("n_all").as("_N"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val atRisk = perT.crossJoin(broadcast(tot))
      .withColumn("n_at_risk",
        col("_N") - coalesce(sum("n_all").over(wPrev), lit(0L)))
    val steps = atRisk.filter(col("d1") + col("d2") > 0)
      .withColumn("f", (col("n_at_risk") - col("d1") - col("d2"))
        .cast("double") / col("n_at_risk"))
      .transform(Lineage.cut(_, "Stats.competingRisks.steps"))
    val sentinel = steps.sparkSession.range(1)
      .select(lit(-1L).as("u"), lit(1.0).as("f"))
    val factors = steps.select(col("t").as("u"), col("f"))
      .unionByName(sentinel)
    val withSprev = steps.select("t", "n_at_risk", "d1", "d2")
      .join(factors, col("u") < col("t"))
      .groupBy("t", "n_at_risk", "d1", "d2")
      .agg(expr("aggregate(array_sort(collect_list(struct(u, f))), " +
        "cast(1.0 as double), (acc, x) -> acc * x.f)").as("s_prev"))
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withSprev
      .withColumn("term1", col("s_prev") * col("d1") / col("n_at_risk"))
      .withColumn("term2", col("s_prev") * col("d2") / col("n_at_risk"))
      .withColumn("cif1",
        round(sum(d18(col("term1"))).over(wCum).cast("double"), 9))
      .withColumn("cif2",
        round(sum(d18(col("term2"))).over(wCum).cast("double"), 9))
      .select("t", "n_at_risk", "d1", "d2", "s_prev", "cif1", "cif2")
      .orderBy("t")
  }

  /** Grid-search quantile regression through the origin: for each
    * candidate slope β in a FIXED literal grid and each τ (in tenths),
    * the ×10-cleared pinball loss Σ ρ_τ(y − βx) — with integer x, y, β
    * the loss is an exact BIGINT (10·ρ_τ(r) = τ₁₀·r for r>0 else
    * (τ₁₀−10)·r), so the argmin is deterministic (ties → smaller β).
    * The robust-fit answer when [[theilSen]]'s single median slope
    * isn't enough: the τ = 0.1/0.9 slopes bound the relationship's
    * envelope, and their spread is heteroscedasticity made visible.
    *
    * Scale shape: one |grid|-way map-side explode over the (already
    * aggregated) frame, one groupBy(β) with map-side partials; the
    * argmin runs on |grid| rows. */
  def quantileRegressionGrid(df: DataFrame, xCol: String, yCol: String,
                             grid: Seq[Long],
                             taus10: Seq[Int]): DataFrame = {
    val base = df.select(col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
    val g = base
      .select(col("x"), col("y"),
        explode(array(grid.map(lit(_)): _*)).as("b"))
      .withColumn("r", col("y") - col("b") * col("x"))
    val aggs = count(lit(1)).as("n") +: taus10.map(t =>
      sum(when(col("r") > 0, lit(t.toLong) * col("r"))
        .otherwise(lit((t - 10).toLong) * col("r"))).as(s"l$t"))
    val losses = g.groupBy("b").agg(aggs.head, aggs.tail: _*)
      .transform(Lineage.cut(_, "Stats.quantileRegressionGrid.losses"))
    taus10.map { t =>
      losses
        .withColumn("_rk", row_number().over(
          Window.orderBy(col(s"l$t"), col("b"))))
        .filter(col("_rk") === 1)
        .select(lit(t / 10.0).as("tau"), col("b").as("beta"),
          col(s"l$t").as("loss10"), col("n"))
    }.reduce(_ unionByName _).orderBy("tau")
  }

  /** Nelson–Aalen cumulative hazard Ĥ(t) = Σ_{u≤t} d_u/n_u with the
    * Greenwood-form variance Σ d/(n(n−d)) — the additive companion of
    * [[kaplanMeier]]: hazard slopes read rate changes directly (a
    * flattening Ĥ means churn is slowing), and the variance column is
    * what a CI band needs. Same life-table input, same bounded
    * distinct-duration step frame.
    *
    * Replay discipline: each per-step term is ONE exact-int double
    * division; the running sums decimal(38,18)-accumulate over the
    * ordered step window (exact, order-free) and cast back once —
    * bit-identical to the oracle without any product fold. The variance
    * term is NULL-guarded for the n==d final-step boundary (everyone
    * at risk fails: the factor's denominator is 0). */
  def nelsonAalen(life: DataFrame, tCol: String, obsCol: String): DataFrame = {
    val perT = life.groupBy(col(tCol).as("t"))
      .agg(count(lit(1)).as("n_all"),
        sum(when(col(obsCol), 1L).otherwise(0L)).as("d"))
    val tot = perT.agg(sum("n_all").as("_N"))
    val wPrev = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    perT.crossJoin(broadcast(tot))
      .withColumn("n_at_risk",
        col("_N") - coalesce(sum("n_all").over(wPrev), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("h", col("d").cast("double") / col("n_at_risk"))
      .withColumn("gv", when(col("n_at_risk") > col("d"),
        col("d").cast("double") /
          (col("n_at_risk") * (col("n_at_risk") - col("d")))))
      .select(col("t"), col("n_at_risk"), col("d").as("n_events"),
        round(sum(d18(col("h"))).over(wCum).cast("double"), 6)
          .as("cum_hazard"),
        round(sum(d18(col("gv"))).over(wCum).cast("double"), 6)
          .as("greenwood_var"))
  }

  /** CUPED variance reduction (Deng et al. 2013): regress the outcome on
    * a pre-experiment covariate (θ = cov(x,y)/var(x), pooled), adjust
    * y_adj = y − θ·(x − x̄), and report per-arm raw vs adjusted means —
    * the standard way to tighten an A/B readout without more traffic.
    * θ and x̄ come from exact BIGINT sums in single double divisions; each
    * row's y_adj is then the identical double tree on both engines, and
    * the arm means accumulate in decimal. A constant covariate
    * (var(x) = 0) degrades to θ = 0 — raw means, no adjustment. */
  def cupedAdjust(df: DataFrame, armCol: String, preCol: String,
                  outcomeCol: String): DataFrame = {
    val d = df.select(col(armCol).as("arm"), col(preCol).cast("long").as("x"),
      col(outcomeCol).cast("long").as("y"))
    val g = d.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val gg = g.select(
      when(col("n") * col("sxx") - col("sx") * col("sx") =!= 0,
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .otherwise(lit(0.0)).as("theta"),
      (col("sx").cast("double") / col("n")).as("xbar"))
    d.crossJoin(broadcast(gg))
      .withColumn("y_adj", col("y").cast("double") -
        col("theta") * (col("x").cast("double") - col("xbar")))
      .groupBy("arm").agg(
        count(lit(1)).as("n_users"),
        (sum("y").cast("double") / count(lit(1))).as("mean_raw"),
        (sum(col("y_adj").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("mean_adj"),
        max("theta").as("theta"))
  }

  /** Quantile normalization: map each group's value distribution onto the
    * GLOBAL distribution (the batch-effect correction used to make scores
    * from different scorers/sources comparable before mixing). Each row's
    * within-group rank r of m becomes percentile level ⌈levels·r/m⌉, and
    * the row is assigned the global value at that level — all integer
    * rank arithmetic (ties broken by `idCol`), so the mapping replays
    * exactly.
    *
    * Scale: the group windows shuffle by group; the LEVEL TABLE is the
    * one global structure, built from a global rank window here (exact,
    * for the gate) — at 100 TB swap that one input for merged histogram
    * quantiles (q108) and keep everything else; per-row mapping is then a
    * broadcast join against `levels` rows. */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String, levels: Int = 100): DataFrame = {
    val vals = df.select(col(groupCol).as("grp"), col(idCol).as("id"),
      col(valueCol).as("v"))
    val wg = Window.partitionBy("grp").orderBy("v", "id")
    val ranked = vals
      .withColumn("r", row_number().over(wg).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("grp")))
    val wGlob = Window.orderBy("v", "id")
    val glob = vals
      .withColumn("gr", row_number().over(wGlob).cast("long"))
    val nRow = glob.agg(count(lit(1)).as("n"))
    val table = glob.sparkSession.range(1, levels + 1)
      .select(col("id").as("lv")).crossJoin(broadcast(nRow))
      .withColumn("grank", greatest(lit(1L), expr(s"(lv * n) div $levels")))
      .join(glob.select(col("gr").as("grank"), col("v").as("q_norm")), "grank")
      .select("lv", "q_norm")
    ranked
      .withColumn("lv", expr(s"($levels * r + m - 1) div m"))
      .join(broadcast(table), "lv")
      .select(col("id"), col("grp"), col("v"), col("q_norm"))
  }

  /** Quantile treatment effects: exact lower-rank percentiles of an
    * integer metric (cents, counts) per experiment arm, joined by
    * percentile — did the treatment move the median, or only the tail
    * the mean-based [[welchTTest]] is dominated by? Rank is the q261
    * estimator, r = max(1, p·n div 100), per arm.
    *
    * Scale note: exact per-arm ranks run the arm through ONE ordered
    * window partition (two partitions total) — the exact-answer
    * auditor for experiment readouts, not a corpus-wide primitive; at
    * 100 TB use [[Sketches.histogramQuantiles]] and reserve this for
    * the (bounded) metric slice under test. Returns one row per
    * percentile: (pct, n_a, n_b, v_a, v_b, qte = v_a − v_b). */
  def quantileTreatmentEffect(df: DataFrame, armCol: String, vCol: String,
                              pcts: Seq[Int]): DataFrame = {
    val ranked = df.select(col(armCol).as("arm"), col(vCol).as("v"))
      .withColumn("r", row_number()
        .over(Window.partitionBy("arm").orderBy("v")).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("arm")))
    val pctDf = df.sparkSession
      .createDataFrame(pcts.map(Tuple1(_))).toDF("pct")
    ranked.join(broadcast(pctDf),
        col("r") === greatest(lit(1L), expr("(pct * n) div 100")))
      .groupBy("pct")
      .agg(max(when(col("arm"), col("n"))).as("n_a"),
        max(when(!col("arm"), col("n"))).as("n_b"),
        max(when(col("arm"), col("v"))).as("v_a"),
        max(when(!col("arm"), col("v"))).as("v_b"))
      .withColumn("qte", col("v_a") - col("v_b"))
  }

  /** Difference-in-differences readout: mean of an integer metric per
    * (arm × pre/post) cell in one corpus pass (eight conditional
    * map-side-combinable aggregates — no shuffle beyond the final
    * single-row fold), then DiD = (post_t − pre_t) − (post_c − pre_c),
    * the launch-effect estimate that survives a level shift common to
    * both arms. Sums accumulate in exact decimal; each mean is one
    * double division and DiD is arithmetic over those four doubles —
    * the identical expression tree replays in the oracle. */
  def diffInDiff(df: DataFrame, armCol: String, postCol: String,
                 vCol: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    def cell(a: Boolean, p: Boolean, sfx: String) = Seq(
      sum(when(col(armCol) === a && col(postCol) === p, 1L).otherwise(0L))
        .as(s"n_$sfx"),
      sum(when(col(armCol) === a && col(postCol) === p, d38(col(vCol)))
        .otherwise(d38(lit(0L)))).as(s"sv_$sfx"))
    val agg = cell(true, false, "t_pre") ++ cell(true, true, "t_post") ++
      cell(false, false, "c_pre") ++ cell(false, true, "c_post")
    def mean(sfx: String) =
      when(col(s"n_$sfx") > 0,
        col(s"sv_$sfx").cast("double") / col(s"n_$sfx")).as(s"mean_$sfx")
    df.agg(agg.head, agg.tail: _*)
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
        col("n_c_post"), mean("t_pre"), mean("t_post"), mean("c_pre"),
        mean("c_post"))
      .withColumn("did",
        (col("mean_t_post") - col("mean_t_pre")) -
          (col("mean_c_post") - col("mean_c_pre")))
  }

  /** Population Stability Index per group — the scorecard-industry
    * drift metric: PSI = Σ_bins (p_cur − p_ref)·ln(p_cur / p_ref), with
    * add-one (Laplace) smoothing `p = (n_b + 1)/(N + B)` so empty bins
    * contribute finitely and deterministically. Values bin by
    * `v div binWidth` clamped to [0, nBins); the full bin grid is
    * generated per group so a bin empty on ONE side still counts.
    * Convention: PSI < 0.1 stable, 0.1–0.2 moderate, > 0.2 action.
    * Two map-side-combinable aggregates + a bounded grid join; the ln
    * ratio replays because both engines divide identical doubles. */
  def psiDrift(ref: DataFrame, cur: DataFrame, groupCol: String,
               vCol: String, binWidth: Long, nBins: Int): DataFrame = {
    def binned(df: DataFrame, n: String) = df
      .select(col(groupCol).as("g"),
        least(greatest(expr(s"cast($vCol as bigint) div $binWidth"),
          lit(0L)), lit((nBins - 1).toLong)).as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as(n))
    val r = binned(ref, "nr")
    val c = binned(cur, "nc")
    val grid = ref.select(col(groupCol).as("g")).distinct()
      .select(col("g"), explode(expr(s"sequence(0L, ${nBins - 1}L)")).as("bin"))
    val full = grid
      .join(r, Seq("g", "bin"), "left")
      .join(c, Seq("g", "bin"), "left")
      .join(r.groupBy("g").agg(sum("nr").as("n_ref")), Seq("g"))
      .join(c.groupBy("g").agg(sum("nc").as("n_cur")), Seq("g"))
      .withColumn("pr", (coalesce(col("nr"), lit(0L)) + 1).cast("double") /
        (col("n_ref") + nBins))
      .withColumn("pc", (coalesce(col("nc"), lit(0L)) + 1).cast("double") /
        (col("n_cur") + nBins))
      .withColumn("term", (col("pc") - col("pr")) * log(col("pc") / col("pr")))
    full.groupBy("g")
      .agg(max("n_ref").as("n_ref"), max("n_cur").as("n_cur"),
        sum(col("term").cast("decimal(38,18)")).cast("double").as("psi"))
      .select(col("g").as(groupCol), col("n_ref"), col("n_cur"),
        round(col("psi"), 6).as("psi"))
      .withColumn("drifted", col("psi") > 0.2)
  }

  /** Two-arm log-rank test (Mantel 1966) — the hypothesis test
    * completing [[kaplanMeier]]: at each observed event time, the arm-1
    * death count compares to its hypergeometric expectation given the
    * at-risk sets, and Z = Σ(O − E)/√ΣV. Survival-aware A/B inference:
    * a mean-lifetime t-test is biased the moment censoring exists; this
    * is not. At-risk counts come from a reverse cumulative window over
    * the DISTINCT-time frame per arm — the event stream aggregates
    * once, nothing scales with units². `armCol` is boolean; input rows
    * are (arm, t, observed). */
  def logRank(life: DataFrame, armCol: String, tCol: String,
              obsCol: String): DataFrame = {
    val base = life.select(col(armCol).as("arm"),
      col(tCol).cast("long").as("t"), col(obsCol).as("obs"))
    // per (arm, t): deaths and total leaving (dead or censored) at t —
    // on the FULL arm × time grid, so an arm with no departure at t
    // still carries its at-risk count into the contingency table
    val grid = base.select("t").distinct()
      .crossJoin(base.select("arm").distinct())
    val perT = grid
      .join(base.groupBy("arm", "t")
        .agg(sum(when(col("obs"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("leave")), Seq("arm", "t"), "left")
      .withColumn("d", coalesce(col("d"), lit(0L)))
      .withColumn("leave", coalesce(col("leave"), lit(0L)))
      .withColumn("at_risk", sum("leave").over(
        Window.partitionBy("arm").orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val byTime = perT.groupBy("t")
      .agg(sum(when(col("arm"), col("d")).otherwise(0L)).as("d1"),
        sum(col("d")).as("dt"),
        sum(when(col("arm"), col("at_risk")).otherwise(0L)).as("n1"),
        sum(col("at_risk")).as("nt"))
      // times where one arm has already left entirely contribute nothing
      .filter(col("dt") > 0 && col("nt") > 1)
    val terms = byTime
      .withColumn("e1", col("dt").cast("double") * col("n1") / col("nt"))
      .withColumn("v1", (col("dt").cast("double") *
        (col("n1").cast("double") / col("nt"))) *
        (lit(1.0) - col("n1").cast("double") / col("nt")) *
        ((col("nt") - col("dt")).cast("double") / (col("nt") - 1)))
    terms.agg(count(lit(1)).as("n_times"),
        sum((col("d1").cast("double") - col("e1")).cast("decimal(38,18)"))
          .cast("double").as("ome"),
        sum(col("v1").cast("decimal(38,18)")).cast("double").as("vv"))
      .select(col("n_times"), round(col("ome"), 6).as("o_minus_e"),
        round(col("vv"), 6).as("variance"),
        when(col("vv") > 0, round(col("ome") / sqrt(col("vv")), 6)).as("z"))
  }

  /** Delta-method standard error for a RATIO metric (revenue per
    * session, CTR, items per order) under cluster randomization: per
    * arm, R̂ = Σx/Σy over units and Var(R̂) ≈ (sxx − 2R̂·sxy + R̂²·syy) /
    * (n·ȳ²) where s·· are the sample (co)variances of the per-UNIT
    * numerators/denominators — the correction every naive per-event
    * z-test on a ratio metric gets wrong. Emits one row per arm plus
    * the two-arm z = (R_t − R_c)/√(SE_t² + SE_c²) on both rows. All
    * moments decimal-accumulate from integral inputs. */
  def ratioMetricDelta(df: DataFrame, armCol: String, xCol: String,
                       yCol: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val per = df.select(col(armCol).as("arm"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).cast("double").as("sx"),
        sum(d38(col("y"))).cast("double").as("sy"),
        sum(d38(col("x") * col("x"))).cast("double").as("sxx"),
        sum(d38(col("y") * col("y"))).cast("double").as("syy"),
        sum(d38(col("x") * col("y"))).cast("double").as("sxy"))
      .withColumn("ratio", col("sx") / col("sy"))
      .withColumn("ybar", col("sy") / col("n"))
      .withColumn("vx", (col("sxx") - col("sx") * col("sx") / col("n")) /
        col("n"))
      .withColumn("vy", (col("syy") - col("sy") * col("sy") / col("n")) /
        col("n"))
      .withColumn("cxy", (col("sxy") - col("sx") * col("sy") / col("n")) /
        col("n"))
      .withColumn("se", sqrt((col("vx") -
        lit(2.0) * col("ratio") * col("cxy") +
        col("ratio") * col("ratio") * col("vy")) /
        (col("n") * (col("ybar") * col("ybar")))))
    val z = per.agg(
      ((max(when(col("arm"), col("ratio"))) -
        max(when(!col("arm"), col("ratio")))) /
        sqrt(max(when(col("arm"), col("se") * col("se"))) +
          max(when(!col("arm"), col("se") * col("se"))))).as("z"))
    per.crossJoin(broadcast(z))
      .select(col("arm"), col("n"), round(col("ratio"), 6).as("ratio"),
        round(col("se"), 6).as("se"), round(col("z"), 6).as("z"))
  }

  /** Rolling Pearson correlation of two integral daily series over a
    * `window`-row trailing frame (full windows only): the five
    * sufficient sums ride as decimal window aggregates — exact at any
    * magnitude — and the correlation assembles in the fixed
    * parenthesization the [[groupCorrelation]] family replays. The
    * time-varying answer to q111's single number: a relationship that
    * holds on average can invert for weeks at a time, and this is the
    * series that shows when. Input: one row per day. */
  def rollingCorrelation(daily: DataFrame, dayCol: String, xCol: String,
                         yCol: String, window: Int): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val w = Window.orderBy("day").rowsBetween(-(window - 1), 0)
    val base = daily.select(col(dayCol).cast("long").as("day"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("sx", sum(d38(col("x"))).over(w).cast("double"))
      .withColumn("sy", sum(d38(col("y"))).over(w).cast("double"))
      .withColumn("sxy", sum(d38(col("x") * col("y"))).over(w).cast("double"))
      .withColumn("sxx", sum(d38(col("x") * col("x"))).over(w).cast("double"))
      .withColumn("syy", sum(d38(col("y") * col("y"))).over(w).cast("double"))
      .filter(col("cnt") === window)
    val varx = col("sxx") - col("sx") * col("sx") / window
    val vary = col("syy") - col("sy") * col("sy") / window
    base.withColumn("corr", when(varx > 0 && vary > 0,
        round((col("sxy") - col("sx") * col("sy") / window) /
          sqrt(varx * vary), 6)))
      .select(col("day"), col("x"), col("y"), col("corr"))
  }

  /** MASE-style forecast-baseline comparison on a daily series: the
    * seasonal-naive forecast (t − `season`) against the naive one
    * (t − 1), scored by mean absolute error over the days where both
    * exist; mase = MAE_seasonal / MAE_naive < 1 means the weekly
    * structure is real signal a forecaster must model, ≥ 1 means
    * yesterday already beats it. Exact integer error sums; this is the
    * baseline gate to run BEFORE believing any fancier forecast. */
  def maseSeasonalNaive(daily: DataFrame, dayCol: String, nCol: String,
                        season: Int = 7): DataFrame = {
    val w = Window.orderBy("day")
    val base = daily.select(col(dayCol).cast("long").as("day"),
        col(nCol).cast("long").as("n"))
      .withColumn("l1", lag("n", 1).over(w))
      .withColumn("ls", lag("n", season).over(w))
      .filter(col("l1").isNotNull && col("ls").isNotNull)
    base.agg(count(lit(1)).as("n_days"),
        sum(abs(col("n") - col("l1"))).as("sae1"),
        sum(abs(col("n") - col("ls"))).as("saes"))
      .select(col("n_days"),
        round(col("sae1").cast("double") / col("n_days"), 6).as("mae_naive"),
        round(col("saes").cast("double") / col("n_days"), 6)
          .as("mae_seasonal"),
        when(col("sae1") > 0,
          round(col("saes").cast("double") / col("sae1"), 6)).as("mase"))
  }

  /** STL-lite seasonal anomaly screen over a daily count series: trend
    * is the centered 7-day moving mean (full windows only), the weekly
    * seasonal is the day-of-week mean of the detrended values, and a day
    * flags when its remaining residual sits beyond `z`·σ of the residual
    * distribution (σ from decimal-exact Σr/Σr²). A raw z-score monitor
    * flags every weekend; subtracting the two linear components first is
    * what makes the flag mean something. Input: one row per (day, count)
    * — the PRE-AGGREGATED series, so the windows run over days, not
    * events. All filters are fixed-window linear ops, replayable. */
  def seasonalResiduals(daily: DataFrame, dayCol: String, nCol: String,
                        z: Double = 2.0): DataFrame = {
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val base = daily.select(col(dayCol).cast("long").as("day"),
        col(nCol).cast("long").as("n"))
      .withColumn("trend", when(count(lit(1)).over(w7) === 7,
        sum("n").over(w7).cast("double") / 7))
      .withColumn("detr", col("n").cast("double") - col("trend"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val seas = base.filter(col("detr").isNotNull)
      .groupBy("dow").agg((sum(col("detr").cast("decimal(38,18)"))
        .cast("double") / count(lit(1))).as("seasonal"))
    val resid = base.join(broadcast(seas), Seq("dow"), "left")
      .withColumn("resid", col("detr") - col("seasonal"))
    val sigma = resid.filter(col("resid").isNotNull)
      .agg(count(lit(1)).as("nr"),
        sum(col("resid").cast("decimal(38,18)")).cast("double").as("sr"),
        sum((col("resid") * col("resid")).cast("decimal(38,18)"))
          .cast("double").as("srr"))
      .select(sqrt((col("srr") - col("sr") * col("sr") / col("nr")) /
        col("nr")).as("sigma"))
    resid.crossJoin(broadcast(sigma))
      .withColumn("flag", when(col("resid").isNotNull,
        abs(col("resid")) > lit(z) * col("sigma")))
      .select(col("day"), col("n"), round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("resid"), 6).as("resid"), col("flag"))
  }

  /** Conditional next-state entropy of a (from, to) pair stream:
    * per from-state, H = −Σ p(to|from)·ln p(to|from) — how predictable
    * the next step is from here (0 = deterministic funnel step, ln k =
    * uniform over k) — plus the globally weighted H(to|from) = Σ
    * p(from)·H_from on every row. The information-theoretic summary of
    * the [[graft.SparkEntry]] Markov transition matrix: one count
    * aggregate, one per-from window, a bounded state-count fold. */
  def conditionalEntropy(pairs: DataFrame, fromCol: String,
                         toCol: String): DataFrame = {
    val cnt = pairs.groupBy(col(fromCol).as("f"), col(toCol).as("t"))
      .agg(count(lit(1)).as("n"))
    val per = cnt
      .withColumn("nf", sum("n").over(Window.partitionBy("f")))
      .withColumn("term", (col("n").cast("double") / col("nf")) *
        log(col("n").cast("double") / col("nf")))
    val hPer = per.groupBy("f")
      .agg(max("nf").as("n_from"),
        (lit(0.0) - sum(col("term").cast("decimal(38,18)")).cast("double"))
          .as("h"))
    val tot = hPer.agg(sum("n_from").as("nn"))
    hPer.crossJoin(broadcast(tot))
      .withColumn("hw", (col("n_from").cast("double") / col("nn")) * col("h"))
      .withColumn("h_cond", sum(col("hw").cast("decimal(38,18)"))
        .over(Window.partitionBy(lit(1))).cast("double"))
      .select(col("f").as(fromCol), col("n_from"),
        round(col("h"), 6).as("entropy"), round(col("h_cond"), 6).as("h_cond"))
  }

  /** Permutation test for a two-arm mean difference with DETERMINISTIC
    * permutations: arm_k(key) = ((keyHash(key) + k·Mix) mod p) mod 2, so
    * k = 0 is the production bucketing ([[Sketches.keyHash]] % 2 — the
    * same arms q226's Welch t uses) and k = 1..nPerms are the null
    * re-labelings. p = (1 + #{k : |diff_k| ≥ |diff_obs|}) / (nPerms+1),
    * the add-one permutation p-value — no normality assumption, no Φ,
    * exactly replayable. One explode×aggregate: (nPerms+1) × 2 partial
    * sums, map-side combinable, however large the corpus. */
  def permutationTest(df: DataFrame, keyCol: String, vCol: String,
                      nPerms: Int = 64): DataFrame = {
    val mix = graft.plans.HashExpressions.Mix
    val p = 2147483647L
    val byK = df
      .select(Sketches.keyHash(col(keyCol)).as("h0"),
        col(vCol).cast("long").as("v"))
      .withColumn("k", explode(expr(s"sequence(0, $nPerms)")))
      .withColumn("arm", pmod(col("h0") + col("k") * mix, lit(p)) % 2 === 0)
      .groupBy("k")
      .agg(sum(when(col("arm"), col("v").cast("decimal(38,0)"))).as("svt"),
        sum(when(col("arm"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("arm"), col("v").cast("decimal(38,0)"))).as("svc"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("nc"))
      .withColumn("diff", col("svt").cast("double") / col("nt") -
        col("svc").cast("double") / col("nc"))
    val obs = byK.filter(col("k") === 0).select(col("diff").as("d0"))
    byK.filter(col("k") > 0).crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perms"),
        sum(when(abs(col("diff")) >= abs(col("d0")), 1L).otherwise(0L))
          .as("n_extreme"), max("d0").as("d0"))
      .select(round(col("d0"), 6).as("diff_obs"), col("n_perms"),
        col("n_extreme"),
        round((col("n_extreme") + 1).cast("double") /
          (col("n_perms") + 1), 6).as("p_value"))
  }

  /** [[permutationTest]] per group — one exact permutation p-value PER
    * HYPOTHESIS, the input a multiple-testing correction
    * ([[graft.operators.Evaluation.bhFdr]]) actually wants: the
    * re-labelings share the hash chain across groups, each group's
    * extreme-count is its own. The p-values stay EXACT RATIONALS
    * ((n_extreme+1)/(n_perms+1)) — no normal approximation, so the BH
    * step downstream can compare in pure integer arithmetic.
    * Scale shape identical to the global test: the explode is the only
    * row multiplier (nPerms+1 ×), everything collapses map-side into
    * one (group, k) aggregate. */
  def permutationTestPerGroup(df: DataFrame, groupCol: String,
                              keyCol: String, vCol: String,
                              nPerms: Int = 64): DataFrame = {
    val mix = graft.plans.HashExpressions.Mix
    val p = 2147483647L
    val byK = df
      .select(col(groupCol).as("_g"),
        Sketches.keyHash(col(keyCol)).as("h0"),
        col(vCol).cast("long").as("v"))
      .withColumn("k", explode(expr(s"sequence(0, $nPerms)")))
      .withColumn("arm", pmod(col("h0") + col("k") * mix, lit(p)) % 2 === 0)
      .groupBy("_g", "k")
      .agg(sum(when(col("arm"), col("v").cast("decimal(38,0)"))).as("svt"),
        sum(when(col("arm"), 1L).otherwise(0L)).as("nt"),
        sum(when(!col("arm"), col("v").cast("decimal(38,0)"))).as("svc"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("nc"))
      .filter(col("nt") > 0 && col("nc") > 0)
      .withColumn("diff", col("svt").cast("double") / col("nt") -
        col("svc").cast("double") / col("nc"))
    val obs = byK.filter(col("k") === 0)
      .select(col("_g"), col("diff").as("d0"))
    byK.filter(col("k") > 0).join(obs, Seq("_g"))
      .groupBy("_g")
      .agg(count(lit(1)).as("n_perms"),
        sum(when(abs(col("diff")) >= abs(col("d0")), 1L).otherwise(0L))
          .as("n_extreme"), max("d0").as("d0"))
      .select(col("_g").as(groupCol), round(col("d0"), 6).as("diff_obs"),
        col("n_perms"), col("n_extreme"),
        round((col("n_extreme") + 1).cast("double") /
          (col("n_perms") + 1), 6).as("p_value"))
  }

  /** Robust location/scale outlier screen: per group the EXACT median
    * (rank ⌈n/2⌉, the convention the histogram-quantile family uses),
    * the median absolute deviation, and the count of values beyond
    * `cutoff`·1.4826·MAD (1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD a consistent σ
    * estimator under normality). Unlike [[zscoreAnomalies]], one wild
    * value cannot inflate the scale it is judged against — this is the
    * screen to run BEFORE trusting any mean/σ monitor. Two rank windows
    * per group + broadcast scalar joins; integral inputs keep every
    * intermediate exact. */
  def madOutliers(df: DataFrame, groupCol: String, vCol: String,
                  cutoff: Double = 3.0): DataFrame = {
    val base = df.select(col(groupCol).as("g"), col(vCol).cast("long").as("v"))
    def medianOf(d: DataFrame, c: String, out: String) = d
      .withColumn("_rn", row_number().over(
        Window.partitionBy("g").orderBy(col(c).asc)))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("_rn") === expr("(_n + 1) div 2"))
      .select(col("g"), col(c).as(out))
    val dev = base.join(broadcast(medianOf(base, "v", "med")), Seq("g"))
      .withColumn("ad", abs(col("v") - col("med")))
    dev.join(broadcast(medianOf(dev, "ad", "mad")), Seq("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), max("med").as("med"), max("mad").as("mad"),
        sum(when(col("ad").cast("double") >
          (lit(cutoff) * lit(1.4826)) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumnRenamed("g", groupCol)
  }

  /** Split conformal prediction (Vovk; Lei et al. 2018): a
    * distribution-free interval half-width per group with finite-sample
    * coverage ≥ 1 − α. Three disjoint hash folds of the id space: TRAIN
    * fits the (here: per-group decimal-exact mean) predictor, CALIBRATION
    * takes `qhat` = the ⌈(n+1)(1−α)⌉-th smallest absolute residual
    * (integer-arithmetic rank, id tie-break), TEST reports the achieved
    * coverage of ±qhat. Every step is an exact integer/rank op or a
    * fixed-parenthesization double, so the oracle replays it bit-for-bit.
    * Scale shape: one groupBy per fold, a broadcast of per-group scalars
    * back onto the row stream, one rank window per group on the
    * calibration fold only. */
  def splitConformal(df: DataFrame, groupCol: String, idCol: String,
                     vCol: String, alphaNum: Int = 1,
                     alphaDen: Int = 10): DataFrame = {
    val base = df.select(col(groupCol).as("g"), col(idCol).as("id"),
        col(vCol).cast("long").as("v"))
      .withColumn("fold", expr(s"${keyHashSql("id")} % 10"))
    val train = base.filter(col("fold") < 4)
      .groupBy("g").agg((sum(col("v").cast("decimal(38,0)")).cast("double") /
        count(lit(1))).as("yhat"), count(lit(1)).as("n_train"))
    def resid(d: DataFrame) = d.join(broadcast(train), Seq("g"))
      .withColumn("r", abs(col("v").cast("double") - col("yhat")))
    val calib = resid(base.filter(col("fold") >= 4 && col("fold") < 7))
    val w = Window.partitionBy("g").orderBy(col("r").asc, col("id").asc)
    val ranked = calib.withColumn("rn", row_number().over(w))
      .withColumn("n_calib", count(lit(1)).over(Window.partitionBy("g")))
    val conf = alphaDen - alphaNum
    val qhat = ranked
      .withColumn("kk", expr(
        s"((n_calib + 1) * $conf + ($alphaDen - 1)) div $alphaDen"))
      .groupBy("g").agg(max("n_calib").as("n_calib"),
        min(when(col("rn") === col("kk"), col("r"))).as("qhat"))
    resid(base.filter(col("fold") >= 7))
      .join(broadcast(qhat), Seq("g"))
      .groupBy("g").agg(
        max(round(col("yhat"), 6)).as("yhat"),
        max("n_train").as("n_train"), max("n_calib").as("n_calib"),
        max(round(col("qhat"), 6)).as("qhat"),
        count(lit(1)).as("n_test"),
        (sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("coverage"))
      // calibration fold too small (kk > n_calib): the conformal
      // convention is qhat = +inf => coverage 1 by definition; report
      // NULL coverage rather than the misleading 0.0 that `r <= NULL`
      // would otherwise produce
      .withColumn("coverage",
        when(col("qhat").isNull, lit(null).cast("double"))
          .otherwise(col("coverage")))
      .withColumnRenamed("g", groupCol)
  }

  /** Pinball (quantile) loss of a per-group quantile forecast — the
    * metric that gates probabilistic forecasts the way MASE (q367) gates
    * point forecasts: the train split's exact type-1 τ-quantile is the
    * forecast, the held-out split pays
    * `Σ max(τ·(y−q̂), (1−τ)·(q̂−y)) / n`. τ = tauNum/tauDen stays
    * rational and the loss is summed ×tauDen in exact integers, so ONE
    * double division at the end replays bit-for-bit. The split is the
    * deterministic id-parity fold; the quantile is the
    * ⌈τ·n⌉-th smallest (ties by id), same idiom as [[splitConformal]].
    * Shape: one rank window per group on the train side, a broadcast of
    * the per-group q̂, a map-side loss fold on the test side. */
  def pinballEval(df: DataFrame, groupCol: String, idCol: String,
                  vCol: String, tauNum: Int = 9, tauDen: Int = 10): DataFrame = {
    require(tauNum > 0 && tauNum < tauDen, "need 0 < tau < 1")
    val base = df.select(col(groupCol).as("g"), col(idCol).as("id"),
      col(vCol).cast("long").as("v"))
    val train = base.filter(pmod(col("id"), lit(2)) === 0)
    val w = Window.partitionBy("g").orderBy(col("v").asc, col("id").asc)
    val ranked = train.withColumn("rn", row_number().over(w))
      .withColumn("n_train", count(lit(1)).over(Window.partitionBy("g")))
    val qhat = ranked
      .withColumn("kk", expr(s"(n_train * $tauNum + ($tauDen - 1)) div $tauDen"))
      .groupBy("g").agg(max("n_train").as("n_train"),
        min(when(col("rn") === col("kk"), col("v"))).as("qhat"))
    base.filter(pmod(col("id"), lit(2)) === 1)
      .join(broadcast(qhat), Seq("g"))
      .withColumn("lossN", when(col("v") >= col("qhat"),
          lit(tauNum) * (col("v") - col("qhat")))
        .otherwise(lit(tauDen - tauNum) * (col("qhat") - col("v"))))
      .groupBy("g").agg(max("n_train").as("n_train"),
        max("qhat").as("qhat"), count(lit(1)).as("n_test"),
        (sum("lossN").cast("double") / (lit(tauDen) * count(lit(1))))
          .as("pinball"))
      .withColumnRenamed("g", groupCol)
  }

  /** Exact best-split decision stump on an integer feature against a
    * boolean label: for every candidate threshold t (each distinct
    * feature value with both sides non-empty, split `x < t`), the
    * Gini-weighted impurity
    * `G(t) = [(nL² − posL² − negL²)/nL + (nR² − posR² − negR²)/nR] / n`
    * — algebraically `Σ_side (n_s/n)·gini(side)` but kept as an
    * all-integer tree with three divides, so the oracle replays it
    * bit-for-bit (no ln, unlike information gain). `is_best` marks the
    * argmin (tie → smallest t) — the single most informative split, the
    * primitive behind tree learners and feature-binning audits.
    * One value-grouped aggregate + a values-sized cumulative window —
    * the frame after the first groupBy is |distinct values|, never
    * corpus-sized. */
  def giniStump(df: DataFrame, featureCol: String, labelCol: String): DataFrame = {
    val perV = df.select(col(featureCol).cast("long").as("v"),
        when(col(labelCol), 1L).otherwise(0L).as("y"))
      .groupBy("v").agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    val tot = perV.agg(sum("n").as("nt"), sum("pos").as("post"))
    val cum = perV
      .withColumn("nl", coalesce(sum("n").over(w), lit(0L)))
      .withColumn("posl", coalesce(sum("pos").over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("negl", col("nl") - col("posl"))
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("posr", col("post") - col("posl"))
      .withColumn("negr", col("nr") - col("posr"))
      .filter(col("nl") > 0 && col("nr") > 0)
      .withColumn("gini",
        ((col("nl") * col("nl") - col("posl") * col("posl") -
          col("negl") * col("negl")).cast("double") / col("nl") +
         (col("nr") * col("nr") - col("posr") * col("posr") -
          col("negr") * col("negr")).cast("double") / col("nr")) / col("nt"))
    cum
      .withColumn("_best", min(struct(col("gini"), col("v")))
        .over(Window.partitionBy(lit(1))))
      .select(col("v").as("threshold"), col("nl").as("n_left"),
        col("posl").as("pos_left"), col("nr").as("n_right"),
        col("posr").as("pos_right"), round(col("gini"), 6).as("gini"),
        (col("_best")("v") === col("v")).as("is_best"))
  }

  /** Holt linear (double-exponential) smoothing per group, α = 0.5,
    * β = 0.25 — the level+trend forecaster one notch above q152's EWMA
    * (which tracks level only and lags any trending series by a
    * constant offset). For each group the `yCol` series is folded in
    * `orderCol` order through the standard recurrence
    *
    *   ℓ_t = α·y_t + (1−α)·(ℓ_{t−1} + b_{t−1})
    *   b_t = β·(ℓ_t − ℓ_{t−1}) + (1−β)·b_{t−1}
    *
    * initialised ℓ_0 = y_0, b_0 = 0, accumulating the one-step-ahead
    * squared error. A left fold over doubles is association-ORDER-
    * dependent, so exact replay comes from both engines executing the
    * IDENTICAL fold: `aggregate(array_sort(collect_list(...)))` here ≡
    * DuckDB `list_reduce(list(... ORDER BY ...))` — the [[kaplanMeier]]
    * bit-identity precedent. The constants are dyadic rationals
    * (exactly representable), so the recurrence tree matches to the bit.
    *
    * Scale shape: one groupBy collapses the input to per-group ordered
    * arrays (bounded: calendar days per group); the fold is one map-side
    * pass per group. Returns (group, n_obs, level, trend, forecast_next
    * = ℓ+b, mse of the n−1 one-step errors) — all raw doubles. */
  def holtSmoothing(df: DataFrame, groupCol: String, orderCol: String,
                    yCol: String): DataFrame = {
    val folded = df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_obs"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col(orderCol).as("o"),
              col(yCol).cast("double").as("y")))),
            s => s.getField("y")),
          struct(lit(0.0).as("l"), lit(0.0).as("b"),
            lit(0.0).as("sse"), lit(0L).as("i")),
          (a, y) => {
            val l0 = a.getField("l"); val b0 = a.getField("b")
            val f = l0 + b0
            val l1 = lit(0.5) * y + lit(0.5) * f
            struct(
              when(a.getField("i") === 0, y).otherwise(l1).as("l"),
              when(a.getField("i") === 0, lit(0.0))
                .otherwise(lit(0.25) * (l1 - l0) + lit(0.75) * b0).as("b"),
              when(a.getField("i") === 0, lit(0.0))
                .otherwise(a.getField("sse") + (y - f) * (y - f)).as("sse"),
              (a.getField("i") + 1).as("i"))
          }).as("_st"))
    folded.select(col(groupCol), col("n_obs"),
      col("_st").getField("l").as("level"),
      col("_st").getField("b").as("trend"),
      (col("_st").getField("l") + col("_st").getField("b"))
        .as("forecast_next"),
      when(col("n_obs") > 1, col("_st").getField("sse") /
        (col("n_obs") - 1)).as("mse"))
  }

  /** Holt–Winters ADDITIVE seasonal smoothing per group, α = 0.5,
    * β = 0.25, γ = 0.25, season length 7 — [[holtSmoothing]] plus the
    * seasonal correction a weekly-cycling series needs (Holt alone
    * chases the cycle as spurious trend). The recurrence
    *
    *   f_t  = ℓ + b + s[p]              (one-step forecast, p = t mod 7)
    *   ℓ'   = α·(y − s[p]) + (1−α)·(ℓ + b)
    *   b'   = β·(ℓ' − ℓ) + (1−β)·b
    *   s[p]'= γ·(y − ℓ') + (1−γ)·s[p]
    *
    * folds left over the ordered series with ℓ₀ = y₀, b₀ = 0, s ≡ 0 —
    * the same bit-identical-fold discipline as [[holtSmoothing]]: the
    * seven seasonal slots are STATE FIELDS (not an array), so the
    * oracle replays the identical tree as a recursive CTE with columns
    * s0..s6; all smoothing constants are dyadic. Returns one row per
    * group: (group, n_obs, level, trend, s_next = the slot the next
    * period lands on, forecast_next = ℓ + b + s_next, seasonal
    * amplitude max(s)−min(s), and the one-step mse over obs 2..n) —
    * raw doubles, no rounding (the fold is exact replay).
    *
    * Scale shape: one groupBy collapses to per-group ordered arrays
    * (bounded by the calendar); the fold is map-side. */
  def holtWinters(df: DataFrame, groupCol: String, orderCol: String,
                  yCol: String): DataFrame = {
    val sFields = (0 until 7).map(k => s"s$k")
    def sOld(a: Column, p: Column): Column =
      sFields.zipWithIndex.tail.foldLeft(
        when(p === 0, a.getField("s0"))) { case (acc, (f, k)) =>
        acc.when(p === k, a.getField(f))
      }
    val folded = df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_obs"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col(orderCol).as("o"),
              col(yCol).cast("double").as("y")))),
            s => s.getField("y")),
          struct(lit(0.0).as("l") +: lit(0.0).as("b") +:
            lit(0.0).as("sse") +: lit(0L).as("i") +:
            sFields.map(f => lit(0.0).as(f)): _*),
          (a, y) => {
            val p = pmod(a.getField("i"), lit(7L))
            val so = sOld(a, p)
            val f = a.getField("l") + a.getField("b") + so
            val l1 = lit(0.5) * (y - so) +
              lit(0.5) * (a.getField("l") + a.getField("b"))
            val lNew = when(a.getField("i") === 0, y).otherwise(l1)
            val bNew = when(a.getField("i") === 0, lit(0.0))
              .otherwise(lit(0.25) * (lNew - a.getField("l")) +
                lit(0.75) * a.getField("b"))
            val sUpd = lit(0.25) * (y - lNew) + lit(0.75) * so
            struct(lNew.as("l") +: bNew.as("b") +:
              when(a.getField("i") === 0, lit(0.0))
                .otherwise(a.getField("sse") + (y - f) * (y - f))
                .as("sse") +:
              (a.getField("i") + 1).as("i") +:
              sFields.zipWithIndex.map { case (fld, k) =>
                when(p === k, sUpd).otherwise(a.getField(fld)).as(fld)
              }: _*)
          }).as("_st"))
    val st = col("_st")
    val pNext = pmod(col("n_obs"), lit(7L))
    val sNext = sOld(st, pNext)
    val sCols = sFields.map(st.getField)
    folded.select(col(groupCol), col("n_obs"),
      st.getField("l").as("level"),
      st.getField("b").as("trend"),
      sNext.as("s_next"),
      (st.getField("l") + st.getField("b") + sNext).as("forecast_next"),
      (greatest(sCols: _*) - least(sCols: _*)).as("seas_amplitude"),
      when(col("n_obs") > 1,
        st.getField("sse") / (col("n_obs") - 1)).as("mse"))
  }

  /** Mann–Kendall trend test per group: S = Σ_{i<j} sign(x_j − x_i)
    * over the ordered series, with the tie-corrected variance
    * Var = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18 and the
    * continuity-corrected z ((S∓1)/√Var). THE nonparametric "is this
    * metric drifting" gate beside the Theil–Sen slope (q211): no
    * normality assumption, exact under ties, and every term here is an
    * exact BIGINT until the final division.
    *
    * Scale shape: the i < j self-join is per-group period² — meant for
    * frames already reduced to calendar grain, like [[kendallTauRatio]].
    */
  def mannKendall(daily: DataFrame, groupCol: String, orderCol: String,
                  vCol: String): DataFrame = {
    val base = daily.select(col(groupCol).as("g"),
      col(orderCol).cast("long").as("t"), col(vCol).cast("long").as("v"))
      .transform(Lineage.cut(_, "Stats.mannKendall.base"))
    val s = base.select(col("g"), col("t"), col("v").as("va"))
      .join(base.select(col("g"), col("t").as("t2"), col("v").as("vb")),
        Seq("g"))
      .filter(col("t") < col("t2"))
      .groupBy("g")
      .agg(sum(when(col("vb") > col("va"), 1L)
        .when(col("vb") < col("va"), -1L).otherwise(0L)).as("s_stat"))
    val ties = base.groupBy("g", "v").agg(count(lit(1)).as("tc"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_distinct"), sum("tc").as("n"),
        sum(col("tc") * (col("tc") - 1) * (lit(2L) * col("tc") + 5))
          .as("tie"))
    s.join(ties, Seq("g"))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) - col("tie"))
      .select(col("g").as(groupCol), col("n").as("n_periods"),
        col("s_stat"),
        round(col("var18").cast("double") / 18.0, 6).as("var_s"),
        round(when(col("var18") > 0,
          when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") /
              sqrt(col("var18").cast("double") / 18.0))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1).cast("double") /
                sqrt(col("var18").cast("double") / 18.0))
            .otherwise(lit(0.0))), 6).as("z"))
  }

  /** Page–Hinkley drift monitor (Page 1954; the streaming-drift test
    * MOA/River ship) per group: the cumulative deviation from the
    * RUNNING mean, m_t = Σ_{i≤t} (x_i − x̄_i − δ), alarms when
    * m_t − min_{i≤t} m_i > λ. Complements [[cusumChangepoint]] (which
    * deviates from the fixed GLOBAL mean and needs the whole series)
    * — PH is the one-pass online form.
    *
    * Replay-exactness: x̄_i = S_i/i is one double division (identical
    * tree both engines); each deviation is then cast to
    * decimal(38,18) so the PREFIX SUM is exact and association-order-
    * free — the repo's decimal-accumulate parity rule — and the
    * min-so-far and threshold compare stay in decimal. One summary row
    * per group: n_obs, the peak statistic, alarm count and first alarm
    * position (NULL when the series never drifts past λ).
    *
    * Scale shape: one shuffle to daily grain, one window partition per
    * group; the summary rollup collapses map-side. */
  def pageHinkley(df: DataFrame, groupCol: String, orderCol: String,
                  yCol: String, delta: Double, lambda: Double): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val dev = df
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_s", sum(col(yCol)).over(wAll))
      .withColumn("_d", d18(col(yCol).cast("double") -
        col("_s").cast("double") / col("_i") - lit(delta)))
      .withColumn("_m", sum(col("_d")).over(wAll))
      .withColumn("_ph", col("_m") - min(col("_m")).over(wAll))
      // threshold-compare on the DOUBLE cast: a decimal-vs-double
      // comparison coerces differently in the two engines near a tie
      .withColumn("_phd", col("_ph").cast("double"))
    dev.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_obs"),
        round(max(col("_ph")).cast("double"), 6).as("peak_ph"),
        sum(when(col("_phd") > lit(lambda), 1L).otherwise(0L))
          .as("n_alarms"),
        min(when(col("_phd") > lit(lambda), col("_i"))).as("first_alarm_t"))
  }

  /** Delete-one-group jackknife for a RATIO metric (Quenouille 1956;
    * Efron 1982 ch. 2 — the grouped jackknife a sharded pipeline gets
    * for free): θ̂ = ΣN/ΣD over all strata, θ̂₍₋ₕ₎ the ratio with
    * stratum h's exact integer sums removed, and
    *
    *   var_jack = (H−1)/H · Σ_h (θ̂₍₋ₕ₎ − θ̄)²,  θ̄ = Σ θ̂₍₋ₕ₎ / H
    *
    * The leave-one-out ratios are single identical-tree double
    * divisions of BIGINT sums; the two cross-stratum means accumulate
    * in decimal(38,18) (order-free), so the oracle replays every value
    * bit-for-bit. Complements the delta-method variance (q368): the
    * jackknife needs no Taylor expansion and exposes per-stratum
    * influence (`theta_loo`).
    *
    * Scale shape: one groupBy collapses the fact table to H stratum
    * rows; everything after is window math over those H rows. Returns
    * one row per stratum with the shared (theta_hat, var_jack,
    * se_jack) repeated — H is small by construction. */
  def jackknifeRatio(df: DataFrame, stratumCol: String, numCol: String,
                     denCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val per = df.groupBy(col(stratumCol))
      .agg(sum(col(numCol)).as("num_h"), sum(col(denCol)).as("den_h"))
    val wAll = Window.partitionBy(lit(1))
    val loo = per
      .withColumn("_tn", sum("num_h").over(wAll))
      .withColumn("_td", sum("den_h").over(wAll))
      .withColumn("_h", count(lit(1)).over(wAll))
      .withColumn("theta_loo",
        (col("_tn") - col("num_h")).cast("double") /
          (col("_td") - col("den_h")))
      .withColumn("_tbar",
        sum(d18(col("theta_loo"))).over(wAll).cast("double") / col("_h"))
    loo
      .withColumn("var_jack",
        ((sum(d18((col("theta_loo") - col("_tbar")) *
            (col("theta_loo") - col("_tbar")))).over(wAll)).cast("double") *
          (col("_h") - 1) / col("_h")))
      .select(col(stratumCol), col("num_h"), col("den_h"),
        col("theta_loo"),
        (col("_tn").cast("double") / col("_td")).as("theta_hat"),
        round(col("var_jack"), 12).as("var_jack"),
        round(sqrt(col("var_jack")), 9).as("se_jack"))
  }

  /** Two-sample Cramér–von Mises distribution test per group (Anderson
    * 1962), in the ties-correct ECDF form: with per-distinct-value arm
    * counts (cA, cB) and cumulative (CA, CB),
    *
    *   T = Σ_v w_v · (CA/n − CB/m)²  · n·m/N²
    *     = Σ_v w_v · (CA·m − CB·n)²  / (n·m·N²)
    *
    * the INTEGER numerator Σ w·(CA·m − CB·n)² accumulates exactly in
    * decimal(38,0) (the HUGEINT ≡ decimal(38,0) parity rule — the
    * squares overflow BIGINT at scale), then ONE double division
    * against n·m·N² computed as doubles. Unlike the KS sup-statistic,
    * CvM integrates the whole ECDF gap, so a mid-distribution shift
    * that never produces a large sup still rejects. `rejects_5pct`
    * compares against the asymptotic 5% critical value 0.461.
    *
    * Scale shape: one shuffle to (group, value) grain with both arm
    * counts as conditional sums, one window per group for the
    * cumulatives, one rollup. */
  def cramerVonMises(df: DataFrame, groupCol: String, armACol: String,
                     valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val byV = df.groupBy(col(groupCol), col(valueCol).as("_v"))
      .agg(sum(when(col(armACol), 1L).otherwise(0L)).as("ca"),
        sum(when(col(armACol), 0L).otherwise(1L)).as("cb"))
    val w = Window.partitionBy(groupCol).orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    val cum = byV
      .withColumn("_cka", sum("ca").over(w))
      .withColumn("_ckb", sum("cb").over(w))
      .withColumn("_n", sum("ca").over(wAll))
      .withColumn("_m", sum("cb").over(wAll))
      .withColumn("_d", d0(col("_cka")) * col("_m") -
        d0(col("_ckb")) * col("_n"))
    cum.groupBy(col(groupCol))
      .agg(max("_n").as("n_a"), max("_m").as("n_b"),
        sum(d0(col("ca") + col("cb")) * col("_d") * col("_d"))
          .as("_num"))
      .withColumn("t_cvm",
        round(col("_num").cast("double") /
          (col("n_a").cast("double") * col("n_b") *
            ((col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")))), 6))
      .select(col(groupCol), col("n_a"), col("n_b"), col("t_cvm"),
        (col("t_cvm") > 0.461).as("rejects_5pct"))
  }

  /** Nearest-neighbor caliper matching WITH replacement (Rosenbaum &
    * Rubin 1985; Stuart 2010 §3) for an observational treated-vs-
    * control contrast: each treated unit matches the control with the
    * closest integer score within ±`caliper` (ties → smaller distance,
    * then smaller control score, then smaller control id — fully
    * deterministic), and ATT = mean(y_t − y_matched) over the matched
    * treated. With-replacement matching is order-free, so it is
    * expressible as a pure min-reduce — no sequential greedy pass.
    *
    * Scale shape: NO all-pairs join — controls are bucketed by
    * score div caliper and each treated probes its 3 adjacent buckets
    * (any within-caliper control must be there), so the join is
    * banded; the match itself is one min(struct) per treated. Integer
    * scores/outcomes keep Σ(y_t − y_c) exact; ATT is one double
    * division. */
  def caliperMatchAtt(units: DataFrame, idCol: String, treatedCol: String,
                      scoreCol: String, yCol: String,
                      caliper: Long): DataFrame = {
    val base = units.select(col(idCol).cast("long").as("uid"),
      col(treatedCol).as("tr"), col(scoreCol).cast("long").as("sc"),
      col(yCol).cast("long").as("y"))
    // scores are non-negative counts, so trunc-div == floor-div in both
    // engines and the bucket key is portable
    val ctrl = base.filter(!col("tr"))
      .select(col("uid").as("cid"), col("sc").as("csc"),
        col("y").as("cy"), expr(s"sc div $caliper").as("cb"))
    val treat = base.filter(col("tr"))
      .withColumn("_b", expr(s"sc div $caliper"))
      .withColumn("cb", explode(array(col("_b") - 1, col("_b"),
        col("_b") + 1)))
    val matched = treat.join(ctrl, Seq("cb"))
      .filter(abs(col("sc") - col("csc")) <= caliper)
      .groupBy(col("uid"), col("sc"), col("y"))
      .agg(min(struct(abs(col("sc") - col("csc")).as("d"),
        col("csc").as("csc"), col("cid").as("cid"), col("cy").as("cy")))
        .as("m"))
    val nTreat = base.filter(col("tr")).agg(count(lit(1)).as("n_treated"))
    matched.agg(count(lit(1)).as("n_matched"),
        (sum("y").cast("double") / count(lit(1))).as("mean_treated"),
        (sum(col("m").getField("cy")).cast("double") / count(lit(1)))
          .as("mean_matched_control"),
        (sum(col("y") - col("m").getField("cy")).cast("double") /
          count(lit(1))).as("att"))
      .crossJoin(broadcast(nTreat))
      .select(col("n_treated"), col("n_matched"),
        round(col("mean_treated"), 6).as("mean_treated"),
        round(col("mean_matched_control"), 6).as("mean_matched_control"),
        round(col("att"), 6).as("att"))
  }

  /** Frequent k-step session paths: consecutive event-type triples
    * within the session gap, counted and ranked — the "what do users
    * actually do" mining pass beside the transition-matrix views
    * (q187/q318 see single steps; paths expose the multi-step
    * funnels). One lead-window pass builds the triples map-side; the
    * count rollup collapses to the tiny path vocabulary. */
  def frequentPaths(events: DataFrame, userCol: String, tsCol: String,
                    idCol: String, typeCol: String, gapUs: Long,
                    topK: Int): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val base = events
      .withColumn("_t1", lead(col(typeCol), 1).over(w))
      .withColumn("_t2", lead(col(typeCol), 2).over(w))
      .withColumn("_g1", unix_micros(lead(col(tsCol), 1).over(w)) -
        unix_micros(col(tsCol)))
      .withColumn("_g2", unix_micros(lead(col(tsCol), 2).over(w)) -
        unix_micros(lead(col(tsCol), 1).over(w)))
      .filter(col("_t2").isNotNull && col("_g1") <= gapUs &&
        col("_g2") <= gapUs)
      .withColumn("path", concat_ws(">", col(typeCol), col("_t1"),
        col("_t2")))
    val counts = base.groupBy("path").agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(sum("n").as("_tot"))))
      .withColumn("_rk", row_number().over(
        Window.orderBy(col("n").desc, col("path"))))
      .filter(col("_rk") <= topK)
      .select(col("_rk").as("rank"), col("path"), col("n"),
        round(col("n").cast("double") / col("_tot"), 6).as("share"))
      .orderBy("rank")
  }

  /** Entropy rate of the behavioral Markov chain: H = −Σ_{s,t}
    * (n_st/N)·ln(n_st/n_s·) over per-user consecutive event-type
    * transitions — how PREDICTABLE the next action is given the
    * current one. Reported beside H_max = ln(k): predictability
    * 1 − H/H_max reads 0 (uniform chaos) to 1 (deterministic script —
    * a bot signature, the single-number reduction of the q187
    * transition matrix). Counts exact; each term one log of a ratio of
    * exact ints; sums decimal-accumulate; display-rounded (ln rule). */
  def entropyRate(events: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val trans = events
      .withColumn("_t", lead(col(typeCol), 1).over(w))
      .filter(col("_t").isNotNull)
      .groupBy(col(typeCol).as("s"), col("_t").as("t"))
      .agg(count(lit(1)).as("n_st"))
    val perS = trans.groupBy("s").agg(sum("n_st").as("n_s"))
    val tot = perS.agg(sum("n_s").as("nn"),
      count(lit(1)).as("n_states"))
    trans.join(perS, Seq("s")).crossJoin(broadcast(tot))
      .withColumn("term", -(col("n_st").cast("double") / col("nn")) *
        log(col("n_st").cast("double") / col("n_s")))
      .groupBy("nn", "n_states")
      .agg(sum(d18(col("term"))).cast("double").as("h"))
      .withColumn("hmax", log(col("n_states").cast("double")))
      .select(col("nn").as("n_transitions"), col("n_states"),
        round(col("h"), 6).as("h_rate"),
        round(col("hmax"), 6).as("h_max"),
        round(lit(1.0) - col("h") / col("hmax"), 6).as("predictability"))
  }

  /** Partial correlation r_xy·z from ONE scan's exact moment matrix:
    * all nine decimal sums in a single aggregate → the three pairwise
    * Pearsons → (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — "does x
    * relate to y once z is held fixed", the 3-variable confounder
    * check beside q376's Simpson demonstration. round(,12) per the
    * q111 decimal→double rule. */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
                         zCol: String): DataFrame = {
    val x = col(xCol); val y = col(yCol); val z = col(zCol)
    val m = df.agg(count(lit(1)).as("n"),
      dsum(x).as("sx"), dsum(y).as("sy"), dsum(z).as("sz"),
      dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
      dsum(z * z).as("szz"),
      dsum(x * y).as("sxy"), dsum(x * z).as("sxz"),
      dsum(y * z).as("syz"))
    def r(sab: String, sa: String, sb: String, saa: String,
          sbb: String): Column =
      (col("n") * col(sab) - col(sa) * col(sb)) /
        (sqrt(col("n") * col(saa) - col(sa) * col(sa)) *
          sqrt(col("n") * col(sbb) - col(sb) * col(sb)))
    m.withColumn("rxy", r("sxy", "sx", "sy", "sxx", "syy"))
      .withColumn("rxz", r("sxz", "sx", "sz", "sxx", "szz"))
      .withColumn("ryz", r("syz", "sy", "sz", "syy", "szz"))
      .select(col("n"),
        round(col("rxy"), 12).as("r_xy"),
        round(col("rxz"), 12).as("r_xz"),
        round(col("ryz"), 12).as("r_yz"),
        round((col("rxy") - col("rxz") * col("ryz")) /
          sqrt((lit(1.0) - col("rxz") * col("rxz")) *
            (lit(1.0) - col("ryz") * col("ryz"))), 12)
          .as("r_xy_given_z"))
  }

  /** Residual diagnostics for a per-group daily series: Durbin–Watson
    * on mean-centered residuals plus the Wald–Wolfowitz runs test on
    * their signs — "is yesterday's surprise informative about
    * today's?" (DW ≈ 2 iff not) and "are the +/− signs random?", the
    * model-free autocorrelation screen before anyone trusts an i.i.d.
    * assumption on the series. Residuals are SCALED integers
    * e_t = n·x_t − S (mean-centering without division — the ratio
    * statistics are scale-invariant), so both quadratic forms are
    * exact; zero residuals drop from the runs count (standard
    * practice). Runs moments μ = 2ab/(a+b)+1 and the Wald variance are
    * fixed double trees over exact ints; z is NULL when σ² = 0.
    * One lag window per group over the (bounded) daily frame. */
  def residualDiagnostics(daily: DataFrame, groupCol: String,
                          orderCol: String, valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base = daily.select(col(groupCol).as("g"),
      col(orderCol).cast("long").as("t"), col(valueCol).cast("long").as("x"))
    val wAll = Window.partitionBy("g")
    val wOrd = Window.partitionBy("g").orderBy("t")
    val e = base
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum("x").over(wAll))
      .withColumn("e", col("n") * col("x") - col("s"))
      .withColumn("pe", lag("e", 1).over(wOrd))
      .withColumn("sgn", when(col("e") > 0, 1).when(col("e") < 0, -1))
      .withColumn("psgn", last("sgn", ignoreNulls = true).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
    val agg = e.groupBy("g").agg(
      max("n").as("n_days"),
      sum(when(col("pe").isNotNull,
        d0(col("e") - col("pe")) * (col("e") - col("pe")))).as("sd2"),
      sum(d0(col("e")) * col("e")).as("se2"),
      sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("a"),
      sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("b"),
      // runs = sign changes (among nonzero signs) + 1
      (sum(when(col("sgn").isNotNull && col("psgn").isNotNull &&
        col("sgn") =!= col("psgn"), 1L).otherwise(0L)) + 1).as("runs"))
    agg
      .withColumn("dw", when(col("se2") > 0,
        round(col("sd2").cast("double") / col("se2").cast("double"), 6)))
      .withColumn("mu", lit(2.0) * col("a") * col("b") /
        (col("a") + col("b")) + 1)
      .withColumn("s2", (lit(2.0) * col("a") * col("b") *
        (lit(2.0) * col("a") * col("b") - col("a") - col("b"))) /
        ((col("a") + col("b")).cast("double") * (col("a") + col("b")) *
          (col("a") + col("b") - 1)))
      .select(col("g").as(groupCol), col("n_days"), col("a").as("n_pos"),
        col("b").as("n_neg"), col("runs"), col("dw"),
        when(col("s2") > 0,
          round((col("runs").cast("double") - col("mu")) /
            sqrt(col("s2")), 6)).as("runs_z"))
  }

  /** Autocorrelation function of a per-group integer series at lags
    * 1..maxLag: the exact-sum Pearson of (x_t, x_{t+lag}) over the
    * overlapping span — the seasonality reader (a weekly cycle shows
    * as an ACF peak at lag 7) beside the q253 CROSS-correlation and
    * the q351 decomposition. One self-join per lag on the shifted
    * order key; all moments exact HUGEINT/decimal sums into the one
    * closed-form division. */
  def acfTable(daily: DataFrame, groupCol: String, orderCol: String,
               vCol: String, maxLag: Int): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base = daily.select(col(groupCol).as("g"),
      col(orderCol).cast("long").as("t"), col(vCol).cast("long").as("v"))
      .transform(Lineage.cut(_, "Stats.acfTable.base"))
    (1 to maxLag).map { lag =>
      val j = base.select(col("g"), col("t"), col("v").as("x"))
        .join(base.select(col("g"), (col("t") - lag).as("t"),
          col("v").as("y")), Seq("g", "t"))
      j.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(d0(col("x")) * col("x")).as("sxx"),
          sum(d0(col("y")) * col("y")).as("syy"),
          sum(d0(col("x")) * col("y")).as("sxy"))
        .filter(col("n") > 2)
        .withColumn("_vx", col("n") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx"))
        .withColumn("_vy", col("n") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy"))
        .withColumn("acf", when(col("_vx") > 0 && col("_vy") > 0,
          (col("n") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy")) /
            (sqrt(col("_vx")) * sqrt(col("_vy")))))
        .select(col("g").as(groupCol), lit(lag).as("lag"),
          col("n").as("n_pairs"), round(col("acf"), 6).as("acf"))
    }.reduce(_ unionByName _)
  }

  /** Kendall's τ-b between an integer series x and a RATIONAL series
    * y = num/den, with y comparisons done by cross-multiplication
    * (num_a·den_b vs num_b·den_a — exact integers, no division, so a
    * ratio like "average ticket" never loses a tie to float noise).
    * Concordant/discordant/tie pair counts are exact BIGINTs from the
    * i < j self-join; τ-b = (C − D)/√((n₀−n₁)(n₀−n₂)). The rank
    * correlation that, unlike Spearman (q191), is directly a
    * probability statement (P(concordant) − P(discordant)).
    *
    * Scale shape: the self-join is |df|² pairs — meant for frames
    * already reduced to a BOUNDED key (calendar days, strata), never
    * the raw corpus; document the key, not the fact table. `denCol`
    * values must be positive. */
  def kendallTauRatio(df: DataFrame, keyCol: String, xCol: String,
                      numCol: String, denCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base = df.select(col(keyCol).cast("long").as("t"),
      col(xCol).cast("long").as("x"),
      col(numCol).cast("long").as("sn"),
      col(denCol).cast("long").as("sd"))
    val a = base.as("a"); val b = base.as("b")
    val pairs = a.join(b, col("a.t") < col("b.t"))
      .withColumn("dx", col("a.x") - col("b.x"))
      .withColumn("cy",
        d0(col("a.sn")) * col("b.sd") - d0(col("b.sn")) * col("a.sd"))
    val counted = pairs.agg(
      sum(when((col("dx") > 0 && col("cy") > 0) ||
        (col("dx") < 0 && col("cy") < 0), 1L).otherwise(0L)).as("c"),
      sum(when((col("dx") > 0 && col("cy") < 0) ||
        (col("dx") < 0 && col("cy") > 0), 1L).otherwise(0L)).as("d"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cy") === 0, 1L).otherwise(0L)).as("n2"))
    base.agg(count(lit(1)).as("n")).crossJoin(broadcast(counted))
      .withColumn("n0", expr("n * (n - 1) div 2"))
      .select(col("n"), col("n0"), col("c").as("concordant"),
        col("d").as("discordant"), col("n1").as("ties_x"),
        col("n2").as("ties_y"),
        when((col("n0") - col("n1")) * (col("n0") - col("n2")) > 0,
          round((col("c") - col("d")).cast("double") /
            sqrt(((col("n0") - col("n1")) *
              (col("n0") - col("n2"))).cast("double")), 6)).as("tau_b"))
  }

  /** Partial autocorrelation at lags 1–3 via the Durbin–Levinson
    * recursion — the AR-order reader on top of [[acfTable]]: PACF(k)
    * is the correlation at lag k AFTER the shorter lags are regressed
    * out, so an AR(1) process shows ρ decaying geometrically but PACF
    * cutting to ≈0 past lag 1. ρ_k uses the standard autocovariance
    * estimator on mean-centered values, exactly: e_t = n·x_t − S
    * (integer centering, the q451 trick), ρ_k = Σ e_t·e_{t+k} / Σ e_t²
    * (decimal sums, ONE double division), and the recursion
    * φ22 = (ρ2−ρ1²)/(1−ρ1²), φ21 = ρ1(1−φ22),
    * φ33 = (ρ3−φ21·ρ2−φ22·ρ1)/(1−φ21·ρ1−φ22·ρ2) is a fixed double
    * tree. Lag pairs join on calendar offset — gaps simply contribute
    * no pair, same convention as [[acfTable]].
    *
    * Scale shape: the corpus collapses to the per-(group, period)
    * frame upstream; three self-joins on that bounded frame. */
  def pacf(daily: DataFrame, groupCol: String, orderCol: String,
           vCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base0 = daily.select(col(groupCol).as("g"),
      col(orderCol).cast("long").as("t"), col(vCol).cast("long").as("v"))
    val tot = base0.groupBy("g").agg(count(lit(1)).as("n"),
      sum("v").as("s"))
    val e = base0.join(broadcast(tot), Seq("g"))
      .select(col("g"), col("t"), (col("n") * col("v") - col("s")).as("e"),
        col("n"))
      .transform(Lineage.cut(_, "Stats.pacf.e"))
    val c0 = e.groupBy("g").agg(max("n").as("n"),
      sum(d0(col("e")) * col("e")).as("c0"))
    def ck(k: Int) = e.select(col("g"), col("t"), col("e").as("ex"))
      .join(e.select(col("g"), (col("t") - k).as("t"), col("e").as("ey")),
        Seq("g", "t"))
      .groupBy("g").agg(sum(d0(col("ex")) * col("ey")).as(s"c$k"))
    val rho = c0.join(ck(1), Seq("g")).join(ck(2), Seq("g"))
      .join(ck(3), Seq("g"))
      .filter(col("c0") > 0)
      .withColumn("r1", col("c1").cast("double") / col("c0").cast("double"))
      .withColumn("r2", col("c2").cast("double") / col("c0").cast("double"))
      .withColumn("r3", col("c3").cast("double") / col("c0").cast("double"))
    val p22den = lit(1.0) - col("r1") * col("r1")
    val p22 = (col("r2") - col("r1") * col("r1")) / p22den
    rho
      .withColumn("p22", when(p22den =!= 0.0, p22))
      .withColumn("p21", col("r1") * (lit(1.0) - col("p22")))
      .withColumn("p33den",
        lit(1.0) - col("p21") * col("r1") - col("p22") * col("r2"))
      .select(col("g").as(groupCol), col("n").as("n_periods"),
        round(col("r1"), 6).as("rho1"), round(col("r2"), 6).as("rho2"),
        round(col("r3"), 6).as("rho3"),
        round(col("r1"), 6).as("pacf1"),
        round(col("p22"), 6).as("pacf2"),
        round(when(col("p33den") =!= 0.0,
          (col("r3") - col("p21") * col("r2") - col("p22") * col("r1")) /
            col("p33den")), 6).as("pacf3"))
  }

  /** Cochran's stratified adjustment (Cochran 1968): split units into
    * `nStrata` equal-count score strata (rank-based, deterministic
    * tie-break by id), take the within-stratum treated−control mean
    * gap, and weight by the TREATED distribution over strata —
    * Σ_q w_q·(ȳ_tq − ȳ_cq) with w_q = n_tq / n_t. The subclassification
    * answer to confounding that [[caliperMatchAtt]] solves by pairing:
    * five strata famously remove ~90% of the bias a linear confounder
    * can cause. Per-stratum means are exact-integer divisions; the
    * weighted combine decimal-accumulates. Strata missing either arm
    * are reported but excluded from the estimate (their gap is
    * undefined). One rank window + one rollup. */
  def stratifiedAtt(units: DataFrame, idCol: String, treatedCol: String,
                    scoreCol: String, yCol: String,
                    nStrata: Int): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val wAll = Window.partitionBy(lit(1))
    val ranked = units.select(col(idCol).cast("long").as("uid"),
        col(treatedCol).as("tr"), col(scoreCol).cast("long").as("sc"),
        col(yCol).cast("long").as("y"))
      .withColumn("_rn", row_number().over(
        Window.orderBy(col("sc"), col("uid"))).cast("long"))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("stratum",
        expr(s"((_rn - 1) * $nStrata) div _n").cast("int"))
    val per = ranked.groupBy("stratum")
      .agg(sum(when(col("tr"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("tr"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("tr"), col("y")).otherwise(0L)).as("_st"),
        sum(when(!col("tr"), col("y")).otherwise(0L)).as("_sc"))
      .withColumn("mean_t", when(col("n_t") > 0,
        col("_st").cast("double") / col("n_t")))
      .withColumn("mean_c", when(col("n_c") > 0,
        col("_sc").cast("double") / col("n_c")))
      .withColumn("gap", col("mean_t") - col("mean_c"))
    per
      .withColumn("_wt", sum(when(col("gap").isNotNull, col("n_t"))
        .otherwise(0L)).over(wAll))
      .withColumn("att_strat",
        sum(when(col("gap").isNotNull, d18(col("n_t") * col("gap"))))
          .over(wAll).cast("double") / col("_wt"))
      .select(col("stratum"), col("n_t"), col("n_c"),
        round(col("mean_t"), 6).as("mean_t"),
        round(col("mean_c"), 6).as("mean_c"),
        round(col("gap"), 6).as("gap"),
        round(col("att_strat"), 6).as("att_strat"))
  }

  /** Mean-excess (peak-over-threshold) tail table: at the exact
    * nearest-rank p90/p95/p99 thresholds, the exceedance count and the
    * mean excess E[X−u | X>u] — the empirical mean-excess function
    * whose SLOPE diagnoses the tail (increasing → heavy/Pareto-ish,
    * flat → exponential, decreasing → bounded), i.e. whether revenue
    * concentration risk lives in the tail the average hides. Thresholds
    * are exact rank statistics (tie-break by id); excess sums are exact
    * integers; one division per row. */
  def meanExcessTable(df: DataFrame, idCol: String, vCol: String,
                      pcts: Seq[Int] = Seq(90, 95, 99)): DataFrame = {
    val vals = df.select(col(idCol).cast("long").as("id"),
      col(vCol).cast("long").as("v"))
    val ranked = vals
      .withColumn("_rn", row_number().over(
        Window.orderBy(col("v"), col("id"))).cast("long"))
      .crossJoin(broadcast(vals.agg(count(lit(1)).as("_n"))))
      .transform(Lineage.cut(_, "Stats.meanExcessTable.ranked"))
    pcts.map { p =>
      val thr = ranked.filter(col("_rn") === expr(s"($p * _n + 99) div 100"))
        .select(col("v").as("u"))
      ranked.crossJoin(broadcast(thr))
        .filter(col("v") > col("u"))
        .agg(count(lit(1)).as("n_exceed"), sum(col("v") - col("u"))
          .as("_se"), max("u").as("u"), max("_n").as("_n"))
        .select(lit(p).as("pct"), col("u").as("threshold"),
          col("n_exceed"),
          round(col("_se").cast("double") / col("n_exceed"), 6)
            .as("mean_excess"),
          round(col("n_exceed").cast("double") / col("_n"), 6)
            .as("exceed_frac"))
    }.reduce(_ unionByName _)
  }

  /** Decile QQ-shift table: per group, the nine nearest-rank deciles of
    * `vCol` in the PRE vs POST split and their differences — the
    * distribution-shift readout that says WHERE the change lives
    * (a tail-only shift moves d8/d9 and leaves the median alone; a
    * uniform shift moves every decile equally), the quantile-resolved
    * companion to the scalar CvM/Mann-Whitney drift tests. Nearest
    * rank ⌈d·n/10⌉ = (d·n+9) div 10 — all integer; ties break by
    * `idCol` so both engines select the identical row. One rank window
    * per (group, half); the 9× decile explode filters map-side. */
  def qqShift(df: DataFrame, groupCol: String, preCol: String,
              vCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol, preCol)
      .orderBy(col(vCol), col(idCol))
    val ranked = df
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1))
        .over(Window.partitionBy(groupCol, preCol)))
    val dec = ranked
      .withColumn("d", explode(expr("sequence(1, 9)")))
      .filter(col("_rn") === expr("(d * _n + 9) div 10"))
    dec.groupBy(col(groupCol), col("d").cast("int").as("decile"))
      .agg(max(when(col(preCol), col(vCol))).as("v_pre"),
        max(when(!col(preCol), col(vCol))).as("v_post"))
      .withColumn("shift", col("v_post") - col("v_pre"))
  }

  /** Count-data overdispersion gate: per group the variance-to-mean
    * ratio (Fisher's index of dispersion) of an integer series — a
    * Poisson process sits at VMR ≈ 1; VMR ≫ 1 (clumping/bursts) means
    * Poisson-based alert thresholds and CIs are wrong and a negative-
    * binomial model (or the [[pageHinkley]]/burstiness monitors) should
    * own the series. All moments exact BIGINT/decimal sums; mean and
    * variance are fixed-parenthesization doubles; `overdispersed`
    * flags VMR > threshold. One groupBy. */
  def overdispersionGate(df: DataFrame, groupCol: String, vCol: String,
                         threshold: Double = 1.5): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    df.select(col(groupCol).as("g"), col(vCol).cast("long").as("v"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("_s"),
        sum(d0(col("v")) * col("v")).as("_s2"))
      .filter(col("n") > 1 && col("_s") > 0)
      .withColumn("mean_v", col("_s").cast("double") / col("n"))
      .withColumn("var_v",
        (col("_s2").cast("double") - col("_s").cast("double") *
          col("_s") / col("n")) / (col("n") - 1))
      .withColumn("vmr", col("var_v") / col("mean_v"))
      .select(col("g").as(groupCol), col("n"),
        round(col("mean_v"), 6).as("mean_v"),
        round(col("var_v"), 6).as("var_v"),
        round(col("vmr"), 6).as("vmr"),
        (col("vmr") > threshold).as("overdispersed"))
  }

  /** Exact median WITHOUT a global sort — the two-pass histogram
    * refinement that survives 100 TB: pass 1 collapses the corpus to a
    * `coarseBins`-bucket histogram (map-side partials, one tiny
    * shuffle), locates the bucket holding the lower-median rank
    * ⌈n/2⌉ and the residual rank within it; pass 2 rescans ONLY that
    * bucket's values (`n/coarseBins`-ish rows) and rank-selects the
    * residual. The single-task sort in pass 2 is over the one bucket,
    * not the corpus — the plan a global `orderBy + row_number` median
    * (fine at audit scale, q341) cannot offer. All arithmetic is
    * integer; returns one row with the median, the scanned-candidate
    * count and the scan fraction. */
  def twoPassMedian(df: DataFrame, vCol: String,
                    coarseBins: Int = 256): DataFrame = {
    val vals = df.select(col(vCol).cast("long").as("v"))
    val rng = vals.agg(min("v").as("mn"), max("v").as("mx"),
      count(lit(1)).as("nn"))
    val binned = vals.crossJoin(broadcast(rng))
      .withColumn("bin", expr(
        s"least($coarseBins - 1, ((v - mn) * $coarseBins) div (mx - mn + 1))"))
    val hist = binned.groupBy("bin").agg(count(lit(1)).as("f"))
      .withColumn("cum", sum("f").over(org.apache.spark.sql.expressions
        .Window.orderBy("bin")
        .rowsBetween(Long.MinValue, 0)))
      .crossJoin(broadcast(rng))
      .withColumn("k", expr("(nn + 1) div 2"))
    val target = hist.filter(col("cum") >= col("k"))
      .orderBy("bin").limit(1)
      .select(col("bin").as("tb"), (col("k") - (col("cum") - col("f")))
        .as("rk"), col("f").as("n_candidates"), col("nn"))
    binned.select("v", "bin")
      .join(broadcast(target), col("bin") === col("tb"))
      .withColumn("_rn", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy("v")))
      .filter(col("_rn") === col("rk"))
      .select(col("nn").as("n"), col("tb").as("coarse_bin"),
        col("rk").as("rank_in_bin"), col("n_candidates"),
        col("v").as("median"),
        round(col("n_candidates").cast("double") / col("nn"), 6)
          .as("scan_frac"))
  }

  /** Classic bilateral price indices (Laspeyres 1871 / Paasche 1874 /
    * Fisher 1922) between a base and a current period over the COMMON
    * item set: with per-(period, item) exact integer value (cents) and
    * quantity sums, the unit price p = value/qty is one double
    * division, and
    *
    *   L = Σ p₁q₀ / Σ p₀q₀,  P = Σ p₁q₁ / Σ p₀q₁,  F = √(L·P)
    *
    * — the "how much did prices move holding the basket fixed" numbers
    * a revenue decomposition needs (L fixes the OLD basket, P the NEW,
    * F is their geometric ideal-index compromise). Cross-item sums of
    * p·q doubles accumulate in decimal(38,18). One fact aggregate per
    * period, one item-level join, one rollup. */
  def priceIndices(df: DataFrame, periodCol: String, itemCol: String,
                   valueCentsCol: String, qtyCol: String,
                   basePeriod: String, curPeriod: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val per = df.groupBy(col(periodCol).as("p"), col(itemCol).as("item"))
      .agg(sum(col(valueCentsCol).cast("long")).as("v"),
        sum(col(qtyCol).cast("long")).as("q"))
      .withColumn("up", col("v").cast("double") / col("q"))
    val b = per.filter(col("p") === basePeriod)
      .select(col("item"), col("up").as("p0"), col("q").as("q0"))
    val c = per.filter(col("p") === curPeriod)
      .select(col("item"), col("up").as("p1"), col("q").as("q1"))
    b.join(c, Seq("item"))
      .agg(count(lit(1)).as("n_common_items"),
        sum(d18(col("p1") * col("q0"))).cast("double").as("_l1"),
        sum(d18(col("p0") * col("q0"))).cast("double").as("_l0"),
        sum(d18(col("p1") * col("q1"))).cast("double").as("_p1"),
        sum(d18(col("p0") * col("q1"))).cast("double").as("_p0"))
      .select(col("n_common_items"),
        round(col("_l1") / col("_l0"), 6).as("laspeyres"),
        round(col("_p1") / col("_p0"), 6).as("paasche"),
        round(sqrt(col("_l1") / col("_l0") * (col("_p1") / col("_p0"))),
          6).as("fisher"))
  }

  /** Sharp regression-discontinuity estimate (Thistlethwaite &
    * Campbell 1960; Imbens & Lemieux 2008) at an integer cutoff on the
    * running variable: separate OLS lines on [c−h, c) and [c, c+h],
    * treatment effect = ŷ_right(c) − ŷ_left(c). Recentering x at c
    * makes each side's intercept ITS fitted value at the cutoff, so
    * the effect is one subtraction of two closed-form OLS intercepts —
    * all moments exact BIGINT/HUGEINT sums, each coefficient one
    * fixed-parenthesization double tree (the [[Stats.segmentedTrend]]
    * SSE identity family). Returns one row: per-side n/slope/intercept
    * and the RD effect. Sides with degenerate variance report NULL. */
  def regressionDiscontinuity(units: DataFrame, xCol: String,
                              yCol: String, cutoff: Long,
                              bandwidth: Long): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base = units.select((col(xCol).cast("long") - cutoff).as("xc"),
        col(yCol).cast("long").as("y"))
      .filter(col("xc") >= -bandwidth && col("xc") < bandwidth)
      .withColumn("side", col("xc") >= 0)
    val per = base.groupBy("side")
      .agg(count(lit(1)).as("n"), sum("xc").as("sx"), sum("y").as("sy"),
        sum(d0(col("xc")) * col("xc")).as("sxx"),
        sum(d0(col("xc")) * col("y")).as("sxy"))
      .withColumn("_den", (col("n") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx")))
      .withColumn("slope", when(col("_den") =!= 0,
        (col("n") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy")) / col("_den")))
      .withColumn("icept", when(col("_den") =!= 0,
        (col("sy") - col("slope") * col("sx")).cast("double") / col("n")))
    val l = per.filter(!col("side")).select(col("n").as("n_left"),
      col("slope").as("slope_left"), col("icept").as("icept_left"))
    val r = per.filter(col("side")).select(col("n").as("n_right"),
      col("slope").as("slope_right"), col("icept").as("icept_right"))
    l.crossJoin(r).select(col("n_left"), col("n_right"),
      round(col("slope_left"), 6).as("slope_left"),
      round(col("slope_right"), 6).as("slope_right"),
      round(col("icept_left"), 6).as("icept_left"),
      round(col("icept_right"), 6).as("icept_right"),
      round(col("icept_right") - col("icept_left"), 6).as("rd_effect"))
  }

  /** Wald's sequential probability ratio test (Wald 1945) on a daily
    * Bernoulli stream per group: H0: p = p0 vs H1: p = p1, cumulative
    *
    *   LLR_t = Σ_{d≤t}  k_d·ln(p1/p0) + (n_d − k_d)·ln((1−p1)/(1−p0))
    *
    * stopping the first day LLR ≥ ln((1−β)/α) (accept H1) or
    * ≤ ln(β/(1−α)) (accept H0) — the always-valid sequential monitor
    * that, unlike a fixed-horizon z-test, can stop EARLY with both
    * error rates controlled. The four logarithms are of CONSTANTS, so
    * they are evaluated ONCE at plan-build time and embedded as double
    * literals in both engines (`Double.toString` round-trips
    * bit-exactly; the data-dependent arithmetic is ±·,+ only — the
    * libm-free discipline holds). Per-day terms are identical doubles;
    * the prefix sum decimal-accumulates.
    *
    * Returns one row per group: n_days, final LLR, first crossing day
    * for each boundary (NULL if never) and the decision string.
    * Scale shape: one shuffle to daily grain, one window per group. */
  def sprtBernoulli(df: DataFrame, groupCol: String, orderCol: String,
                    nCol: String, kCol: String, p0: Double, p1: Double,
                    alpha: Double, beta: Double): DataFrame = {
    val l1 = math.log(p1 / p0)
    val l0 = math.log((1.0 - p1) / (1.0 - p0))
    val a = math.log((1.0 - beta) / alpha)
    val b = math.log(beta / (1.0 - alpha))
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = df
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_term", d18(col(kCol) * lit(l1) +
        (col(nCol) - col(kCol)) * lit(l0)))
      .withColumn("_llr", sum(col("_term")).over(wCum).cast("double"))
    cum.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"),
        max(struct(col("_i").as("i"), col("_llr").as("l"))).as("_last"),
        min(when(col("_llr") >= lit(a), col("_i"))).as("day_h1"),
        min(when(col("_llr") <= lit(b), col("_i"))).as("day_h0"))
      .select(col(groupCol), col("n_days"),
        round(col("_last").getField("l"), 6).as("llr_final"),
        col("day_h1"), col("day_h0"),
        when(col("day_h1").isNull && col("day_h0").isNull, "continue")
          .when(col("day_h0").isNull ||
            (col("day_h1").isNotNull && col("day_h1") < col("day_h0")),
            "accept_h1")
          .otherwise("accept_h0").as("decision"))
  }

  /** UCB1 bandit replay (Auer, Cesa-Bianchi & Fischer 2002) over a
    * 3-arm daily reward log, full-information offline: each day t the
    * policy plays arm argmax_a  s_a/n_a + sqrt(2·⌊log2 T⌋ / n_a)
    * (first three days initialize arms 0,1,2; ties → smaller arm), then
    * observes that arm's logged reward. The exploration bonus uses the
    * INTEGER floor-log2 (`length(bin(T)) − 1`) instead of ln — the
    * repo's libm-free discipline; same O(√(log t / n)) shape, slightly
    * more conservative exploration. The whole replay is one left fold
    * with struct state (per-arm counts/sums + cumulative reward),
    * executed as `aggregate(array_sort(collect_list(...)))` here and a
    * recursive CTE in the oracle (struct-state `list_reduce` is
    * broken in DuckDB 1.0 — see NOTES) — identical arithmetic either
    * way. Regret is measured against the best FIXED arm in hindsight
    * (per-arm reward totals decimal-accumulated).
    *
    * Input grain: one row per (group, orderCol) with the three arm
    * rewards as columns (missing arm-days must already be coalesced).
    * Scale shape: one groupBy to per-group ordered arrays (bounded:
    * days), fold is map-side. */
  def ucb1Replay(df: DataFrame, groupCol: String, orderCol: String,
                 r0Col: String, r1Col: String, r2Col: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val folded = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_days"),
        sum(d18(col(r0Col))).cast("double").as("tot0"),
        sum(d18(col(r1Col))).cast("double").as("tot1"),
        sum(d18(col(r2Col))).cast("double").as("tot2"),
        aggregate(
          array_sort(collect_list(struct(col(orderCol).as("o"),
            col(r0Col).cast("double").as("r0"),
            col(r1Col).cast("double").as("r1"),
            col(r2Col).cast("double").as("r2")))),
          struct(lit(0L).as("t"), lit(0L).as("n0"), lit(0.0).as("s0"),
            lit(0L).as("n1"), lit(0.0).as("s1"), lit(0L).as("n2"),
            lit(0.0).as("s2"), lit(0.0).as("cum")),
          (a, x) => {
            val t = a.getField("t") + 1
            def bonus(n: Column): Column =
              sqrt(lit(2.0) * (length(bin(a.getField("t"))) - 1) / n)
            val u0 = a.getField("s0") / a.getField("n0") +
              bonus(a.getField("n0"))
            val u1 = a.getField("s1") / a.getField("n1") +
              bonus(a.getField("n1"))
            val u2 = a.getField("s2") / a.getField("n2") +
              bonus(a.getField("n2"))
            val pick = when(t === 1, 0L).when(t === 2, 1L)
              .when(t === 3, 2L)
              .otherwise(when(u0 >= u1 && u0 >= u2, 0L)
                .when(u1 >= u2, 1L).otherwise(2L))
            val r = when(pick === 0, x.getField("r0"))
              .when(pick === 1, x.getField("r1"))
              .otherwise(x.getField("r2"))
            struct(t.as("t"),
              (a.getField("n0") + when(pick === 0, 1L).otherwise(0L))
                .as("n0"),
              (a.getField("s0") + when(pick === 0, x.getField("r0"))
                .otherwise(lit(0.0))).as("s0"),
              (a.getField("n1") + when(pick === 1, 1L).otherwise(0L))
                .as("n1"),
              (a.getField("s1") + when(pick === 1, x.getField("r1"))
                .otherwise(lit(0.0))).as("s1"),
              (a.getField("n2") + when(pick === 2, 1L).otherwise(0L))
                .as("n2"),
              (a.getField("s2") + when(pick === 2, x.getField("r2"))
                .otherwise(lit(0.0))).as("s2"),
              (a.getField("cum") + r).as("cum"))
          }).as("_st"))
    folded.select(col(groupCol), col("n_days"),
      col("_st").getField("n0").as("n_pulls_0"),
      col("_st").getField("n1").as("n_pulls_1"),
      col("_st").getField("n2").as("n_pulls_2"),
      round(col("_st").getField("cum"), 6).as("cum_reward"),
      round(greatest(col("tot0"), col("tot1"), col("tot2")), 6)
        .as("best_fixed"),
      round(greatest(col("tot0"), col("tot1"), col("tot2")) -
        col("_st").getField("cum"), 6).as("regret"))
  }

  /** Single-changepoint segmented-trend fit per group: the split k that
    * minimises SSE(left OLS line) + SSE(right OLS line) over the
    * `orderCol`-indexed series — the piecewise complement of
    * [[cusumChangepoint]] (level shifts) and [[pageHinkley]] (online
    * drift): this one finds where the TREND breaks. Each candidate
    * split's two SSEs come from exact BIGINT prefix sums
    * (Sx, Sy, Sxx, Sxy, Syy) via the textbook identity
    * SSE = Syy − Sy²/n − (Sxy − Sx·Sy/n)² / (Sxx − Sx²/n), so every
    * candidate is a handful of identical-tree double divisions — no
    * per-row residual passes, O(n) candidates from one window.
    * Segments shorter than `minSeg` are not considered (OLS on 1-2
    * points is vacuously perfect). Ties break on the smaller k.
    *
    * Returns one row per group: n, best split position k (right
    * segment starts at k+1), the two segment SSEs, the single-line
    * SSE, and the explained-drop ratio. */
  def segmentedTrend(df: DataFrame, groupCol: String, orderCol: String,
                     yCol: String, minSeg: Int = 5): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    val pre = df
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_y", col(yCol).cast("long"))
      .withColumn("sx", sum("_i").over(wCum))
      .withColumn("sy", sum("_y").over(wCum))
      .withColumn("sxx", sum(col("_i") * col("_i")).over(wCum))
      .withColumn("sxy", sum(col("_i") * col("_y")).over(wCum))
      .withColumn("syy", sum(col("_y") * col("_y")).over(wCum))
      .withColumn("tn", max(col("_i")).over(wAll))
      .withColumn("tsx", sum("_i").over(wAll))
      .withColumn("tsy", sum("_y").over(wAll))
      .withColumn("tsxx", sum(col("_i") * col("_i")).over(wAll))
      .withColumn("tsxy", sum(col("_i") * col("_y")).over(wAll))
      .withColumn("tsyy", sum(col("_y") * col("_y")).over(wAll))
    def sse(n: Column, sx: Column, sy: Column, sxx: Column, sxy: Column,
            syy: Column): Column = {
      val vx = sxx.cast("double") - sx.cast("double") * sx / n
      val cxy = sxy.cast("double") - sx.cast("double") * sy / n
      val vy = syy.cast("double") - sy.cast("double") * sy / n
      // SSE ≥ 0 mathematically; clamp the float residue (−0.0 hazard)
      greatest(lit(0.0), when(vx > 0, vy - cxy * cxy / vx).otherwise(vy))
    }
    val scored = pre
      .filter(col("_i") >= minSeg && col("_i") <= col("tn") - minSeg)
      .withColumn("sse_left", sse(col("_i"), col("sx"), col("sy"),
        col("sxx"), col("sxy"), col("syy")))
      .withColumn("sse_right", sse(col("tn") - col("_i"),
        col("tsx") - col("sx"), col("tsy") - col("sy"),
        col("tsxx") - col("sxx"), col("tsxy") - col("sxy"),
        col("tsyy") - col("syy")))
      .withColumn("sse_split", col("sse_left") + col("sse_right"))
      .withColumn("sse_single", sse(col("tn"), col("tsx"), col("tsy"),
        col("tsxx"), col("tsxy"), col("tsyy")))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(groupCol).orderBy(col("sse_split"), col("_i"))))
      .filter(col("_rk") === 1)
    scored.select(col(groupCol), col("tn").as("n"),
      col("_i").as("best_k"),
      round(col("sse_left"), 6).as("sse_left"),
      round(col("sse_right"), 6).as("sse_right"),
      round(col("sse_single"), 6).as("sse_single"),
      round(when(col("sse_single") > 0, greatest(lit(0.0),
        (col("sse_single") - col("sse_split")) / col("sse_single"))), 6)
        .as("drop_ratio"))
  }

  /** One-way ANOVA F over an INTEGER-valued metric: the parametric
    * k-sample mean test beside [[kruskalWallis]]'s rank version and
    * [[brownForsythe]]'s variance gate. Per-group sums S_g and the
    * global Σv² are exact decimals, so SSB = Σ S_g²/n_g − S²/n and
    * SSW = Σv² − Σ S_g²/n_g assemble from the sum-of-squares identities
    * with one double division per term, summed back through
    * decimal(38,18) for order independence. Output one row:
    * (n, k, df1, df2, ss_between, ss_within, f, eta_sq).
    *
    * Scale shape: a single map-side-combinable groupBy over the fact —
    * no windows, no sorts; the classic "is this metric flat across
    * arms/sources/partitions" screen at any corpus size. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val gs = base.groupBy("g").agg(count(lit(1)).as("n_g"),
      sum(d0(col("v"))).as("s_g"),
      sum(d0(col("v")) * col("v")).as("ss_g"))
    gs
      // T_g = S_g²/n_g: decimal square (exact), one double division
      .withColumn("term",
        (d0(col("s_g")) * col("s_g")).cast("double") / col("n_g"))
      .agg(sum("n_g").as("n"), count(lit(1)).as("k"),
        sum(col("s_g")).as("s"), sum(col("ss_g")).cast("double").as("ssq"),
        sum(d18(col("term"))).cast("double").as("t_sum"))
      .withColumn("corr_term",
        (d0(col("s")) * col("s")).cast("double") / col("n"))
      .withColumn("ss_between", col("t_sum") - col("corr_term"))
      .withColumn("ss_within", col("ssq") - col("t_sum"))
      .withColumn("ss_total", col("ssq") - col("corr_term"))
      .select(col("n"), col("k"), (col("k") - 1).as("df1"),
        (col("n") - col("k")).as("df2"),
        round(col("ss_between"), 6).as("ss_between"),
        round(col("ss_within"), 6).as("ss_within"),
        when(col("ss_within") > 0 && col("k") > 1,
          round((col("ss_between") / (col("k") - 1)) /
            (col("ss_within") / (col("n") - col("k"))), 6)).as("f"),
        when(col("ss_total") > 0,
          round(col("ss_between") / col("ss_total"), 6)).as("eta_sq"))
  }

  /** Wilcoxon signed-rank test on paired INTEGER differences: given one
    * row per pair with its difference d, drops d = 0 (the standard
    * convention), midranks |d| on the doubled-rank integer lattice
    * (r2 = 2·rank, exact under ties — the [[kruskalWallis]] trick), and
    * reports W+ with the tie-corrected normal z
    * z = (2W+ − n(n+1)/2·2/2 …) assembled entirely from exact BIGINTs:
    * z = (S2 − n(n+1)/2) / √((2n(n+1)(2n+1) − Σ(t³−t)) / 12), where
    * S2 = Σ r2 over positive d. The paired complement to the
    * independent-sample [[welchTTest]]/[[mannWhitney–AUC]] family.
    *
    * Scale shape: one histogram groupBy over |d| + one cumulative window
    * over DISTINCT |d| values (bounded by the value domain, not n). */
  def wilcoxonSignedRank(pairs: DataFrame, diffCol: String): DataFrame = {
    val base = pairs.select(col(diffCol).cast("long").as("d"))
      .filter(col("d") =!= 0L)
      .withColumn("ad", abs(col("d")))
    val perV = base.groupBy("ad").agg(count(lit(1)).as("t"),
      sum(when(col("d") > 0, 1L).otherwise(0L)).as("t_pos"))
    val wOrd = Window.orderBy("ad")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .withColumn("below", coalesce(sum("t").over(wOrd), lit(0L)))
      .withColumn("r2", lit(2L) * col("below") + col("t") + 1)
    ranked.agg(sum("t").as("n"),
        sum(col("t_pos") * col("r2")).as("s2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie"))
      .withColumn("mean2", expr("n * (n + 1) div 2"))
      .withColumn("var12",
        lit(2L) * col("n") * (col("n") + 1) * (lit(2L) * col("n") + 1) -
          col("tie"))
      .select(col("n").as("n_pairs"),
        (col("s2").cast("double") / 2.0).as("w_plus"),
        round(when(col("var12") > 0,
          (col("s2") - col("mean2")).cast("double") /
            sqrt(col("var12").cast("double") / 12.0)), 6).as("z"))
  }

  /** Instrumental-variable (Wald) estimator for a BINARY instrument:
    * given one row per unit with instrument z ∈ {0,1}, an integer
    * treatment-intensity x, and an integer outcome y, the local average
    * treatment effect is β = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) — reduced form over first
    * stage. Also reports the first-stage F (the squared pooled-variance
    * two-sample t of x on z): the weak-instrument gate (F ≳ 10) that
    * decides whether β is readable at all. The causal complement to
    * q323's DiD and q406's doubly-robust scorer when treatment is
    * self-selected but an encouragement/assignment hash is exogenous.
    * All moments are exact decimal sums; β and F are fixed double trees.
    *
    * Scale shape: two map-side-combinable single-row aggregates (one per
    * arm) — no shuffles beyond the final combine. */
  def ivWald(df: DataFrame, zCol: String, xCol: String,
             yCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    def side(v: Int, sfx: String) = df
      .filter(col(zCol).cast("long") === v)
      .agg(count(lit(1)).as(s"n_$sfx"),
        sum(d0(col(xCol))).cast("double").as(s"sx_$sfx"),
        sum(d0(col(yCol))).cast("double").as(s"sy_$sfx"),
        sum(d0(col(xCol)) * col(xCol)).cast("double").as(s"sxx_$sfx"))
    def m(num: String, sfx: String) = col(s"${num}_$sfx") / col(s"n_$sfx")
    val fs = m("sx", "a") - m("sx", "b")
    val rf = m("sy", "a") - m("sy", "b")
    def ssx(sfx: String) = col(s"sxx_$sfx") -
      col(s"sx_$sfx") * col(s"sx_$sfx") / col(s"n_$sfx")
    val sp2 = (ssx("a") + ssx("b")) / (col("n_a") + col("n_b") - 2)
    side(1, "a").crossJoin(side(0, "b"))
      .select(col("n_a").as("n_encouraged"), col("n_b").as("n_control"),
        round(fs, 6).as("first_stage"),
        round(rf, 6).as("reduced_form"),
        when(fs =!= 0.0, round(rf / fs, 6)).as("beta_iv"),
        when(sp2 > 0 && col("n_a") + col("n_b") > 2,
          round((fs * fs) /
            (sp2 * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
          .as("first_stage_f"))
  }

  /** Cochran's Q test over COMPLETE binary blocks: one row per
    * (block, treatment) with x ∈ {0,1} — did the unit exhibit the
    * behavior under that treatment? Q = (k−1)·Σ_j(k·C_j − N)² /
    * (k·(k·N − Σ_i R_i²)), the k²-cleared form in which every term is an
    * exact BIGINT (C_j = treatment totals, R_i = block totals, N = ΣR).
    * The k-treatment generalization of McNemar (q388) and the binary
    * sibling of [[friedman]]; all-0/all-k blocks are Q-invariant and
    * reported separately as non-informative.
    *
    * Scale shape: two map-side-combinable groupBys over the cells frame
    * (blocks × k rows) — nothing block-sorted, no windows. */
  def cochranQ(cells: DataFrame, blockCol: String, treatCol: String,
               xCol: String): DataFrame = {
    val base = cells.select(col(blockCol).as("b"), col(treatCol).as("j"),
      col(xCol).cast("long").as("x"))
    val kt = base.agg(countDistinct("j").as("k"))
    val rb = base.groupBy("b").agg(sum("x").as("r"))
      .crossJoin(broadcast(kt))
    val tot = rb.agg(max("k").as("k"), sum("r").as("nn"),
      sum(col("r") * col("r")).as("rr"), count(lit(1)).as("n_blocks"),
      sum(when(col("r") > 0 && col("r") < col("k"), 1L).otherwise(0L))
        .as("n_informative"))
    val cj = base.groupBy("j").agg(sum("x").as("c"))
    cj.crossJoin(broadcast(tot))
      .withColumn("dev", col("k") * col("c") - col("nn"))
      .groupBy("k", "nn", "rr", "n_blocks", "n_informative")
      .agg(sum(col("dev") * col("dev")).as("num"))
      .withColumn("den", col("k") * (col("k") * col("nn") - col("rr")))
      .select(col("n_blocks"), col("n_informative"), col("k"),
        (col("k") - 1).as("df"),
        when(col("den") > 0,
          round(((col("k") - 1) * col("num")).cast("double") /
            col("den").cast("double"), 6)).as("q"))
  }

  /** Pairwise standardized effect sizes over an INTEGER metric: for every
    * ordered pair of arms, Cohen's d on the pooled SD and the
    * small-sample-corrected Hedges' g (J = 1 − 3/(4·df − 1), the rational
    * approximation — no gamma function, so it replays exactly). The
    * magnitude readout that [[welchTTest]]/[[anovaF]] significance alone
    * doesn't give: at 100 TB everything is "significant"; d says whether
    * anyone should care.
    *
    * Scale shape: one groupBy over the fact → an arms-sized frame; the
    * pair join is arms², driver-scale. */
  def effectSizes(df: DataFrame, armCol: String,
                  valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val gs = df.select(col(armCol).as("arm"),
        col(valueCol).cast("long").as("v"))
      .groupBy("arm").agg(count(lit(1)).as("n"),
        sum(d0(col("v"))).cast("double").as("sv"),
        sum(d0(col("v")) * col("v")).cast("double").as("svv"))
    def mean(p: String) = col(s"${p}.sv") / col(s"${p}.n")
    def variance(p: String) = (col(s"${p}.svv") -
      col(s"${p}.sv") * col(s"${p}.sv") / col(s"${p}.n")) /
      (col(s"${p}.n") - 1)
    val a = gs.as("a"); val b = gs.as("b")
    val sp2 = ((col("a.n") - 1) * variance("a") +
      (col("b.n") - 1) * variance("b")) / (col("a.n") + col("b.n") - 2)
    val d = (mean("a") - mean("b")) / sqrt(sp2)
    val j = lit(1.0) -
      lit(3.0) / (lit(4.0) * (col("a.n") + col("b.n") - 2) - lit(1.0))
    a.join(b, col("a.arm") < col("b.arm"))
      .select(col("a.arm").as("arm_a"), col("b.arm").as("arm_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        round(mean("a"), 6).as("mean_a"), round(mean("b"), 6).as("mean_b"),
        when(sp2 > 0, round(d, 6)).as("cohen_d"),
        when(sp2 > 0, round(j * d, 6)).as("hedges_g"))
      .orderBy("arm_a", "arm_b")
  }

  /** Friedman test over COMPLETE blocks: given one row per
    * (block, treatment) with an exact integer value, keeps only blocks
    * observing all k treatments, midranks values WITHIN each block
    * (r2 = 2·rank integers), and computes the tie-general statistic
    * χ²_F = (k−1)·Σ_j (R2_j − n(k+1))² / (Σ r2² − n·k(k+1)²) — the
    * ×4-cleared form in which every term is an exact BIGINT — plus
    * Kendall's W = χ² / (n(k−1)). The repeated-measures companion to
    * [[kruskalWallis]] (which assumes independent groups).
    *
    * Scale shape: ranks are per-block windows over k rows each (k tiny);
    * everything else is one aggregate. */
  def friedman(cells: DataFrame, blockCol: String, treatCol: String,
               valueCol: String): DataFrame = {
    val base = cells.select(col(blockCol).as("b"), col(treatCol).as("j"),
      col(valueCol).cast("long").as("v"))
    val kTot = base.agg(countDistinct("j").as("k"))
    val complete = base
      .withColumn("n_b", count(lit(1)).over(Window.partitionBy("b")))
      .crossJoin(broadcast(kTot))
      .filter(col("n_b") === col("k"))
    // below-count via rank()−1, NOT a ROWS-frame count: under tied v the
    // ROWS frame is row-order-dependent; rank() is deterministic
    val wBlk = Window.partitionBy("b").orderBy("v")
    val wTie = Window.partitionBy("b", "v")
    val ranked = complete
      .withColumn("below", rank().over(wBlk).cast("long") - 1)
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("r2", lit(2L) * col("below") + col("t") + 1)
    val perJ = ranked.groupBy("j").agg(max("k").as("k"),
      count(lit(1)).as("n"), sum("r2").as("rj2"),
      sum(col("r2") * col("r2")).as("rsq2"))
    perJ
      .withColumn("dev", col("rj2") - col("n") * (col("k") + 1))
      .agg(max("n").as("n"), max("k").as("k"),
        sum(col("dev") * col("dev")).as("num"),
        sum("rsq2").as("ssr2"))
      .withColumn("den",
        col("ssr2") - col("n") * col("k") * (col("k") + 1) * (col("k") + 1))
      .select(col("n").as("n_blocks"), col("k"),
        (col("k") - 1).as("df"),
        round(when(col("den") > 0,
          ((col("k") - 1) * col("num")).cast("double") /
            col("den").cast("double")), 6).as("chi2_f"),
        round(when(col("den") > 0,
          ((col("k") - 1) * col("num")).cast("double") /
            col("den").cast("double") /
            (col("n") * (col("k") - 1)).cast("double")), 6).as("kendall_w"))
  }

  /** Per-group 1-Wasserstein (earth-mover) distance between two slices
    * of an INTEGER metric — the drift number with units (same units as
    * the metric: "the distributions are $W1 apart on average"), which
    * the existing drift family lacks: KS is a sup of CDF gaps, CvM/AD
    * square them, PSI/JS bin them; W1 INTEGRATES the gap over the value
    * axis, so a uniform small shift scores proportionally to the shift
    * size instead of saturating.
    *
    * On the real line W1(a,b) = ∫|F_a − F_b| dx, which over pooled
    * distinct values x_k with gap g_k = x_{k+1} − x_k is exactly
    * Σ_k |F_a(x_k) − F_b(x_k)|·g_k. With integer values and integer
    * counts the numerator Σ |c_a·n_b − c_b·n_a|·g_k is an EXACT decimal
    * (c = cumulative count); the only float op is the final divide by
    * n_a·n_b. Beyond the last pooled value both CDFs are 1, so the
    * null-lead row drops.
    *
    * Scale shape: one (group, value) count aggregate (map-side
    * combinable), one per-group ordered window pass for the cumulative
    * counts and the lead gap, one per-group fold. No joins; the window
    * partitions by group, so no global sort. */
  def wasserstein1(df: DataFrame, groupCol: String, sideCol: String,
                   vCol: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val counts = df
      .select(col(groupCol).as("g"), col(sideCol).cast("boolean").as("b"),
        col(vCol).cast("long").as("x"))
      .groupBy("g", "x")
      .agg(sum(when(col("b"), 0L).otherwise(1L)).as("da"),
        sum(when(col("b"), 1L).otherwise(0L)).as("db"))
    val wCum = Window.partitionBy("g").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    val wLead = Window.partitionBy("g").orderBy("x")
    counts
      .withColumn("ca", sum("da").over(wCum))
      .withColumn("cb", sum("db").over(wCum))
      .withColumn("na", sum("da").over(wAll))
      .withColumn("nb", sum("db").over(wAll))
      .withColumn("gap", lead(col("x"), 1).over(wLead) - col("x"))
      .filter(col("gap").isNotNull)
      .groupBy(col("g"))
      .agg(max("na").as("n_a"), max("nb").as("n_b"),
        sum(abs(d38(col("ca")) * col("nb") - d38(col("cb")) * col("na")) *
          col("gap")).as("_num"))
      .withColumn("w1", round(col("_num").cast("double") /
        (col("n_a").cast("double") * col("n_b").cast("double")), 6))
      .select(col("g").as(groupCol), col("n_a"), col("n_b"), col("w1"))
  }

  /** Fixed-window matrix-profile motif search over an evenly-spaced
    * integer series (Yeh et al. 2016, ICDM "Matrix Profile I" — here the
    * exact-integer plain-Euclidean variant): every length-`m` window is
    * compared to every non-overlapping window, distance² = Σ_t
    * (x_{a+t} − x_{b+t})² an EXACT bigint, and the top-`k` closest pairs
    * (a < b, |a−b| ≥ m, ties by (a, b)) are the repeated motifs —
    * recurring hourly traffic shapes, recurring weekly load patterns.
    * Plain (un-normalized) distance is deliberate: on a stationary count
    * series amplitude IS signal, and it keeps every op exact.
    *
    * Scale shape: the series is an AGGREGATE (one point per bucket), so
    * n = #buckets, bounded by the time span, not the corpus. Windows
    * materialize once via one ordered window pass (collect_list over a
    * ROWS frame); the pair frame is the n²/2 self-join of m-length
    * arrays — bounded by span², never by input rows; the fold per pair
    * is a map-side zip_with/aggregate. TakeOrdered caps the output. */
  def matrixProfileMotifs(series: DataFrame, tCol: String, vCol: String,
                          m: Int, k: Int): DataFrame = {
    require(m >= 2 && k >= 1, "need m >= 2 and k >= 1")
    val wWin = Window.orderBy("t")
      .rowsBetween(Window.currentRow, m - 1)
    val wins = series
      .select(col(tCol).cast("long").as("t"), col(vCol).cast("long").as("v"))
      .withColumn("win", collect_list("v").over(wWin))
      .filter(size(col("win")) === m)
      .select(col("t"), col("win"))
    val pairs = wins.select(col("t").as("ta"), col("win").as("wa"))
      .join(wins.select(col("t").as("tb"), col("win").as("wb")),
        col("ta") < col("tb") && col("tb") - col("ta") >= m)
      .withColumn("dist2", aggregate(
        zip_with(col("wa"), col("wb"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, d) => acc + d))
    pairs.orderBy(col("dist2").asc, col("ta").asc, col("tb").asc).limit(k)
      .select(col("ta"), col("tb"), col("dist2"))
  }

  /** Two-round L2 gradient-boosted stumps from SUFFICIENT STATISTICS
    * only: round 1 fits the best single split on `f1Col` (the q384
    * stump idea, SSE-scored), round 2 fits a stump on `f2Col` to
    * round-1's residuals — WITHOUT ever materializing a per-row
    * residual. The enabling identities:
    *   - split score: argmin SSE ≡ argmax S_L²/n_L + S_R²/n_R, with
    *     S, n exact decimal/bigint corpus sums — the score is a fixed
    *     double tree over exact integers, identical in any engine, so
    *     the argmax (ties → smaller threshold) replays;
    *   - round-2 sufficient stats: Σ residual over an f2-slice is
    *     Σ r = Σy − nL·(S_L/n_L) − nR·(S_R/n_R) (nL/nR = slice rows in
    *     each round-1 leaf), so per f2 value only {count, Σy, #left}
    *     need aggregating — all SMALL exact integers — and Σ r builds
    *     from them in a fixed double tree, and
    *   - SSE chaining: mse₂·N = Σy² − (S_L²/n_L + S_R²/n_R)
    *     − ((Σr_L)²/m_L + (Σr_R)²/m_R) — squares of residuals never
    *     appear.
    * Output: one row per round with the chosen threshold, the two leaf
    * values (round 2's are residual CORRECTIONS), and the training MSE
    * after the round (round 6).
    *
    * Parity bound: every exact sum that converts to double must stay
    * below 2^53 (DuckDB's int128→double is NOT correctly rounded above
    * 2^64 — measured 2-ulp error; Java's BigDecimal is exact-rounded) —
    * feed the target in units that keep Σy² under that (dollars, not
    * cents, at bench scale).
    *
    * Scale shape: per round one (feature value → sufficient stats)
    * aggregate (map-side combinable) + an ordered prefix-sum window
    * over DISTINCT feature values (bounded by feature cardinality),
    * argmax via TakeOrdered(1), then a broadcast of the 1-row split
    * onto the next round's aggregate. Two fact passes total. */
  def boostedStumps(df: DataFrame, f1Col: String, f2Col: String,
                    yCol: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    // best split of pre-aggregated (f, n, s[, extra...]) rows: adds
    // cumulative/total columns and returns the argmax row
    def bestSplit(per: DataFrame): DataFrame = {
      val wCum = Window.orderBy("f")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      per
        .withColumn("n_l", sum("n").over(wCum))
        .withColumn("s_l", sum("s").over(wCum))
        .withColumn("n_r", sum("n").over(wAll) - col("n_l"))
        .withColumn("s_r", sum("s").over(wAll) - col("s_l"))
        .filter(col("n_r") > 0)
        .withColumn("score",
          dd(col("s_l")) * dd(col("s_l")) / col("n_l") +
            dd(col("s_r")) * dd(col("s_r")) / col("n_r"))
        .orderBy(col("score").desc, col("f").asc).limit(1)
    }
    val base = df.select(col(f1Col).cast("long").as("f1"),
      col(f2Col).cast("long").as("f2"), col(yCol).cast("long").as("y"))
    val b1 = bestSplit(
      base.groupBy(col("f1").as("f"))
        .agg(count(lit(1)).as("n"), sum(d38(col("y"))).as("s")))
      .select(col("f").as("thr1"), col("n_l").as("n1l"),
        col("s_l").as("s1l"), col("n_r").as("n1r"), col("s_r").as("s1r"),
        col("score").as("fit1"))
    val glob = base.agg(count(lit(1)).as("nn"),
      sum(d38(col("y")) * col("y")).as("syy"))
    // round 2: per f2 value only {count, Σy, #rows in round-1 left
    // leaf} — small exact integers; Σ residual over any prefix/suffix
    // then builds from them as a fixed double tree
    val per2 = base.crossJoin(broadcast(b1))
      .groupBy(col("f2").as("f"))
      .agg(count(lit(1)).as("n"), sum(d38(col("y"))).as("sy"),
        sum(when(col("f1") <= col("thr1"), 1L).otherwise(0L)).as("inl"))
    val wCum2 = Window.orderBy("f")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll2 = Window.partitionBy(lit(1))
    // Σr over a slice with m rows, sy = Σy, a rows in round-1 left:
    // Σr = sy − a·(s1l/n1l) − (m − a)·(s1r/n1r), every factor an exact
    // small integer converted once
    def rsum(sy: Column, a: Column, m: Column): Column =
      dd(sy) - dd(a) * (dd(col("s1l")) / col("n1l")) -
        dd(m - a) * (dd(col("s1r")) / col("n1r"))
    val b2 = per2
      .withColumn("m_l", sum("n").over(wCum2))
      .withColumn("sy_l", sum("sy").over(wCum2))
      .withColumn("a_l", sum("inl").over(wCum2))
      .withColumn("m_r", sum("n").over(wAll2) - col("m_l"))
      .withColumn("sy_r", sum("sy").over(wAll2) - col("sy_l"))
      .withColumn("a_r", sum("inl").over(wAll2) - col("a_l"))
      .filter(col("m_r") > 0)
      .crossJoin(broadcast(b1.select("s1l", "n1l", "s1r", "n1r")))
      .withColumn("rl", rsum(col("sy_l"), col("a_l"), col("m_l")))
      .withColumn("rr", rsum(col("sy_r"), col("a_r"), col("m_r")))
      .withColumn("score2",
        col("rl") * col("rl") / col("m_l") +
          col("rr") * col("rr") / col("m_r"))
      .orderBy(col("score2").desc, col("f").asc).limit(1)
      .select(col("f").as("thr2"), col("m_l").as("n2l"),
        col("rl"), col("m_r").as("n2r"), col("rr"))
    val all = b1.crossJoin(broadcast(b2)).crossJoin(broadcast(glob))
      .withColumn("mse1", (dd(col("syy")) - col("fit1")) / col("nn"))
      .withColumn("mse2", (dd(col("syy")) - col("fit1") -
        (col("rl") * col("rl") / col("n2l") +
          col("rr") * col("rr") / col("n2r"))) / col("nn"))
    val r1 = all.select(lit(1).as("round"), col("thr1").as("thr"),
      round(dd(col("s1l")) / col("n1l"), 6).as("leaf_lo"),
      round(dd(col("s1r")) / col("n1r"), 6).as("leaf_hi"),
      round(col("mse1"), 6).as("mse"))
    val r2 = all.select(lit(2).as("round"), col("thr2").as("thr"),
      round(col("rl") / col("n2l"), 6).as("leaf_lo"),
      round(col("rr") / col("n2r"), 6).as("leaf_hi"),
      round(col("mse2"), 6).as("mse"))
    r1.unionByName(r2).orderBy("round")
  }

  /** Hierarchical-forecast coherence audit with MEDIAN base forecasts
    * (Hyndman's reconciliation problem in its sharpest exact form):
    * per child series the forecast is the exact median of its last
    * `window` ticks (window odd → the middle order statistic, an
    * integer), the parent gets (a) the DIRECT median of its own total
    * series and (b) the BOTTOM-UP sum of child medians — and because
    * medians don't add, the two disagree; `gap` is the incoherence a
    * reconciliation step would have to distribute. With mean forecasts
    * the gap is identically 0 (means add), which is precisely why this
    * audit matters the moment a pipeline upgrades to robust/quantile
    * forecasts. Missing (child, tick) cells count as 0 — the grid is
    * completed before ranking, or medians of sparse children would be
    * silently biased up.
    *
    * All values exact integers (medians = rank-(w+1)/2 order
    * statistics, ties broken by tick). Scale: one fact aggregate to
    * (child, tick), a bounded grid completion, rank windows partitioned
    * per child/parent — nothing global. */
  def hierarchicalMedianForecast(df: DataFrame, parentCol: String,
                                 childCol: String, tCol: String,
                                 vCol: String, window: Int): DataFrame = {
    require(window >= 1 && window % 2 == 1, "window must be odd")
    val per = df.select(col(parentCol).as("p"), col(childCol).as("c"),
        col(tCol).cast("long").as("t"), col(vCol).cast("long").as("v"))
      .groupBy("p", "c", "t").agg(sum("v").as("n"))
    val maxT = per.agg(max("t").as("_mt"))
    val recent = per.crossJoin(broadcast(maxT))
      .filter(col("t") > col("_mt") - window)
    // complete the (child × tick) grid so absent cells rank as 0
    val ticks = maxT.select(
      explode(expr(s"sequence(_mt - ${window - 1}, _mt)")).as("t"))
    val grid = per.select("p", "c").distinct()
      .crossJoin(broadcast(ticks))
      .join(recent.select("p", "c", "t", "n"), Seq("p", "c", "t"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val mid = (window + 1) / 2
    val wc = Window.partitionBy("p", "c").orderBy("n", "t")
    val childMed = grid.withColumn("_rk", row_number().over(wc))
      .filter(col("_rk") === mid)
      .groupBy("p").agg(count(lit(1)).as("n_children"),
        sum("n").as("bottom_up"))
    val ptot = grid.groupBy("p", "t").agg(sum("n").as("n"))
    val wp = Window.partitionBy("p").orderBy("n", "t")
    val direct = ptot.withColumn("_rk", row_number().over(wp))
      .filter(col("_rk") === mid)
      .select(col("p"), col("n").as("direct_med"))
    childMed.join(direct, Seq("p"))
      .select(col("p").as(parentCol), col("n_children"),
        col("direct_med"), col("bottom_up"),
        (col("bottom_up") - col("direct_med")).as("gap"))
  }

  /** Huber M-estimator of location by `iters` fixed IRLS rounds — the
    * robust mean between the mean (breaks on one huge outlier) and the
    * median (ignores 49% of the data): start at the mean, then
    * re-weight w = min(1, c/|y − m|) and recompute m = Σwy/Σw. Rows
    * within `c` of the center keep weight 1; outliers decay as 1/dist,
    * which is exactly the ψ-function clip of Huber (1964). The `shift`
    * column (huber − mean) is the actionable number: large shift ⇔ the
    * plain mean is being dragged by a tail.
    *
    * Weights branch as CASE |y−m| <= c (never a division by a possible
    * zero — engines disagree on x/0), and each round's sums
    * decimal-accumulate; iteration count is fixed so the whole
    * computation is one deterministic expression chain both engines
    * replay. Scale: `iters`+1 fact aggregates (each map-side
    * combinable), no window, no join — the cost is re-scanning, which
    * a persisted (group, y, count) rollup would amortize. */
  def huberMean(df: DataFrame, groupCol: String, vCol: String,
                c: Long, iters: Int = 3): DataFrame = {
    require(c >= 1 && iters >= 1, "need c >= 1 and iters >= 1")
    val d18 = (x: Column) => x.cast("decimal(38,18)")
    val d38 = (x: Column) => x.cast("decimal(38,0)")
    val base = df.select(col(groupCol).as("g"),
      col(vCol).cast("long").as("y"))
    val m0 = base.groupBy("g").agg(count(lit(1)).as("n"),
        sum(d38(col("y"))).as("_sy"))
      .withColumn("mean", col("_sy").cast("double") / col("n"))
    val mFinal = (1 to iters).foldLeft(m0.withColumn("m", col("mean"))) {
      (acc, _) =>
        val w = when(abs(col("y").cast("double") - col("m")) <= c, lit(1.0))
          .otherwise(lit(c.toDouble) /
            abs(col("y").cast("double") - col("m")))
        base.join(broadcast(acc.select("g", "n", "mean", "m")), Seq("g"))
          .withColumn("_w", w)
          .groupBy("g")
          .agg(max("n").as("n"), max("mean").as("mean"),
            (sum(d18(col("_w") * col("y"))).cast("double") /
              sum(d18(col("_w"))).cast("double")).as("m"))
    }
    mFinal.select(col("g").as(groupCol), col("n"),
      round(col("mean"), 6).as("mean"),
      round(col("m"), 6).as("huber_m"),
      round(col("m") - col("mean"), 6).as("shift"))
  }

  /** K-fold cross-validated ridge sweep for the no-intercept 1-feature
    * model y ≈ βx, closed form β̂_λ = Σxy / (Σx² + λ). Per (λ, fold), β
    * fits on the COMPLEMENT's exact integer sums (train = total − fold;
    * no second scan) and scores the held-out fold through the SSE
    * identity Σ(y−βx)² = Σy² − 2βΣxy + β²Σx² — one aggregate over the
    * data to per-fold BIGINT sufficient statistics, then all (λ, fold)
    * arithmetic on the K-row frame. The caller keeps Σy² inside int64
    * by unit-scaling y (NOTES parity rule: exact sums that later
    * convert to double must fit BIGINT, not hugeint).
    *
    * `cv_mse` is attached per λ from a FIXED-ORDER sum of the K fold
    * SSEs (conditional pivot fold0+fold1+…, not a float aggregate), so
    * the double replays across engines. Returns one row per (λ, fold):
    * (lambda, fold, n_fold, beta, fold_mse, cv_mse) with beta at 9 dp
    * and the MSEs at 2 dp — MSE magnitude here is ~10⁹, where a 6-dp
    * round sits BELOW the double's ulp (≈5·10⁻⁷) and the two engines'
    * round() implementations disagree on the sub-ulp digits; 2 dp is
    * comfortably above the ulp (measured: a 1-ulp cv_mse mismatch at
    * 6 dp on sf0.001). */
  def ridgeCv(df: DataFrame, xCol: Column, yCol: Column, foldCol: Column,
              nFolds: Int, lambdas: Seq[Long]): DataFrame = {
    val per = df.select(xCol.cast("long").as("x"),
        yCol.cast("long").as("y"), foldCol.cast("int").as("fold"))
      // the cv_sse pivot below only sums folds 0 until nFolds — an
      // out-of-range fold value would contribute to the totals yet be
      // silently dropped from cv_sse, biasing cv_mse; fail fast instead
      .withColumn("fold",
        when(col("fold") >= 0 && col("fold") < nFolds, col("fold"))
          .otherwise(raise_error(concat(
            lit(s"ridgeCv: fold value outside [0, $nFolds): "),
            col("fold").cast("string")))))
      .groupBy("fold").agg(count(lit(1)).as("n"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
    val tot = per.agg(sum("n").as("tn"), sum("sxx").as("tsxx"),
      sum("sxy").as("tsxy"), sum("syy").as("tsyy"))
    val scored = per.crossJoin(broadcast(tot))
      .select(col("*"),
        explode(array(lambdas.map(lit(_)): _*)).as("lambda"))
      .withColumn("beta", (col("tsxy") - col("sxy")).cast("double") /
        (col("tsxx") - col("sxx") + col("lambda")).cast("double"))
      .withColumn("sse", col("syy").cast("double") -
        lit(2.0) * col("beta") * col("sxy") +
        col("beta") * col("beta") * col("sxx"))
    val folds = 0 until nFolds
    val cvCols = folds.map(k =>
      max(when(col("fold") === k, col("sse"))).as(s"_s$k"))
    val cv = scored.groupBy("lambda")
      .agg(cvCols.head, cvCols.tail: _*)
      .withColumn("cv_sse",
        folds.map(k => col(s"_s$k")).reduce(_ + _))
      .select(col("lambda"), col("cv_sse"))
    scored.join(cv, Seq("lambda"))
      .select(col("lambda"), col("fold"), col("n").as("n_fold"),
        round(col("beta"), 9).as("beta"),
        round(col("sse") / col("n"), 2).as("fold_mse"),
        round(col("cv_sse") / col("tn"), 2).as("cv_mse"))
  }

  /** Hampel (median/MAD) robust outlier gate + winsorized mean per group
    * (Hampel 1974; the robust-statistics replacement for the z-score gate
    * [[anomalies]], whose mean/σ an adversarial tail drags): a row is an
    * outlier when |x − median| > k·MAD. Medians of INTEGER values
    * interpolate to halves and MADs to quarters — power-of-two-denominator
    * rationals that doubles carry EXACTLY, so median, MAD, the outlier
    * verdict, and the winsorized (clipped-to-fence) mean all replay
    * bit-for-bit with no libm in sight. The winsorized mean is the robust
    * location estimate training-data QA wants when a feed glitch injects
    * a few 10⁶× values: the plain mean moves, the winsorized one barely.
    * Two sort-based percentiles per group — the q53 exact-percentile
    * shape, map-side clip + decimal mean after.
    *
    * Scale note: Spark's exact `percentile` buffers each group's values,
    * so this form wants groups that fit an executor (event types, domains
    * — the audit's natural keys). For UNBOUNDED groups at 100 TB, swap
    * the median/MAD legs for [[twoPassMedian]] (coarse histogram + one
    * bucket rescan) or [[Sketches.histogramQuantiles]]; the fence/clip
    * algebra is unchanged. */
  def hampelGate(df: DataFrame, groupCol: String, valueCol: String,
                 k: Int = 3): DataFrame = {
    val v = df.select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    val med = v.groupBy("g").agg(
      count(lit(1)).as("n"), expr("percentile(v, 0.5)").as("med"))
    val dev = v.join(med, Seq("g"))
      .withColumn("adev", abs(col("v").cast("double") - col("med")))
    val mad = dev.groupBy("g").agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, Seq("g"))
      .withColumn("fence", lit(k.toDouble) * col("mad"))
      .withColumn("clipped",
        least(greatest(col("v").cast("double"), col("med") - col("fence")),
          col("med") + col("fence")))
      .groupBy(col("g").as(groupCol))
      .agg(max("n").cast("long").as("n"),
        max("med").as("median"), max("mad").as("mad"),
        sum(when(col("adev") > col("fence"), 1L).otherwise(0L))
          .cast("long").as("n_outliers"),
        round(dsum(col("clipped")) / max("n"), 6).as("win_mean"))
  }

  /** Per-group exact INTERPOLATED median over a long column WITHOUT
    * buffering any group — the grouped two-pass histogram refinement
    * ([[twoPassMedian]] generalized from one global value to arbitrary
    * group cardinality): pass 1 collapses each group to a ≤`coarseBins`-
    * row histogram (map-side partials; the per-group cumsum window runs
    * over ≤coarseBins rows, never raw data), locates the bucket(s)
    * holding ranks ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋, pass 2 rescans ONLY those
    * buckets and rank-selects within (g, bucket) — partition sizes are
    * bucket sizes (~n_g/coarseBins), so no executor ever materializes a
    * whole group the way `percentile`'s buffer does. The two selected
    * values average to EXACTLY Spark's `percentile(v, 0.5)` (for n odd
    * both ranks coincide; for n even the 0.5-fraction interpolation IS
    * the mean of the two middle values — integer-sum-halving, exact in
    * doubles). Returns (g, n, med). */
  def groupedTwoPassMedian(v: DataFrame, coarseBins: Int = 256): DataFrame =
    groupedTwoPassQuantile(v, 1, 2, coarseBins)
      .withColumnRenamed("q", "med")

  /** The general form of [[groupedTwoPassMedian]]: per-group exact
    * LINEARLY-INTERPOLATED quantile p = pNum/pDen (the `percentile` /
    * `quantile_cont` definition: h = p·(n−1), value = v_⌊h⌋₊₁ +
    * frac·(v_⌊h⌋₊₂ − v_⌊h⌋₊₁)) with the same two-pass histogram shape —
    * no per-group value buffer at any plan node. The interpolation is
    * computed as (v_lo·(pDen−fn) + v_hi·fn) / pDen where fn =
    * ((n−1)·pNum) mod pDen: an exact integer numerator and ONE double
    * division, which for power-of-two-friendly pDen (2, 4, 8 — medians,
    * quartiles, octiles) is bit-identical to the engines' own
    * h-arithmetic, so `quantile_cont` replays it. */
  def groupedTwoPassQuantile(v: DataFrame, pNum: Int, pDen: Int,
                             coarseBins: Int = 256): DataFrame =
    groupedTwoPassQuantiles(v, Seq((pNum, pDen)), coarseBins)
      .withColumnRenamed("q0", "q")

  /** ALL requested quantiles from ONE histogram pass + ONE rank-select
    * pass (r11): a caller needing several quantiles of the same frame
    * (trimmed mean's q25/q75, IQR gates) previously ran the whole
    * two-pass machinery once per quantile — at 100 TB that is two extra
    * corpus scans per additional quantile; here every quantile shares
    * the group range/histogram frames and the single pass-2 scan, and
    * the per-quantile rank/interpolation arithmetic is UNCHANGED (each
    * quantile rank-selects within its own target bins, so values are
    * bit-identical to the one-quantile form — StatsSpec pins it).
    * Returns (g, n, q0, q1, ... ) in `quantiles` order. */
  def groupedTwoPassQuantiles(v: DataFrame, quantiles: Seq[(Int, Int)],
                              coarseBins: Int = 256): DataFrame = {
    require(quantiles.nonEmpty, "groupedTwoPassQuantiles: no quantiles")
    quantiles.foreach { case (pNum, pDen) =>
      require(pNum >= 0 && pNum <= pDen && pDen > 0,
        s"groupedTwoPassQuantiles: need 0 <= $pNum/$pDen <= 1") }
    val W = org.apache.spark.sql.expressions.Window
    // GROUP-CARDINALITY-sized control frames (|g| and ≤|g|·bins rows —
    // three-plus orders below the corpus) are localCheckpointed: they
    // are referenced from several plan branches, and without truncation
    // each reference re-executes the whole upstream subtree (measured:
    // the un-truncated per-user gate re-scanned the corpus ~30× and ran
    // 31 s where 1.5 s suffices). The corpus-sized `binned` frame is
    // deliberately NOT pinned — it streams exactly twice, once per pass,
    // which is the operator's two-scan contract.
    val rng = v.groupBy("g").agg(min("v").as("mn"), max("v").as("mx"),
      count(lit(1)).as("nn"))
      .transform(Lineage.cut(_, "Stats.groupedTwoPassQuantiles.rng"))
    def binned = v.join(rng, Seq("g"))
      .withColumn("bin", expr(
        s"least($coarseBins - 1, ((v - mn) * $coarseBins) div (mx - mn + 1))"))
      .select("g", "v", "bin")
    val hist = binned.groupBy("g", "bin").agg(count(lit(1)).as("f"))
      .withColumn("cum", sum("f").over(
        W.partitionBy("g").orderBy("bin").rowsBetween(Long.MinValue, 0)))
      .join(rng.select("g", "nn"), Seq("g"))
      .transform(Lineage.cut(_, "Stats.groupedTwoPassQuantiles.hist"))
    // 1-based ranks of the two order statistics around h = p·(n−1) per
    // quantile; fn = 0 collapses both to the same rank (exact hit)
    def target(kExpr: String, tag: String) = hist
      .withColumn("k", expr(kExpr))
      .filter(col("cum") >= col("k") && (col("cum") - col("f")) < col("k"))
      .select(col("g"), col("bin").as(s"tb_$tag"),
        (col("k") - (col("cum") - col("f"))).as(s"rk_$tag"))
    val targets = quantiles.zipWithIndex.flatMap { case ((pNum, pDen), i) =>
      val loRank = s"((nn - 1) * $pNum) div $pDen + 1"
      val fnExpr = s"((nn - 1) * $pNum) % $pDen"
      val hiRank = s"$loRank + (case when $fnExpr > 0 then 1 else 0 end)"
      Seq(target(loRank, s"${i}_1"), target(hiRank, s"${i}_2"))
    }.reduce((a, b) => a.join(b, Seq("g")))
    // pass 2: one streaming scan — every order statistic rank-selects in
    // the same window pass (ranks are within (g, bin), so extra target
    // bins from other quantiles never shift a rank)
    val binFilter = quantiles.indices
      .flatMap(i => Seq(s"tb_${i}_1", s"tb_${i}_2"))
      .map(tb => col("bin") === col(tb)).reduce(_ || _)
    val aggs = quantiles.indices.flatMap { i => Seq(
      max(when(col("bin") === col(s"tb_${i}_1") &&
        col("_rn") === col(s"rk_${i}_1"), col("v"))).as(s"_v1_$i"),
      max(when(col("bin") === col(s"tb_${i}_2") &&
        col("_rn") === col(s"rk_${i}_2"), col("v"))).as(s"_v2_$i")) }
    val qCols = quantiles.zipWithIndex.map { case ((pNum, pDen), i) =>
      val fn = expr(s"((n - 1) * $pNum) % $pDen")
      ((col(s"_v1_$i") * (lit(pDen) - fn) + col(s"_v2_$i") * fn)
        .cast("double") / pDen).as(s"q$i") }
    binned.join(targets, Seq("g"))
      .filter(binFilter)
      .withColumn("_rn", row_number().over(
        W.partitionBy("g", "bin").orderBy("v")))
      .groupBy("g")
      .agg(aggs.head, aggs.tail: _*)
      .join(rng.select(col("g"), col("nn").as("n")), Seq("g"))
      .select((Seq(col("g"), col("n")) ++ qCols): _*)
  }

  /** [[hampelGate]]'s 100 TB twin: IDENTICAL median/MAD fence algebra —
    * same fences, same outlier verdicts, same winsorized mean, pinned
    * bit-equal by StatsSpec on shared groups — with both percentile legs
    * served by [[groupedTwoPassMedian]] instead of `percentile`'s
    * per-group value buffer, so the group key can be unbounded (users,
    * URLs) rather than audit-sized (event types). The MAD leg runs on
    * adev2 = |2v − 2·med| which is integer-EXACT (2·med = v1+v2 is a
    * long), halved after — medians land on halves and MADs on quarters,
    * the same power-of-two rationals the buffered form produces. */
  def hampelGateScalable(df: DataFrame, groupCol: String, valueCol: String,
                         k: Int = 3, coarseBins: Int = 256): DataFrame = {
    val v = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    // med/mad are |g|-row frames referenced from several branches —
    // checkpoint them so the MAD leg and the final fence pass re-read a
    // bounded materialization instead of re-running the median plan
    val med = Lineage.cut(groupedTwoPassMedian(v, coarseBins),
      "Stats.hampelGateScalable.med")
    val dev = v.join(med, Seq("g"))
      .withColumn("med2", (col("med") * 2).cast("long"))
      .withColumn("adev2", abs(col("v") * 2 - col("med2")))
    val mad = groupedTwoPassMedian(
        dev.select(col("g"), col("adev2").as("v")), coarseBins)
      .select(col("g"), (col("med") / 2).as("mad"))
      .transform(Lineage.cut(_, "Stats.hampelGateScalable.mad"))
    dev.withColumn("adev", col("adev2").cast("double") / 2)
      .join(mad, Seq("g"))
      .withColumn("fence", lit(k.toDouble) * col("mad"))
      .withColumn("clipped",
        least(greatest(col("v").cast("double"), col("med") - col("fence")),
          col("med") + col("fence")))
      .groupBy(col("g").as(groupCol))
      .agg(max("n").cast("long").as("n"),
        max("med").as("median"), max("mad").as("mad"),
        sum(when(col("adev") > col("fence"), 1L).otherwise(0L))
          .cast("long").as("n_outliers"),
        round(dsum(col("clipped")) / max("n"), 6).as("win_mean"))
  }

  /** Value-trimmed (interquartile) mean per group at UNBOUNDED group
    * cardinality — the robust location estimate completing the
    * scale-safe family (median [[groupedTwoPassMedian]], MAD
    * [[hampelGateScalable]], quartiles [[groupedTwoPassQuantile]]):
    * rows with q25 ≤ v ≤ q75 (value fences, ties INCLUSIVE — the rule
    * is stated, not rank-fractional) average in exact integer cents.
    * Quartile fences come from the two-pass machinery, so nothing
    * buffers a group; fences are exact quarters of longs, so the
    * boundary comparisons replay deterministically and the one final
    * division is the only float op. Returns (groupCol, n, n_kept, q25,
    * q75, trimmed_mean). */
  def trimmedMeanScalable(df: DataFrame, groupCol: String,
                          valueCol: String,
                          coarseBins: Int = 256): DataFrame = {
    val v = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    // both fences from ONE shared histogram + rank-select pass (r11):
    // values identical to two independent quantile runs, two corpus
    // scans instead of four
    val fences = groupedTwoPassQuantiles(v, Seq((1, 4), (3, 4)), coarseBins)
      .select(col("g"), col("n"), col("q0").as("q25"), col("q1").as("q75"))
      .transform(Lineage.cut(_, "Stats.trimmedMeanScalable.fences"))
    v.join(fences, Seq("g"))
      .filter(col("v").cast("double") >= col("q25") &&
        col("v").cast("double") <= col("q75"))
      .groupBy(col("g").as(groupCol))
      .agg(max("n").cast("long").as("n"),
        count(lit(1)).as("n_kept"),
        max("q25").as("q25"), max("q75").as("q75"),
        round(sum("v").cast("double") / count(lit(1)), 6)
          .as("trimmed_mean"))
  }

  /** [[diffInDiff]] WITH the inference half: the same four-cell
    * DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    * point estimate plus the unequal-variance standard error
    * se = √(Σ_cells s²ᵢ/nᵢ) and t = DiD/se — an effect size without an
    * error bar is half a readout, and the q325 gate pins only the
    * point estimate. One grouped aggregate over the four
    * (treated × post) cells: counts, integer-value sums AND sums of
    * squares are exact BIGINTs, each mean/variance is a fixed double
    * expression over them, the DiD combination is one canonical
    * association — bit-replayable. Returns one row (n_total,
    * mean_t_pre, mean_t_post, mean_c_pre, mean_c_post, did, se, t). */
  def diffInDiffSe(df: DataFrame, treatedCol: String, postCol: String,
                   valueCol: String): DataFrame = {
    val cells = df.select(col(treatedCol).cast("boolean").as("tr"),
        col(postCol).cast("boolean").as("po"),
        col(valueCol).cast("long").as("v"))
      .groupBy("tr", "po")
      .agg(count(lit(1)).as("n"), sum("v").as("s"),
        sum(col("v") * col("v")).as("ss"))
    def pick(tr: Boolean, po: Boolean, c: String, as: String) =
      max(when(col("tr") === tr && col("po") === po, col(c))).as(as)
    val wide = cells.agg(
      pick(true, false, "n", "n_tp"), pick(true, false, "s", "s_tp"),
      pick(true, false, "ss", "ss_tp"),
      pick(true, true, "n", "n_tq"), pick(true, true, "s", "s_tq"),
      pick(true, true, "ss", "ss_tq"),
      pick(false, false, "n", "n_cp"), pick(false, false, "s", "s_cp"),
      pick(false, false, "ss", "ss_cp"),
      pick(false, true, "n", "n_cq"), pick(false, true, "s", "s_cq"),
      pick(false, true, "ss", "ss_cq"))
    def mean(s: String, n: String): Column =
      col(s).cast("double") / col(n)
    def varOverN(s: String, ss: String, n: String): Column =
      (col(ss).cast("double") - col(s).cast("double") *
        col(s).cast("double") / col(n)) / (col(n) - 1) / col(n)
    wide.select(
      (col("n_tp") + col("n_tq") + col("n_cp") + col("n_cq"))
        .cast("long").as("n_total"),
      round(mean("s_tp", "n_tp"), 6).as("mean_t_pre"),
      round(mean("s_tq", "n_tq"), 6).as("mean_t_post"),
      round(mean("s_cp", "n_cp"), 6).as("mean_c_pre"),
      round(mean("s_cq", "n_cq"), 6).as("mean_c_post"),
      round((mean("s_tq", "n_tq") - mean("s_tp", "n_tp")) -
        (mean("s_cq", "n_cq") - mean("s_cp", "n_cp")), 6).as("did"),
      round(sqrt(varOverN("s_tq", "ss_tq", "n_tq") +
        varOverN("s_tp", "ss_tp", "n_tp") +
        varOverN("s_cq", "ss_cq", "n_cq") +
        varOverN("s_cp", "ss_cp", "n_cp")), 6).as("se"),
      round(((mean("s_tq", "n_tq") - mean("s_tp", "n_tp")) -
        (mean("s_cq", "n_cq") - mean("s_cp", "n_cp"))) /
        sqrt(varOverN("s_tq", "ss_tq", "n_tq") +
          varOverN("s_tp", "ss_tp", "n_tp") +
          varOverN("s_cq", "ss_cq", "n_cq") +
          varOverN("s_cp", "ss_cp", "n_cp")), 6).as("t"))
  }

  /** Cochran-Armitage trend test: is a pass/fail rate MONOTONE in an
    * ordered bucket score (document-quality rate by length decile, error
    * rate by day index)? More powerful than the q·χ² independence test
    * when the alternative is a trend. Integer-exact core: with per-bucket
    * (nᵢ, rᵢ) and score sᵢ, the statistic multiplies through by N so
    * T′ = Σ sᵢ(rᵢN − nᵢR) is an exact BIGINT, and
    * z = T′·√N / (√(R(N−R)) · √(NΣnᵢsᵢ² − (Σnᵢsᵢ)²)) — three
    * correctly-rounded sqrts over exact integers, one fixed expression
    * tree, fully replayable (NOTES parity rule: sqrt is safe, ln is not).
    * Returns one row (n, r, t_num, z). */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      flagCol: String): DataFrame = {
    val per = df.select(col(scoreCol).cast("long").as("s"),
        col(flagCol).cast("boolean").as("f"))
      .groupBy("s").agg(count(lit(1)).as("n_i"),
        sum(when(col("f"), 1L).otherwise(0L)).as("r_i"))
    val tot = per.agg(sum("n_i").as("n"), sum("r_i").as("r"),
      sum(col("n_i") * col("s")).as("ns"),
      sum(col("n_i") * col("s") * col("s")).as("ns2"))
    per.crossJoin(broadcast(tot))
      .agg(max("n").cast("long").as("n"), max("r").cast("long").as("r"),
        sum(col("s") * (col("r_i") * col("n") - col("n_i") * col("r")))
          .cast("long").as("t_num"),
        max("ns").as("_ns"), max("ns2").as("_ns2"))
      .crossJoin(broadcast(tot.select(col("n").as("_n"), col("r").as("_r"))))
      .select(col("n"), col("r"), col("t_num"),
        round(col("t_num").cast("double") * sqrt(col("_n")) /
          (sqrt((col("_r") * (col("_n") - col("_r"))).cast("double")) *
            sqrt((col("_n") * col("_ns2") - col("_ns") * col("_ns"))
              .cast("double"))), 6).as("z"))
  }

  /** Benford first-digit audit (Benford 1938; Nigrini's fraud screen):
    * observed first-significant-digit counts of a positive integer column
    * against the log-law expectation p(d) = log₁₀(1 + 1/d), with the
    * per-digit ratio and the χ² total. Synthetic/fabricated numeric
    * columns (and over-templated synthetic corpora) flunk it; natural
    * multiplicative processes pass. The nine expected proportions are
    * COMPILE-TIME double literals (embedded identically in the oracle),
    * so every derived double is a fixed expression over exact counts —
    * χ² terms decimal-accumulate, display-round 6. One map-side digit
    * extraction + a 9-row aggregate. The observed counts are left-joined
    * onto the FULL 1-9 digit grid (n_obs = 0 for an absent digit), so a
    * digit the data never produces still contributes its (0−e)²/e term —
    * a wholly missing digit is the strongest fabrication signal the
    * audit can see, not a row to drop. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val ps = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val digits = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val obs = digits.join(
      df.select(col(valueCol).cast("long").as("v"))
        .filter(col("v") > 0)
        .select(substring(col("v").cast("string"), 1, 1).cast("int")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs")),
      Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val expected = ps.tail.foldLeft(
      when(col("digit") === ps.head._1, lit(ps.head._2))) {
      case (acc, (d, p)) => acc.when(col("digit") === d, lit(p))
    }
    val n = obs.agg(sum("n_obs").as("n"))
    val terms = obs.crossJoin(broadcast(n))
      .withColumn("p", expected)
      .withColumn("exp_n", col("p") * col("n"))
      .withColumn("term", (col("n_obs") - col("exp_n")) *
        (col("n_obs") - col("exp_n")) / col("exp_n"))
    val chi2 = terms.agg(sum(d18(col("term"))).cast("double").as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"),
        round(col("exp_n"), 6).as("expected_n"),
        round(col("n_obs") / col("exp_n"), 6).as("ratio"),
        round(col("chi2"), 6).as("chi2"))
      .orderBy("digit")
  }

  /** CART-style single-split feature ranking by Gini gain: for each
    * candidate CATEGORICAL feature, the drop from the parent's binary
    * Gini impurity to the feature-partitioned weighted impurity — the
    * "which metadata column separates good from bad docs" screen that
    * complements [[mutualInformation]] with the decision-tree currency
    * (no logs anywhere: gini = 1 − Σ(n_c/n)², all rationals over exact
    * counts; per-value impurities weight-sum in decimal). One aggregate
    * per feature over its (value, label) contingency. */
  def giniSplitGain(df: DataFrame, labelCol: String,
                    features: Seq[String]): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    def gini(pos: Column, n: Column): Column =
      lit(1.0) - (pos / n) * (pos / n) -
        ((n - pos) / n) * ((n - pos) / n)
    val base = df.select(col(labelCol).cast("boolean").as("y") +:
      features.map(f => col(f).cast("string").as(f)): _*)
    val parentRow = base.agg(count(lit(1)).cast("double").as("pn"),
      sum(when(col("y"), 1L).otherwise(0L)).cast("double").as("pp"))
    val perFeature = features.map { f =>
      base.groupBy(col(f).as("value"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(when(col("y"), 1L).otherwise(0L)).cast("double").as("pos"))
        .crossJoin(broadcast(parentRow))
        .agg(lit(f).as("feature"),
          count(lit(1)).as("n_values"),
          sum(d18(col("n") / col("pn") * gini(col("pos"), col("n"))))
            .cast("double").as("wimp"))
    }.reduce(_ unionByName _)
    perFeature.crossJoin(broadcast(parentRow))
      .select(col("feature"), col("n_values"),
        round(col("wimp"), 6).as("weighted_impurity"),
        round(gini(col("pp"), col("pn")) - col("wimp"), 6).as("gain"))
      .orderBy(col("gain").desc, col("feature"))
  }

  /** Cramér's V association for a two-column contingency (the χ²-based
    * companion of [[mutualInformation]], bounded [0,1] and comparable
    * across table shapes): χ² = Σ (o − e)²/e with e = row·col/n, then
    * V = √(χ² / (n·(min(r,c)−1))). Exact counts → fixed double terms →
    * decimal accumulation; sqrt is replay-safe. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val joint = df.groupBy(col(aCol).as("x"), col(bCol).as("y"))
      .agg(count(lit(1)).as("o"))
      .transform(Lineage.cut(_, "Stats.cramersV.joint"))
    val ma = joint.groupBy("x").agg(sum("o").as("cx"))
    val mb = joint.groupBy("y").agg(sum("o").as("cy"))
    val tot = joint.agg(sum("o").as("n"))
    val dims = ma.agg(count(lit(1)).as("r"))
      .crossJoin(mb.agg(count(lit(1)).as("c")))
    // the FULL r×c grid, not just observed cells: an empty cell still
    // contributes (0 − e)²/e — dropping zeros understates χ² exactly
    // when association is strongest (spec-caught)
    val grid = ma.crossJoin(mb)
      .join(joint, Seq("x", "y"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val chi2 = grid
      .crossJoin(broadcast(tot))
      .withColumn("e", col("cx").cast("double") * col("cy") / col("n"))
      .withColumn("term", (col("o") - col("e")) * (col("o") - col("e")) /
        col("e"))
      .agg(sum(d18(col("term"))).cast("double").as("chi2"))
    chi2.crossJoin(broadcast(tot)).crossJoin(broadcast(dims))
      .select(col("n").cast("long").as("n"),
        col("r").cast("int").as("n_rows"),
        col("c").cast("int").as("n_cols"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") /
          (col("n") * (least(col("r"), col("c")) - 1))), 6)
          .as("cramers_v"))
  }

  /** Mutual information between two categorical columns (source ×
    * quality verdict, route × grade…): MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y)))
    * plus the marginal entropies and the √(H·H)-normalized NMI — the
    * "does this metadata column carry signal about that label" screen
    * run before spending a 100 TB pass training on it. One joint-count
    * aggregate (|X|·|Y| cells), marginals re-aggregated FROM the joint
    * (never a second corpus pass), each ln term a fixed double tree over
    * exact counts, decimal-18 accumulation, display-round 6 (the ln
    * parity rule [[NgramLm.jensenShannonCounts]] follows). */
  def mutualInformation(df: DataFrame, aCol: String,
                        bCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val joint = df.groupBy(col(aCol).as("x"), col(bCol).as("y"))
      .agg(count(lit(1)).as("cxy"))
      .transform(Lineage.cut(_, "Stats.mutualInformation.joint"))
    val ma = joint.groupBy("x").agg(sum("cxy").as("cx"))
    val mb = joint.groupBy("y").agg(sum("cxy").as("cy"))
    val nRow = joint.agg(sum("cxy").as("nn"))
    val mi = joint.join(ma, Seq("x")).join(mb, Seq("y"))
      .crossJoin(broadcast(nRow))
      .withColumn("term", col("cxy").cast("double") / col("nn") *
        log(col("cxy").cast("double") * col("nn") /
          (col("cx").cast("double") * col("cy"))))
      .agg(sum(d18(col("term"))).cast("double").as("mi"),
        count(lit(1)).as("n_cells"))
    def entropy(m: DataFrame, c: String) = m.crossJoin(broadcast(nRow))
      .withColumn("t", col(c).cast("double") / col("nn") *
        log(col("nn").cast("double") / col(c)))
      .agg(sum(d18(col("t"))).cast("double").as(s"h_$c"))
    mi.crossJoin(broadcast(entropy(ma, "cx")))
      .crossJoin(broadcast(entropy(mb, "cy")))
      .select(col("n_cells"), round(col("mi"), 6).as("mi"),
        round(col("h_cx"), 6).as("h_a"), round(col("h_cy"), 6).as("h_b"),
        round(col("mi") / sqrt(col("h_cx") * col("h_cy")), 6).as("nmi"))
  }

  /** Yule–Walker AR(2) fit on a single integer series (t, v): lag-1/
    * lag-2 autocorrelations as exact-sum Pearson over the paired subsets
    * (the [[acfTable]] convention — each lag's pairs carry their own
    * means, so calendar gaps just thin the pair set), then the
    * closed-form Yule–Walker solve
    *   φ₁ = r₁(1 − r₂)/(1 − r₁²),  φ₂ = (r₂ − r₁²)/(1 − r₁²)
    * and the one-step mean-reverting forecast
    *   x̂ = x̄ + φ₁(x_last − x̄) + φ₂(x_prev − x̄)
    * where x_last/x_prev are the two LATEST observations by t (documented
    * as order-latest, not lag-adjacent — a trailing calendar gap shifts
    * the conditioning values, never the fit). Every r/φ is a fixed
    * double tree over exact BIGINT/decimal pair sums; sqrt-free, ln-free,
    * so the oracle replays bit-for-bat from the same sums. The
    * autoregressive member of the forecast family ([[holtSmoothing]]
    * exponential, [[holtWinters]] seasonal, [[hierarchicalMedianForecast]]
    * robust): AR(2) is the cheapest model that captures oscillatory
    * mean-reversion, which no exponential smoother can.
    *
    * Scale shape: the corpus collapses to the daily frame upstream; each
    * lag is one self-join on (t − k) over that bounded frame + one
    * aggregate. Nothing here ever scales with raw rows. */
  def yuleWalkerAr2(daily: DataFrame, orderCol: String,
                    vCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base = daily.select(col(orderCol).cast("long").as("t"),
      col(vCol).cast("long").as("v"))
        .transform(Lineage.cut(_, "Stats.yuleWalkerAr2.base"))
    // r_k from the lag-k pair frame: exact n/sx/sy/sxx/syy/sxy blocks
    def lagR(k: Int) = {
      val j = base.select(col("t"), col("v").as("x"))
        .join(base.select((col("t") - k).as("t"), col("v").as("y")),
          Seq("t"))
      j.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(d0(col("x")) * col("x")).as("sxx"),
          sum(d0(col("y")) * col("y")).as("syy"),
          sum(d0(col("x")) * col("y")).as("sxy"))
        .select(((col("n") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy")) /
          (sqrt(col("n") * col("sxx").cast("double") -
             col("sx").cast("double") * col("sx")) *
           sqrt(col("n") * col("syy").cast("double") -
             col("sy").cast("double") * col("sy")))).as(s"r$k"),
          col("n").as(s"n$k"))
    }
    val tot = base.agg(count(lit(1)).as("n"), sum("v").as("s"))
    val wDesc = Window.orderBy(col("t").desc)
    val lastTwo = base
      .withColumn("rn", row_number().over(wDesc)).filter(col("rn") <= 2)
      .groupBy()
      .agg(max(when(col("rn") === 1, col("v"))).as("x_last"),
        max(when(col("rn") === 2, col("v"))).as("x_prev"))
    tot.crossJoin(broadcast(lagR(1))).crossJoin(broadcast(lagR(2)))
      .crossJoin(broadcast(lastTwo))
      .withColumn("mean", col("s").cast("double") / col("n"))
      .withColumn("phi1",
        col("r1") * (lit(1.0) - col("r2")) /
          (lit(1.0) - col("r1") * col("r1")))
      .withColumn("phi2",
        (col("r2") - col("r1") * col("r1")) /
          (lit(1.0) - col("r1") * col("r1")))
      .select(col("n"), col("n1").as("n_pairs1"),
        col("n2").as("n_pairs2"),
        round(col("mean"), 6).as("mean"),
        round(col("r1"), 6).as("r1"), round(col("r2"), 6).as("r2"),
        round(col("phi1"), 6).as("phi1"),
        round(col("phi2"), 6).as("phi2"),
        round(col("mean") + col("phi1") * (col("x_last") - col("mean"))
          + col("phi2") * (col("x_prev") - col("mean")), 6)
          .as("forecast_next"))
  }

  /** Bayesian A/B readout under the Beta–Binomial model: per arm, a
    * Beta(1 + s, 1 + n − s) posterior over the conversion rate (uniform
    * prior), reported as exact-rational-to-double posterior mean
    * a/(a+b) and variance ab/((a+b)²(a+b+1)), plus the normal-
    * approximation superiority score
    *   z = (mean_b − mean_a)/√(var_a + var_b)
    * — the z is emitted INSTEAD of P(B > A) because Φ needs erf, which
    * is not cross-engine-stable (the ln/exp parity rule); the caller
    * applies their own Φ. The Bayesian twin of the frequentist
    * [[effectSizes]]/two-proportion readouts: same two aggregates, but
    * the output is a posterior a decision layer can integrate, not a
    * point test.
    *
    * Scale shape: one groupBy over the unit frame (units are already
    * one-row-per-subject upstream — deduplication is the CALLER's
    * contract, as in [[cupedAdjust]]), then driver-width arithmetic on
    * two rows. Nothing scales past the unit count. */
  def betaBinomialAb(units: DataFrame, armCol: String,
                     convCol: String): DataFrame = {
    // the readout below hardcodes arm identities 0 (control) and 1
    // (treatment); any other encoding (strings, 1/2, nulls) would
    // silently yield an all-NULL single row — fail fast instead. The
    // distinct is bounded: ≤3 rows collected regardless of input
    val armVals = units.select(col(armCol).cast("long").as("arm"))
      .distinct().limit(3).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    require(armVals == Set(Some(0L), Some(1L)),
      s"betaBinomialAb: arm values must be exactly {0, 1}, got " +
        armVals.map(_.map(_.toString).getOrElse("null")).mkString("{", ", ", "}"))
    val arms = units.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(convCol), 1L).otherwise(0L)).as("s"))
      .withColumn("a", lit(1L) + col("s"))
      .withColumn("b", lit(1L) + col("n") - col("s"))
      .withColumn("post_mean",
        col("a").cast("double") / (col("a") + col("b")))
      .withColumn("post_var",
        (col("a") * col("b")).cast("double") /
          (((col("a") + col("b")) * (col("a") + col("b"))).cast("double")
            * (col("a") + col("b") + 1)))
    val w = arms.agg(
      max(when(col("arm") === 0, col("n"))).as("n_a"),
      max(when(col("arm") === 0, col("s"))).as("s_a"),
      max(when(col("arm") === 0, col("post_mean"))).as("m_a"),
      max(when(col("arm") === 0, col("post_var"))).as("v_a"),
      max(when(col("arm") === 1, col("n"))).as("n_b"),
      max(when(col("arm") === 1, col("s"))).as("s_b"),
      max(when(col("arm") === 1, col("post_mean"))).as("m_b"),
      max(when(col("arm") === 1, col("post_var"))).as("v_b"))
    w.select(col("n_a"), col("s_a"), round(col("m_a"), 6).as("post_mean_a"),
      col("n_b"), col("s_b"), round(col("m_b"), 6).as("post_mean_b"),
      round(col("m_b") - col("m_a"), 6).as("lift"),
      round((col("m_b") - col("m_a")) / sqrt(col("v_a") + col("v_b")), 6)
        .as("z_superiority"))
  }

  /** Restricted mean survival time: the area under the [[kaplanMeier]]
    * step curve up to horizon τ — "expected lifetime within the first τ
    * units", the survival summary that stays defined under censoring
    * where the plain mean does not, and the standard effect scale when
    * hazards are non-proportional (where [[logRank]] loses power).
    * S is 1 on [0, t₁) and S(tᵢ) on [tᵢ, tᵢ₊₁), so
    *   RMST(τ) = min(t₁, τ) + Σ_{tᵢ<τ} S(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ),
    * computed with one lead window over the KM step frame and a
    * decimal-18 accumulation of the double step areas (fixed
    * multiply-per-step then exact sum — order-independent, replayable).
    * Emits (tau, n_steps, rmst, km_tail) where km_tail is S at the last
    * step below τ — the mass still alive at the horizon.
    *
    * Scale shape: inherits [[kaplanMeier]]'s (steps² prefix join over
    * DISTINCT durations); the RMST pass itself is one window + one
    * aggregate over the step frame. */
  def rmst(life: DataFrame, tCol: String, obsCol: String,
           tau: Long): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val km = kaplanMeier(life, tCol, obsCol).filter(col("t") < tau)
    val wLead = Window.orderBy("t")
    val seg = km
      .withColumn("t_next",
        least(coalesce(lead("t", 1).over(wLead), lit(tau)), lit(tau)))
      .withColumn("area",
        col("survival") * (col("t_next") - col("t")).cast("double"))
    val first = km.agg(min("t").as("t1"))
      .select(least(coalesce(col("t1"), lit(tau)), lit(tau))
        .cast("double").as("head_area"))
    seg.agg(count(lit(1)).as("n_steps"),
        sum(d18(col("area"))).cast("double").as("step_area"),
        max_by(col("survival"), col("t")).as("km_tail"))
      .crossJoin(broadcast(first))
      .select(lit(tau).as("tau"), col("n_steps"),
        round(col("head_area") + coalesce(col("step_area"), lit(0.0)), 6)
          .as("rmst"),
        round(col("km_tail"), 6).as("km_tail"))
  }

  /** Tukey HSD post-hoc after [[anovaF]]: for every group pair, the
    * studentized-range score q = (x̄ᵢ − x̄ⱼ)/√(MSE/2·(1/nᵢ + 1/nⱼ))
    * (the Tukey–Kramer unequal-n form), with MSE = SS_within/(N − k)
    * assembled from the SAME exact per-group (n, Σv, Σv²) blocks anovaF
    * uses — the ANOVA says "some group differs", this says WHICH pairs,
    * with the familywise-honest statistic (pairwise Welch t's inflate
    * the family error; q is referred to the studentized-range table,
    * which the caller applies — no p here, the ln/exp rule). Pairs are
    * emitted i < j in group order with both means and the raw diff.
    *
    * Scale shape: one corpus groupBy to k rows, then a k² broadcast
    * self-join — k is a categorical cardinality, never data-scale. */
  def tukeyHsd(df: DataFrame, groupCol: String,
               valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val gs = df.select(col(groupCol).as("g"),
        col(valueCol).cast("long").as("v"))
      .groupBy("g").agg(count(lit(1)).as("n_g"),
        sum(d0(col("v"))).as("s_g"),
        sum(d0(col("v")) * col("v")).as("ss_g"))
      .transform(Lineage.cut(_, "Stats.tukeyHsd.gs"))
    val mse = gs
      .withColumn("term",
        (d0(col("s_g")) * col("s_g")).cast("double") / col("n_g"))
      .agg(sum("n_g").as("n"), count(lit(1)).as("k"),
        sum(col("ss_g")).cast("double").as("ssq"),
        sum(col("term").cast("decimal(38,18)")).cast("double").as("t_sum"))
      .select(((col("ssq") - col("t_sum")) /
        (col("n") - col("k")).cast("double")).as("mse"))
    val a = gs.select(col("g").as("g_a"), col("n_g").as("n_a"),
      (col("s_g").cast("double") / col("n_g")).as("m_a"))
    val b = gs.select(col("g").as("g_b"), col("n_g").as("n_b"),
      (col("s_g").cast("double") / col("n_g")).as("m_b"))
    a.join(b, col("g_a") < col("g_b")).crossJoin(broadcast(mse))
      .withColumn("se", sqrt(col("mse") / 2.0 *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(col("m_a"), 6).as("mean_a"),
        round(col("m_b"), 6).as("mean_b"),
        round(col("m_a") - col("m_b"), 6).as("diff"),
        round((col("m_a") - col("m_b")) / col("se"), 6).as("q_stat"))
  }

  /** Cross-correlation table (CCF) between two integer series sharing a
    * calendar: for every lag ℓ ∈ [−maxLag, maxLag], the exact-pair-sum
    * Pearson correlation of (x_t, y_{t+ℓ}) — positive peak lag means "x
    * LEADS y by ℓ", the lead-lag readout [[acfTable]] (one series vs
    * itself) cannot give: does signup volume predict purchase volume
    * days later, and by how many days? Each lag's pairs carry their own
    * means (the acfTable convention — calendar gaps just thin the pair
    * set), every r is the fixed double tree over exact BIGINT/decimal
    * sums, and `is_peak` marks the single max-|ccf| row (ties broken to
    * the smallest |lag|, then the negative lag — fully deterministic;
    * never set when every ccf is NULL). Lags with no aligned pairs
    * (|ℓ| beyond the calendar span) emit no row; a zero-variance leg
    * emits its row with NULL ccf.
    *
    * Scale shape: the corpus collapses to the daily frame upstream; the
    * (2·maxLag+1)-way expansion is one explode over that bounded frame
    * joined back to it — never corpus-scale. */
  def ccfTable(daily: DataFrame, orderCol: String, xCol: String,
               yCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "need maxLag >= 1")
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base = daily.select(col(orderCol).cast("long").as("t"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .transform(Lineage.cut(_, "Stats.ccfTable.base"))
    // y at t+lag keyed back to x's clock: join key = t_y − lag
    val right = base.select(col("t"), col("y"))
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .select(col("lag"), (col("t") - col("lag")).as("t"), col("y"))
    val agg = base.select("t", "x").join(right, Seq("t"))
      .groupBy("lag").agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(d0(col("x")) * col("x")).as("sxx"),
        sum(d0(col("y")) * col("y")).as("syy"),
        sum(d0(col("x")) * col("y")).as("sxy"))
      .withColumn("_den",
        sqrt(col("n_pairs") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx")) *
        sqrt(col("n_pairs") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy")))
      .withColumn("ccf", when(col("_den") > 0,
        (col("n_pairs") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy")) / col("_den")))
    val wPk = Window.orderBy(abs(col("ccf")).desc_nulls_last,
      abs(col("lag")), col("lag"))
    agg.withColumn("is_peak",
        row_number().over(wPk) === 1 && col("ccf").isNotNull)
      .select(col("lag"), col("n_pairs"), round(col("ccf"), 6).as("ccf"),
        col("is_peak"))
      .orderBy("lag")
  }

  /** Jonckheere–Terpstra test for an ORDERED alternative across k
    * groups: J = Σ_{g<h} U_gh, the pairwise Mann–Whitney counts summed
    * over ordered group pairs — rejects toward "later groups carry
    * stochastically larger values", the trend [[kruskalWallis]]'s
    * omnibus H cannot see (KW spends power on every permutation of the
    * groups; JT spends it all on the monotone ordering, the rank analog
    * of [[cochranArmitage]]'s binary trend). Kept ×2-cleared: j2 = 2J =
    * Σ 2·c_a·c_b·[v_a < v_b] + c_a·c_b·[v_a = v_b] (ties count half) is
    * an exact BIGINT, as is e2 = 2·E[J] = (N² − Σn_g²)/2; z uses the
    * standard no-tie null variance (N²(2N+3) − Σn_g²(2n_g+3))/72
    * (documented approximation under heavy ties — the statistic itself
    * stays exact).
    *
    * Scale shape: everything runs on the per-(group, value) histogram —
    * the pair expansion is histogram² bounded by (k·|V|)², never row².
    * BIGINT j2 holds to N ≈ 3·10⁹ rows; beyond that the decimal
    * accumulators widen, the tree does not change. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val base = df.select(col(groupCol).cast("long").as("g"),
      col(valueCol).cast("long").as("v"))
    val gv = base.groupBy("g", "v").agg(count(lit(1)).as("c"))
      .transform(Lineage.cut(_, "Stats.jonckheereTerpstra.gv"))
    val gvb = gv.select(col("g").as("gb"), col("v").as("vb"),
      col("c").as("cb"))
    val j = gv
      .join(gvb, col("g") < col("gb") && col("v") <= col("vb"))
      .agg(sum(when(col("v") < col("vb"),
          lit(2) * d0(col("c")) * col("cb"))
        .otherwise(d0(col("c")) * col("cb"))).as("j2"))
    val ns = gv.groupBy("g").agg(sum("c").as("n_g"))
    val tot = ns.agg(sum("n_g").as("nn"), count(lit(1)).as("k"),
      sum(d0(col("n_g")) * col("n_g")).as("sn2"),
      sum(d0(col("n_g")) * col("n_g") * (lit(2) * col("n_g") + 3))
        .as("t2"))
    tot.crossJoin(broadcast(j))
      .withColumn("e2",
        ((d0(col("nn")) * col("nn") - col("sn2")) / 2)
          .cast("decimal(38,0)"))
      .withColumn("var0",
        (d0(col("nn")) * col("nn") * (lit(2) * col("nn") + 3) -
          col("t2")).cast("double") / 72.0)
      .select(col("nn").as("n"), col("k"),
        col("j2").cast("long").as("j2"),
        col("e2").cast("long").as("e2"),
        when(col("var0") > 0,
          round((col("j2") - col("e2")).cast("double") /
            (lit(2.0) * sqrt(col("var0"))), 6)).as("z"))
  }

  /** Conover–Iman post-hoc after [[kruskalWallis]]: WHICH group pairs
    * differ in rank location, via t-statistics on mean midranks with
    * the pooled rank variance shrunk by the omnibus H —
    * t = (R̄_g − R̄_h) / √(S²·(N−1−H)/(N−k)·(1/n_g + 1/n_h)) with
    * S² = (Σr² − N(N+1)²/4)/(N−1) and H the TIE-CORRECTED statistic —
    * the rank analog of [[tukeyHsd]] (which this complements exactly:
    * HSD compares means assuming variance homogeneity, Conover compares
    * rank locations assuming nothing). Shares [[kruskalWallis]]'s
    * doubled-midrank lattice: every rank sum and Σr² is an exact
    * BIGINT/decimal (Σr² = ΣQ/4 with ΣQ = Σ t·r2²), H is rebuilt from
    * the same ingredients in the same fixed tree, and only the final
    * divisions are doubles. Pairs emit i < j in group order.
    *
    * Scale shape: identical to kruskalWallis — the DISTINCT-value
    * histogram carries everything; the pair table is k², categorical,
    * never data-scale. */
  def conoverIman(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val d0 = (c: Column) => c.cast("decimal(38,0)")
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val base = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val perV = base.groupBy("v").agg(count(lit(1)).as("t"))
    val wOrd = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perV
      .withColumn("below", coalesce(sum("t").over(wOrd), lit(0L)))
      .withColumn("r2", lit(2L) * col("below") + col("t") + 1)
      .transform(Lineage.cut(_, "Stats.conoverIman.ranked"))
    val gs = base.groupBy("g", "v").agg(count(lit(1)).as("n_gv"))
      .join(ranked.select("v", "r2"), Seq("v"))
      .groupBy("g")
      .agg(sum(col("n_gv") * col("r2")).as("s2"), sum("n_gv").as("n_g"))
      .transform(Lineage.cut(_, "Stats.conoverIman.gs"))
    val tot = ranked.agg(sum("t").as("nn"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie"),
      sum(d0(col("t")) * col("r2") * col("r2")).as("q4"))
    // H exactly as kruskalWallis assembles it (tie-corrected), then the
    // pooled rank variance S² = (ΣQ/4 − N(N+1)²/4)/(N−1)
    val hRow = gs.crossJoin(broadcast(tot))
      .withColumn("term",
        (d0(col("s2")) * col("s2")).cast("double") / 4.0 / col("n_g"))
      .groupBy("nn", "tie", "q4")
      .agg(count(lit(1)).as("k"),
        sum(d18(col("term"))).cast("double").as("s"))
      .withColumn("h",
        lit(12.0) / (col("nn").cast("double") * (col("nn") + 1)) *
          col("s") - lit(3.0) * (col("nn").cast("double") + 1))
      .withColumn("c", lit(1.0) - col("tie").cast("double") /
        (col("nn").cast("double") * col("nn") * col("nn") - col("nn")))
      .withColumn("h_adj", when(col("c") > 0, col("h") / col("c")))
      .withColumn("s_sq",
        (col("q4") - d0(col("nn")) * (col("nn") + 1) * (col("nn") + 1))
          .cast("double") / 4.0 / (col("nn").cast("double") - 1))
      .select(col("nn"), col("k"), col("h_adj"), col("s_sq"))
    val a = gs.select(col("g").as("g_a"), col("n_g").as("n_a"),
      (col("s2").cast("double") / 2.0 / col("n_g")).as("mr_a"))
    val b = gs.select(col("g").as("g_b"), col("n_g").as("n_b"),
      (col("s2").cast("double") / 2.0 / col("n_g")).as("mr_b"))
    a.join(b, col("g_a") < col("g_b")).crossJoin(broadcast(hRow))
      .withColumn("se", sqrt(col("s_sq") *
        ((col("nn").cast("double") - 1 - col("h_adj")) /
          (col("nn").cast("double") - col("k"))) *
        (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .select(col("g_a"), col("g_b"), col("n_a"), col("n_b"),
        round(col("mr_a"), 6).as("mean_rank_a"),
        round(col("mr_b"), 6).as("mean_rank_b"),
        when(col("se") > 0,
          round((col("mr_a") - col("mr_b")) / col("se"), 6)).as("t_stat"))
      .orderBy("g_a", "g_b")
  }

  /** Page's trend test over COMPLETE blocks — [[friedman]]'s ORDERED
    * twin, exactly as [[jonckheereTerpstra]] is [[kruskalWallis]]'s:
    * with treatments carrying a hypothesized order (mapped to 1..k by
    * dense rank over the treatment key), L = Σ_j j·R_j concentrates all
    * power on the monotone alternative the omnibus χ²_F dilutes across
    * permutations. Ranks are within-block doubled midranks (friedman's
    * lattice), so l2 = 2L is an exact BIGINT; e2 = 2·E[L] =
    * n·k(k+1)²/2 likewise; z uses the standard no-tie null variance
    * n·k²(k+1)(k²−1)/144 (documented approximation under ties — the
    * statistic itself stays exact).
    *
    * Scale shape: per-block windows over k rows each, one treatment
    * aggregate, driver-width arithmetic — [[friedman]]'s shape. */
  def pageTrend(cells: DataFrame, blockCol: String, treatCol: String,
                valueCol: String): DataFrame = {
    val base = cells.select(col(blockCol).as("b"), col(treatCol).as("j"),
      col(valueCol).cast("long").as("v"))
    val kTot = base.agg(countDistinct("j").as("k"))
    val complete = base
      .withColumn("n_b", count(lit(1)).over(Window.partitionBy("b")))
      .crossJoin(broadcast(kTot))
      .filter(col("n_b") === col("k"))
    val wBlk = Window.partitionBy("b").orderBy("v")
    val wTie = Window.partitionBy("b", "v")
    val ranked = complete
      .withColumn("below", rank().over(wBlk).cast("long") - 1)
      .withColumn("t", count(lit(1)).over(wTie))
      .withColumn("r2", lit(2L) * col("below") + col("t") + 1)
    val perJ = ranked.groupBy("j").agg(max("k").as("k"),
      count(lit(1)).as("n"), sum("r2").as("rj2"))
    val wJ = Window.orderBy("j")
    perJ.withColumn("ord", dense_rank().over(wJ).cast("long"))
      .agg(max("n").as("n"), max("k").as("k"),
        sum(col("ord") * col("rj2")).as("l2"))
      // n·k(k+1)² is always even (k(k+1) is); integer div keeps e2 exact
      .withColumn("e2", expr("n * k * (k + 1) * (k + 1) div 2"))
      .withColumn("var0",
        (col("n") * col("k") * col("k") * (col("k") + 1) *
          (col("k") * col("k") - 1)).cast("double") / 144.0)
      .select(col("n").as("n_blocks"), col("k"), col("l2"), col("e2"),
        when(col("var0") > 0,
          round((col("l2") - col("e2")).cast("double") /
            (lit(2.0) * sqrt(col("var0"))), 6)).as("z"))
  }

  /** Empirical-Bayes shrinkage of per-segment binomial rates under a
    * method-of-moments Beta prior (the Robinson batting-average
    * construction): fit Beta(a, b) to the ACROSS-segment distribution
    * of raw rates — μ and the sample variance of s_g/n_g, then
    * m = μ(1−μ)/σ² − 1, a = μ·m, b = (1−μ)·m — and report each
    * segment's posterior mean (s_g + a)/(n_g + a + b): small segments
    * pull hard toward the global prior, large segments keep their own
    * rate. The MULTI-GROUP completion of [[betaBinomialAb]] (two arms,
    * uniform prior): here the prior itself is learned from the segment
    * population, which is what makes small-segment league tables
    * honest. Degenerate priors (σ² = 0, or m ≤ 0 when the rates are
    * OVER-dispersed past what any Beta allows) fall back to the raw
    * rate with NULL prior columns — never a silent pretend-shrink.
    * Per-segment rates are deterministic doubles; the across-segment
    * moment sums are decimal-18 accumulated (order-independent), and
    * everything downstream is a fixed double tree.
    *
    * Scale shape: one pass to the per-segment frame upstream, one
    * |segments|-row moment aggregate, one broadcast join back. */
  def ebBetaBinomialShrink(perSeg: DataFrame, segCol: String,
                           nCol: String, sCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val base = perSeg.select(col(segCol).as("seg"),
        col(nCol).cast("long").as("n"), col(sCol).cast("long").as("s"))
      .filter(col("n") > 0)
      .withColumn("raw", col("s").cast("double") / col("n"))
    val mom = base.agg(count(lit(1)).as("k"),
        sum(d18(col("raw"))).cast("double").as("sr"),
        sum(d18(col("raw") * col("raw"))).cast("double").as("srr"))
      .withColumn("mu", col("sr") / col("k"))
      // guard k = 1 inside the row (a filter would empty the frame and
      // the crossJoin with it — the fallback must still see one row)
      .withColumn("v", when(col("k") > 1,
        (col("srr") - col("sr") * col("sr") / col("k")) /
          (col("k").cast("double") - 1)))
      .withColumn("m", when(col("v") > 0,
        col("mu") * (lit(1.0) - col("mu")) / col("v") - 1))
      .withColumn("a", when(col("m") > 0, col("mu") * col("m")))
      .withColumn("b",
        when(col("m") > 0, (lit(1.0) - col("mu")) * col("m")))
      .select("a", "b")
    base.crossJoin(broadcast(mom))
      .select(col("seg"), col("n"), col("s"),
        round(col("raw"), 6).as("raw_rate"),
        round(coalesce(
          (col("s") + col("a")) / (col("n") + col("a") + col("b")),
          col("raw")), 6).as("shrunk_rate"),
        round(col("a"), 6).as("prior_a"),
        round(col("b"), 6).as("prior_b"))
  }
}

