package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-quality evaluation over scored corpora — the measurement
  * half of model-based data curation: a fastText/DCLM-style quality
  * score (see [[TextQuality.classifierScore]]) is only trusted after its
  * ranking power (AUC) and calibration are measured against a reference
  * label. The reference evaluates retrieval answers one row at a time
  * (reference: src/server/app/testbed package); these are the corpus-scale
  * equivalents for the FILTERING models a 100 TB pipeline runs first.
  *
  * Replay-exactness: AUC is computed from the Mann-Whitney rank-sum in
  * DOUBLED integer units (`2U` — ties contribute exactly 1 unit each),
  * so everything up to the final division is BIGINT arithmetic, exact
  * and partitioning-independent; calibration-bin members are integers
  * plus one fixed float binning expression mirrored in the oracle.
  */
object Evaluation {

  /** Exact ROC-AUC by Mann-Whitney rank-sum with the standard tie
    * correction: `AUC = [Σ_s n_pos(s)·(2·cumNeg(<s) + n_neg(s))] /
    * (2·P·N)`, accumulated over DISTINCT score values in ascending
    * order. Equal scores contribute ½ per (pos, neg) pair — doubling
    * keeps the numerator an exact BIGINT.
    *
    * Scale shape: one groupBy collapses the corpus to its distinct
    * score values map-side; the ordered cumulative window then runs
    * over |distinct scores| rows, not |corpus| rows, and the result is
    * a single row. Returns (n_pos, n_neg, u2, auc); a single-class
    * input (P = 0 or N = 0) yields NULL auc. Delegates to
    * [[aucByRankSumBy]] with a constant group. */
  def aucByRankSum(scored: DataFrame, scoreCol: String,
                   labelCol: String): DataFrame =
    aucByRankSumBy(scored.withColumn("_g", lit(1)), "_g", scoreCol, labelCol)
      .drop("_g")

  /** [[aucByRankSum]] per group — the fairness/bias slice of the same
    * exact statistic: a classifier whose global AUC is healthy can still
    * be near-random on one language or source, and that slice is what a
    * per-stratum quality gate must see before the classifier's threshold
    * is applied corpus-wide. Same doubled-BIGINT arithmetic; the
    * cumulative window partitions by group so each stratum's rank-sum is
    * independent. A single-class group (no positives or no negatives)
    * has no defined AUC — it keeps its row with NULL auc (the q100
    * absent-rows rule). Returns (group, n_pos, n_neg, u2, auc). */
  def aucByRankSumBy(scored: DataFrame, groupCol: String, scoreCol: String,
                     labelCol: String): DataFrame = {
    val byScore = scored
      .groupBy(col(groupCol), col(scoreCol).as("_s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("_np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("_nn"))
    val w = Window.partitionBy(col(groupCol)).orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("_cum_nn", coalesce(sum("_nn").over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(sum("_np").cast("long").as("n_pos"),
        sum("_nn").cast("long").as("n_neg"),
        sum(col("_np") * (lit(2L) * col("_cum_nn") + col("_nn")))
          .cast("long").as("u2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double") / (lit(2L) * col("n_pos") * col("n_neg")))
          .as("auc"))
  }

  /** Reliability diagram: bin a score known to lie in [-0.5, 0.5]
    * (a [[TextQuality.classifierScore]] margin) into `nBins` fixed
    * equal-width bins and report each bin's size and positive fraction —
    * a well-calibrated score's `frac_pos` rises monotonically with the
    * bin. Fixed bin edges (not data-derived quantiles) keep the binning
    * a pure per-row function: zero-shuffle until the final small
    * aggregation. Returns (bin, n, n_pos, frac_pos, min_score,
    * max_score) for non-empty bins. */
  def calibrationBins(scored: DataFrame, scoreCol: String,
                      labelCol: String, nBins: Int = 10): DataFrame =
    scored
      // fixed float expression, mirrored verbatim in the oracle
      .withColumn("bin",
        least(greatest(floor((col(scoreCol) + lit(0.5)) * nBins).cast("int"),
          lit(0)), lit(nBins - 1)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        min(scoreCol).as("min_score"),
        max(scoreCol).as("max_score"))
      .select(col("bin"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n")).as("frac_pos"),
        col("min_score"), col("max_score"))

  /** EXACT isotonic regression over binned counts — the PAV calibration
    * fit without the sequential pooling loop, via the closed max-min
    * form: `iso(i) = max_{j≤i} min_{k≥i} avg(j..k)` where `avg(j..k)` is
    * the pooled positive rate `Σpos / Σn` over the bin range. On a
    * B-bin frame that is a B³ triple enumeration — trivial for the
    * 10-100 bins a reliability diagram uses, and fully declarative, so
    * it runs identically on any engine and replays in the oracle
    * (range sums are exact integer differences of prefix sums; each avg
    * is ONE double division; min/max of doubles are order-free).
    * Input: (binCol, nCol, posCol) counts. Output adds `iso`, the
    * non-decreasing calibrated rate (spec-pinned monotone, and equal to
    * sklearn's IsotonicRegression on the same weighted points). */
  def isotonicFit(bins: DataFrame, binCol: String, nCol: String,
                  posCol: String): DataFrame = {
    val base = bins.select(col(binCol).cast("long").as("b"),
      col(nCol).cast("long").as("n"), col(posCol).cast("long").as("pos"))
    val wcum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base
      .withColumn("cn", sum("n").over(wcum))
      .withColumn("cp", sum("pos").over(wcum))
    val j = cum.select(col("b").as("j"),
      (col("cn") - col("n")).as("cnj"), (col("cp") - col("pos")).as("cpj"))
    val k = cum.select(col("b").as("k"), col("cn").as("cnk"),
      col("cp").as("cpk"))
    val ranges = j.join(k, col("j") <= col("k"))
      .withColumn("avg", (col("cpk") - col("cpj")).cast("double") /
        (col("cnk") - col("cnj")))
    val iso = base.select(col("b").as("i"))
      .join(ranges, col("j") <= col("i") && col("i") <= col("k"))
      .groupBy("i", "j").agg(min("avg").as("minavg"))
      .groupBy("i").agg(max("minavg").as("iso"))
    bins.join(iso, col(binCol) === col("i")).drop("i")
  }

  /** nDCG@k of an approximate ranking against the exact one, with
    * RATIONAL discounts: gain = k+1−exact_rank (graded), discount 1/r
    * scaled by L = lcm(1..k) so every DCG term `gain·(L/r)` is an exact
    * BIGINT — the log2 discount's irrational terms would make the sum
    * order-dependent in floats. Numerator and denominator stay integers
    * until the single final division, so the metric is exact under any
    * partitioning (the same discipline as [[aucByRankSum]]).
    *
    * Both inputs carry (queryIdCol, idCol, rankCol) with rank 1..k.
    * Scale shape: one broadcast-sized join per (query, result) row plus
    * a per-query rollup — no corpus-sized shuffle. Returns
    * (queryIdCol, dcg_num, idcg_num, ndcg). */
  def ndcgRational(approx: DataFrame, exact: DataFrame, queryIdCol: String,
                   idCol: String, rankCol: String, k: Int): DataFrame = {
    val lcmK = (1 to k).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val rel = exact.select(col(queryIdCol), col(idCol),
      (lit(k + 1) - col(rankCol)).cast("long").as("_rel"))
    val dcg = approx
      .select(col(queryIdCol), col(idCol), col(rankCol).cast("long").as("_r"))
      .join(rel, Seq(queryIdCol, idCol), "left")
      .groupBy(col(queryIdCol))
      // `div`, not `/`: lcmK % r == 0 so the weight is an exact BIGINT
      .agg(sum(coalesce(col("_rel"), lit(0L)) * expr(s"${lcmK}L div _r"))
        .cast("long").as("dcg_num"))
    val idcg = rel
      .groupBy(col(queryIdCol))
      // ideal ordering: rels are k..1, so ideal rank of gain g is k+1−g
      .agg(sum(col("_rel") * expr(s"${lcmK}L div (${k + 1}L - _rel)"))
        .cast("long").as("idcg_num"))
    idcg.join(dcg, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("dcg_num"), lit(0L)).as("dcg_num"), col("idcg_num"),
        (coalesce(col("dcg_num"), lit(0L)).cast("double") / col("idcg_num"))
          .as("ndcg"))
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Cohen's κ agreement between two boolean raters over the same rows —
    * the standard check that a cheap model-based quality gate agrees
    * with a rule-based one beyond chance before either is trusted to
    * filter a 100 TB corpus. Entirely integer contingency counts; κ is
    * the single exact ratio (N·Σdiag − Σ_c rowN_c·colN_c) /
    * (N² − Σ_c rowN_c·colN_c), divided once at the end.
    * One map-side-combined aggregate → one row:
    * (n, n_both, n_a_only, n_b_only, n_neither, po, pe, kappa). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.agg(count(lit(1)).as("n"),
        sum(when(col(aCol) && col(bCol), 1L).otherwise(0L)).as("n_both"),
        sum(when(col(aCol) && !col(bCol), 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!col(aCol) && col(bCol), 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!col(aCol) && !col(bCol), 1L).otherwise(0L)).as("n_neither"))
      .withColumn("_agree", col("n_both") + col("n_neither"))
      .withColumn("_chance",
        (col("n_both") + col("n_a_only")) * (col("n_both") + col("n_b_only")) +
          (col("n_b_only") + col("n_neither")) * (col("n_a_only") + col("n_neither")))
      .select(col("n"), col("n_both"), col("n_a_only"), col("n_b_only"),
        col("n_neither"),
        (col("_agree").cast("double") / col("n")).as("po"),
        (col("_chance").cast("double") / (col("n") * col("n"))).as("pe"),
        ((col("n") * col("_agree") - col("_chance")).cast("double") /
          (col("n") * col("n") - col("_chance"))).as("kappa"))

  /** External clustering validation against reference labels: purity and
    * the EXACT adjusted Rand index. A clustering (IVF cells, dedup
    * clusters, grid-DBSCAN) is only trusted for curation once its
    * agreement with a known partition is measured; ARI is the standard
    * chance-corrected statistic and — unlike NMI, whose entropies need
    * transcendental logs — is pure pair-counting: every term is a
    * binomial C(x,2) of an exact BIGINT, so the whole statistic replays
    * cross-engine (the final ratio is one fixed double tree).
    *
    * Scale shape: ONE contingency aggregate (cluster, label) with
    * map-side partials — the corpus collapses to |clusters|·|labels|
    * rows; everything after runs on that tiny table. Returns one row
    * (n, n_clusters, n_labels, sum_ij, sum_a, sum_b, purity_num,
    * purity, ari). */
  def clusterAgreement(df: DataFrame, clusterCol: String,
                       labelCol: String): DataFrame = {
    val ct = df.groupBy(col(clusterCol).as("_c"), col(labelCol).as("_l"))
      .agg(count(lit(1)).as("nij"))
    val sij = ct.agg(
      sum(expr("(nij * (nij - 1)) div 2")).cast("long").as("sum_ij"))
    val ai = ct.groupBy("_c").agg(sum("nij").as("a"), max("nij").as("mx"))
    val sa = ai.agg(count(lit(1)).as("n_clusters"),
      sum(expr("(a * (a - 1)) div 2")).cast("long").as("sum_a"),
      sum("a").cast("long").as("n"),
      sum("mx").cast("long").as("purity_num"))
    val sb = ct.groupBy("_l").agg(sum("nij").as("b"))
      .agg(count(lit(1)).as("n_labels"),
        sum(expr("(b * (b - 1)) div 2")).cast("long").as("sum_b"))
    val d = (c: Column) => c.cast("double")
    val joined = sa.crossJoin(broadcast(sij)).crossJoin(broadcast(sb))
      .withColumn("_c2n", expr("(n * (n - 1)) div 2"))
    val expPairs = d(col("sum_a")) * d(col("sum_b")) / d(col("_c2n"))
    joined.select(col("n"), col("n_clusters"), col("n_labels"),
      col("sum_ij"), col("sum_a"), col("sum_b"), col("purity_num"),
      (d(col("purity_num")) / d(col("n"))).as("purity"),
      ((d(col("sum_ij")) - expPairs) /
        ((d(col("sum_a")) + d(col("sum_b"))) / 2.0 - expPairs)).as("ari"))
  }

  /** Leave-one-source-out AUC — source ablation for the data-valuation
    * question "which source is propping up (or dragging down) the
    * classifier?": for every source, the exact Mann-Whitney AUC of the
    * corpus WITHOUT that source, from ONE pass. Recomputing per source
    * would rescan the corpus |sources| times; instead the doubled
    * rank-sum decomposes over (positive's source, negative's source)
    * pairs — U = Σ U(sp, sn) — so U_without(s) =
    * U_total − row_s − col_s + U(s,s), all exact BIGINTs.
    *
    * Scale shape: one (score, source) tally aggregate collapses the
    * corpus; the cumulative-negative grid and the U matrix live on
    * |distinct scores| × |sources| rows (an audit op — sources are tens,
    * not millions). Returns per source: (source, n_pos_excl, n_neg_excl,
    * u2_excl, auc_full, auc_without, delta_auc); a removal that leaves a
    * single-class corpus yields NULL auc_without/delta_auc. */
  def sourceAblationAuc(scored: DataFrame, sourceCol: String,
                        scoreCol: String, labelCol: String): DataFrame = {
    val byScore = scored
      .groupBy(col(scoreCol).as("_s"), col(sourceCol).as("_src"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("_np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("_nn"))
    val grid = byScore.select("_s").distinct()
      .crossJoin(broadcast(byScore.select("_src").distinct()))
      .join(byScore.select("_s", "_src", "_nn"), Seq("_s", "_src"), "left")
      .na.fill(0L, Seq("_nn"))
    val w = Window.partitionBy("_src").orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val negGrid = grid
      .withColumn("_cum_nn", coalesce(sum("_nn").over(w), lit(0L)))
    val u = byScore.filter(col("_np") > 0)
      .select(col("_s"), col("_src").as("_sp"), col("_np"))
      .join(negGrid.select(col("_s"), col("_src").as("_sn"),
        col("_cum_nn"), col("_nn")), Seq("_s"))
      .groupBy("_sp", "_sn")
      .agg(sum(col("_np") * (lit(2L) * col("_cum_nn") + col("_nn")))
        .cast("long").as("_u2"))
    val tot = scored.groupBy(col(sourceCol))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("_p"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("_nneg"))
    val g = tot.agg(sum("_p").cast("long").as("_pt"),
      sum("_nneg").cast("long").as("_nt"))
    val ut = u.agg(sum("_u2").cast("long").as("_u2t"))
    val rowU = u.groupBy(col("_sp").as(sourceCol))
      .agg(sum("_u2").cast("long").as("_ur"))
    val colU = u.groupBy(col("_sn").as(sourceCol))
      .agg(sum("_u2").cast("long").as("_uc"))
    val diagU = u.filter(col("_sp") === col("_sn"))
      .select(col("_sp").as(sourceCol), col("_u2").as("_ud"))
    val d = (c: Column) => c.cast("double")
    tot.join(rowU, Seq(sourceCol), "left").join(colU, Seq(sourceCol), "left")
      .join(diagU, Seq(sourceCol), "left")
      .na.fill(0L, Seq("_ur", "_uc", "_ud"))
      .crossJoin(broadcast(g)).crossJoin(broadcast(ut))
      .withColumn("n_pos_excl", col("_pt") - col("_p"))
      .withColumn("n_neg_excl", col("_nt") - col("_nneg"))
      .withColumn("u2_excl",
        col("_u2t") - col("_ur") - col("_uc") + col("_ud"))
      .withColumn("auc_full",
        when(col("_pt") > 0 && col("_nt") > 0,
          d(col("_u2t")) / (lit(2L) * col("_pt") * col("_nt"))))
      .withColumn("auc_without",
        when(col("n_pos_excl") > 0 && col("n_neg_excl") > 0,
          d(col("u2_excl")) /
            (lit(2L) * col("n_pos_excl") * col("n_neg_excl"))))
      .withColumn("delta_auc", col("auc_without") - col("auc_full"))
      .select(col(sourceCol), col("n_pos_excl"), col("n_neg_excl"),
        col("u2_excl"), col("auc_full"), col("auc_without"),
        col("delta_auc"))
  }

  /** χ² feature selection over document terms — the token-level
    * discrimination audit behind every fastText-style quality/domain
    * classifier: for each term, the 2×2 presence/label contingency
    * χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)), where a/b = labeled/
    * unlabeled docs containing the term and c/d the docs without it.
    * The top-χ² terms are the vocabulary worth hashing into the model
    * ([[TextQuality.classifierScore]]'s features), and the audit that
    * catches label-leaking tokens before training.
    *
    * Scale shape: distinct (doc, term) presence pairs collapse to one
    * per-term aggregate with map-side partials (two conditional sums);
    * the label totals ride as a one-row broadcast. All contingency
    * counts are exact BIGINTs; χ² evaluates in double over those exact
    * integers with one fixed expression tree, so an oracle replays it
    * bit-for-bit. Terms present in every document (degenerate zero
    * denominator) score 0. Returns the `topK` rows
    * (term, n_label, n_rest, chi2), ties broken by term. */
  def chi2TopTerms(docs: DataFrame, idCol: String, textCol: String,
                   labelCol: String, topK: Int): DataFrame = {
    val present = docs
      .select(col(idCol).as("_id"), col(labelCol).cast("boolean").as("_lab"),
        explode(array_distinct(
          filter(split(lower(col(textCol)), "\\s+"), t => t =!= ""))).as("term"))
    val totals = docs
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("_n1"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("_n0"))
    val perTerm = present.groupBy("term").agg(
      sum(when(col("_lab"), 1L).otherwise(0L)).as("a"),
      sum(when(col("_lab"), 0L).otherwise(1L)).as("b"))
    val d = (c: Column) => c.cast("double")
    perTerm.crossJoin(broadcast(totals))
      .withColumn("c", col("_n1") - col("a"))
      .withColumn("d", col("_n0") - col("b"))
      .withColumn("chi2", {
        val num = d(col("a")) * d(col("d")) - d(col("b")) * d(col("c"))
        val den = d(col("a") + col("b")) * d(col("c") + col("d")) *
          d(col("a") + col("c")) * d(col("b") + col("d"))
        when(den === 0.0, 0.0)
          .otherwise(d(col("_n1") + col("_n0")) * num * num / den)
      })
      .select(col("term"), col("a").as("n_label"), col("b").as("n_rest"),
        col("chi2"))
      .orderBy(col("chi2").desc, col("term"))
      .limit(topK)
  }

  /** Ranking-stability audit between two top-k lists (e.g. a scorer
    * change, BM25 vs its PRF-expanded rerun): overlap@k plus the EXACT
    * Kendall tau on the common documents — concordant/discordant pair
    * counts over the two rank columns, all integers until one final
    * division (ranks within a list are distinct, so no tie terms). The
    * promote-gate question for any ranker change: "how much did the
    * ordering actually move?". Lists are top-k — driver-scale frames —
    * so every join here is trivially broadcast. Returns one row:
    * (n_common, overlap_at_k, n_concordant, n_discordant, tau);
    * tau is NULL when fewer than 2 common docs. */
  def rankAgreement(a: DataFrame, b: DataFrame, idCol: String,
                    rankCol: String, k: Int): DataFrame = {
    val cm = a.select(col(idCol).as("_id"), col(rankCol).as("_ra"))
      .join(b.select(col(idCol).as("_id"), col(rankCol).as("_rb")), "_id")
    val pairs = cm.toDF("_id", "_ra", "_rb")
      .join(cm.toDF("_id2", "_ra2", "_rb2"), col("_id") < col("_id2"))
      .select(when((col("_ra") - col("_ra2")) * (col("_rb") - col("_rb2")) > 0,
        1L).otherwise(0L).as("_conc"))
    val pa = pairs.agg(count(lit(1)).as("_np"),
      sum("_conc").cast("long").as("n_concordant"))
    cm.agg(count(lit(1)).as("n_common")).crossJoin(pa)
      .select(col("n_common"),
        (col("n_common").cast("double") / k).as("overlap_at_k"),
        coalesce(col("n_concordant"), lit(0L)).as("n_concordant"),
        (col("_np") - coalesce(col("n_concordant"), lit(0L)))
          .as("n_discordant"),
        when(col("_np") > 0,
          (lit(2L) * coalesce(col("n_concordant"), lit(0L)) - col("_np"))
            .cast("double") / col("_np")).as("tau"))
  }

  /** Offline policy evaluation by inverse-propensity replay (Li et al.
    * 2011): learn a deterministic policy π(ctx) = the action with the
    * highest mean TRAIN reward (ties → lexicographic), then estimate its
    * value on the EVAL split as K·Σ_{a=π(ctx)} r / n — the
    * uniform-logging IPS estimator, the standard counterfactual "what
    * would this policy have earned" readout before an online test.
    * Contexts absent from training are dropped (no policy to replay).
    * Rewards are integer cents; the estimate is one exact-int double
    * division per context. Two aggregates + broadcast joins — nothing
    * row-quadratic. */
  def ipsPolicyEval(train: DataFrame, evalDf: DataFrame, ctxCol: String,
                    actionCol: String, rewardCol: String): DataFrame = {
    val pol = train.groupBy(col(ctxCol).as("ctx"), col(actionCol).as("act"))
      .agg(sum(rewardCol).as("_s"), count(lit(1)).as("_c"))
      .withColumn("_mean", col("_s").cast("double") / col("_c"))
      .groupBy("ctx")
      .agg(min_by(col("act"), struct((-col("_mean")).as("nm"), col("act")))
        .as("pi"))
    val kk = train.agg(countDistinct(col(actionCol)).as("_K"))
    evalDf.select(col(ctxCol).as("ctx"), col(actionCol).as("act"),
        col(rewardCol).as("_r"))
      .join(broadcast(pol), "ctx")
      .crossJoin(broadcast(kk))
      .groupBy("ctx", "pi")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("act") === col("pi"), 1L).otherwise(0L))
          .as("n_matched"),
        sum(when(col("act") === col("pi"), col("_r")).otherwise(0L))
          .as("matched_cents"),
        ((max("_K") * sum(when(col("act") === col("pi"), col("_r"))
          .otherwise(0L))).cast("double") / count(lit(1))).as("ips_value"))
  }

  /** Truncated rank-biased overlap (Webber, Moffat & Zobel 2010)
    * between two top-`depth` rankings: RBO = (1−p)·Σ_d p^{d−1}·A_d
    * with A_d the prefix-overlap fraction at depth d — the
    * top-weighted ranking-similarity measure that, unlike Kendall's τ
    * (q236's family), handles non-conjoint lists (items present in one
    * ranking only) and weights rank 1 disagreements hardest. An item in
    * both prefixes at ranks (r1, r2) contributes to every A_d with
    * d ≥ max(r1, r2), so RBO reduces to Σ_items c_{max(r1,r2)} with
    * c_m = Σ_{d=m..depth} (1−p)·p^{d−1}/d — those `depth` coefficients
    * are computed HERE at plan-build time and embedded as identical
    * double literals in both engines (libm-free at data time; the
    * Wald-SPRT constant discipline). `rbo_max` adds the p^depth mass an
    * untruncated agreement could still claim.
    *
    * Scale shape: both inputs are top-k-bounded lists; one inner join +
    * one 10-row aggregate. */
  def rankBiasedOverlap(l1: DataFrame, l2: DataFrame, idCol: String,
                        rankCol: String, depth: Int,
                        p: Double): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val coef: Map[Int, Double] = (1 to depth).map { m =>
      m -> (m to depth).map(d => (1 - p) * math.pow(p, d - 1) / d).sum
    }.toMap
    val a = l1.select(col(idCol).cast("long").as("id"),
      col(rankCol).cast("int").as("r1")).filter(col("r1") <= depth)
    val b = l2.select(col(idCol).cast("long").as("id"),
      col(rankCol).cast("int").as("r2")).filter(col("r2") <= depth)
    val cc = (1 to depth).foldLeft(lit(0.0)) { (acc, m) =>
      when(greatest(col("r1"), col("r2")) === m, lit(coef(m)))
        .otherwise(acc)
    }
    a.join(b, Seq("id"))
      .agg(count(lit(1)).as("n_common"),
        coalesce(sum(d18(cc)), lit(0).cast("decimal(38,18)"))
          .cast("double").as("_rbo"))
      .select(lit(depth).as("depth"), col("n_common"),
        round(col("_rbo"), 9).as("rbo_trunc"),
        round(col("_rbo") + lit(math.pow(p, depth)), 9).as("rbo_max"))
  }

  /** Doubly-robust off-policy evaluation (Dudík, Langford & Li 2011) of
    * the greedy policy π(ctx) = argmax mean-train-reward, on a held-out
    * eval split under uniform-over-K logging:
    *
    *   DR = mean[ Q̂(ctx, π) + K·1{a = π}·(r − Q̂(ctx, a)) ]
    *
    * The direct-model term Q̂(ctx, π) keeps the estimate low-variance
    * where the model is right; the IPS correction keeps it unbiased
    * where the model is wrong — if EITHER the propensities or Q̂ are
    * correct, DR is consistent (hence "doubly"). Complements
    * [[ipsPolicyEval]]: same policy, same replay, strictly lower
    * variance. (ctx, a) pairs unseen in training back off to Q̂ = 0
    * (the correction term then carries the estimate); contexts with no
    * training policy are dropped, as in the IPS operator.
    *
    * Every Q̂ is one exact-int double division; the per-row DR terms
    * are identical trees whose mean decimal-accumulates, so no value is
    * rounded. Scale: two aggregates over the splits + broadcast
    * model/policy joins + one rollup. */
  def doublyRobustOpe(train: DataFrame, evalDf: DataFrame, ctxCol: String,
                      actionCol: String, rewardCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val q = train.groupBy(col(ctxCol).as("ctx"), col(actionCol).as("act"))
      .agg(sum(rewardCol).as("_s"), count(lit(1)).as("_c"))
      .withColumn("qhat", col("_s").cast("double") / col("_c"))
      .select("ctx", "act", "qhat")
    val pol = q.groupBy("ctx")
      .agg(min_by(col("act"), struct((-col("qhat")).as("nm"), col("act")))
        .as("pi"))
    val qpi = pol.join(q, pol("ctx") === q("ctx") && pol("pi") === q("act"))
      .select(pol("ctx"), pol("pi"), col("qhat").as("q_pi"))
    val kk = train.agg(countDistinct(col(actionCol)).as("_K"))
    val terms = evalDf.select(col(ctxCol).as("ctx"),
        col(actionCol).as("act"), col(rewardCol).cast("long").as("_r"))
      .join(broadcast(qpi), "ctx")
      .join(broadcast(q.withColumnRenamed("qhat", "q_a")), Seq("ctx", "act"),
        "left")
      .crossJoin(broadcast(kk))
      .withColumn("_ind", when(col("act") === col("pi"), 1L).otherwise(0L))
      .withColumn("_dr", col("q_pi") + (col("_K") * col("_ind")) *
        (col("_r").cast("double") - coalesce(col("q_a"), lit(0.0))))
    terms.groupBy("ctx", "pi")
      .agg(count(lit(1)).as("n_eval"),
        sum("_ind").as("n_matched"),
        max("q_pi").as("dm_value"),
        ((max("_K") * sum(when(col("_ind") === 1, col("_r")).otherwise(0L)))
          .cast("double") / count(lit(1))).as("ips_value"),
        // 6dp: a 26-digit decimal total casts to double with ONE
        // rounding in Spark but two in DuckDB (hugeint/10^s) — 1-ulp
        // parity noise the display rounding absorbs
        round(sum(d18(col("_dr"))).cast("double") / count(lit(1)), 6)
          .as("dr_value"))
      .withColumnRenamed("ctx", ctxCol)
  }

  /** Cumulative gains / lift table: rows ranked by score DESC (ties →
    * `idCol`) split into `buckets` equal rank slices; per slice the
    * positive count plus running totals and the cumulative lift
    * (cum_pos·N) / (cum_n·P) — "how much better than random is the top
    * X%", the model-promotion readout that complements AUC (q158) and
    * calibration (q159). Rank arithmetic is exact integers; lift is one
    * double division. The global rank window is the same exact-gate /
    * histogram-at-scale trade as [[Stats.quantileNormalize]]. */
  def liftTable(scored: DataFrame, idCol: String, scoreCol: String,
                labelCol: String, buckets: Int = 10): DataFrame = {
    val tot = scored.agg(count(lit(1)).as("_tn"),
      sum(when(col(labelCol), 1L).otherwise(0L)).as("_tp"))
    val ranked = scored
      .withColumn("_r", row_number()
        .over(Window.orderBy(col(scoreCol).desc, col(idCol))).cast("long"))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"($buckets * _r + _tn - 1) div _tn"))
    val per = ranked.groupBy("bucket").agg(
      count(lit(1)).as("n"),
      sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
      max("_tn").as("_tn"), max("_tp").as("_tp"))
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("cum_n", sum("n").over(wc))
      .withColumn("cum_pos", sum("n_pos").over(wc))
      .withColumn("cum_lift", when(col("_tp") > 0,
        (col("cum_pos") * col("_tn")).cast("double") /
          (col("cum_n") * col("_tp"))))
      .select("bucket", "n", "n_pos", "cum_n", "cum_pos", "cum_lift")
  }

  /** Bradley–Terry strength fit from pairwise duels — the standard
    * aggregate readout of preference data (the reward-model baseline for
    * RLHF-style corpora; Hunter 2004's MM iteration). `pairs` has one row
    * per duel (winner item, loser item); returns per item its play/win
    * counts and the strength after `iters` fixed MM rounds
    * s_i ← W_i / Σ_j m_ij/(s_i+s_j), started from s=1 and normalized to
    * sum 1 at the end.
    *
    * Scale + replay shape: the duel aggregation is the only pass over the
    * data — the iteration runs on the ITEM × ITEM match matrix (items are
    * bounded: sources, models, arms — never documents). Each round's
    * opponent sum accumulates in DECIMAL(38,18) (order-independent), and
    * every division is a single double op on identical operand trees, so
    * the DuckDB oracle unrolls the same `iters` CTEs bit-for-bit. A
    * never-winning item fixes at strength 0 (the MM fixpoint). */
  def bradleyTerry(pairs0: DataFrame, winCol: String, loseCol: String,
                   iters: Int = 3): DataFrame = {
    // the duel frame feeds wins, the match matrix, AND every MM round's
    // joins — materialize it once (eager, lineage-truncating) so an
    // expensive upstream build (a corpus window) runs once, not ~2·iters
    // times (the pageRank e.cache() precedent; 2.9 s → sub-second at
    // sf0.1)
    val pairs = Lineage.cut(pairs0.select(col(winCol), col(loseCol)),
      "Evaluation.bradleyTerry.pairs")
    val wins = pairs.groupBy(col(winCol).as("item"))
      .agg(count(lit(1)).as("wins"))
    // symmetric match counts m(i,j): duels between i and j in either order
    val d1 = pairs.select(col(winCol).as("i"), col(loseCol).as("j"))
    val m = d1.union(d1.select(col("j"), col("i")))
      .groupBy("i", "j").agg(count(lit(1)).as("m"))
    val items = m.select(col("i").as("item")).distinct()
    val w = items.join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"))
    val dec = (c: Column) => sum(c.cast("decimal(38,18)")).cast("double")
    var s = w.select(col("item"), lit(1.0).as("s"))
    for (_ <- 1 to iters) {
      val denom = m
        .join(s.select(col("item").as("i"), col("s").as("si")), "i")
        .join(s.select(col("item").as("j"), col("s").as("sj")), "j")
        .groupBy("i")
        .agg(dec(col("m").cast("double") / (col("si") + col("sj"))).as("d"))
      s = w.join(denom.select(col("i").as("item"), col("d")), "item")
        .select(col("item"),
          (col("wins").cast("double") / col("d")).as("s"))
    }
    val total = s.agg(dec(col("s")).as("tot"))
    val games = m.groupBy("i").agg(sum("m").as("n_duels"))
    w.join(s, "item")
      .join(games.select(col("i").as("item"), col("n_duels")), "item")
      .crossJoin(broadcast(total))
      .select(col("item"), col("n_duels"), col("wins"),
        round(col("s") / col("tot"), 6).as("strength"))
  }

  /** kNN label-disagreement screen — the distributable core of
    * confident-learning-style label QA (Northcutt et al. 2021): for every
    * labeled vector, the fraction of its k nearest neighbors (a
    * [[Similarity.knnGraph]] edge list) carrying a DIFFERENT label, plus
    * the neighbors' majority label; rows whose neighborhood outvotes
    * their own label are the relabel/review worklist model training
    * runs before spending 100 TB of compute on mislabeled data.
    *
    * Scale shape: two equi-joins keyed on id (graph is |V|·k rows,
    * labels |V| rows — both hash-co-partition), then a |V|·k → |V|
    * partial-agg fold; nothing corpus-squared, no collect. Majority
    * ties break toward the SMALLER label (deterministic, replayable).
    * Returns (id, label, n_nbrs, n_disagree, disagree_frac,
    * nbr_majority, flagged); flagged = neighborhood majority both
    * disagrees and outvotes (frac > 1/2). */
  def labelNoiseScreen(graph: DataFrame, labels: DataFrame, idCol: String,
                       labelCol: String): DataFrame = {
    val own = labels.select(col(idCol).as("id"), col(labelCol).as("label"))
    val nbr = labels.select(col(idCol).as("nbr_id"),
      col(labelCol).as("nbr_label"))
    val votes = graph.select(col("id"), col("nbr_id"))
      .join(own, "id").join(nbr, "nbr_id")
      .groupBy(col("id"), col("label"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("id")
      .orderBy(col("n_votes").desc, col("nbr_label").asc)
    votes
      .withColumn("_rk", row_number().over(w))
      .groupBy("id", "label")
      .agg(sum("n_votes").as("n_nbrs"),
        sum(when(col("nbr_label") =!= col("label"), col("n_votes"))
          .otherwise(0L)).as("n_disagree"),
        max(when(col("_rk") === 1, col("nbr_label"))).as("nbr_majority"))
      .withColumn("disagree_frac",
        col("n_disagree").cast("double") / col("n_nbrs"))
      .withColumn("flagged",
        col("disagree_frac") > 0.5 && col("nbr_majority") =!= col("label"))
  }

  /** Mean average precision of a ranked result set against an exact
    * relevance set: per query, AP = (Σ_{hit ranks r} precision@r) /
    * |relevant|, and MAP (the decimal-exact mean over queries) on every
    * row. The rank-sensitive retrieval gate recall@k is blind to — two
    * systems with equal recall separate here by WHERE the hits sit.
    * Queries with zero hits report AP = 0 rather than vanishing (the
    * [[Similarity.recallAtK]] lesson). One join + one rank window per
    * query group. */
  def meanAveragePrecision(approx: DataFrame, exact: DataFrame,
                           queryIdCol: String, idCol: String,
                           rankCol: String): DataFrame = {
    val rel = exact.select(col(queryIdCol).as("q"), col(idCol).as("i"))
    val relCount = rel.groupBy("q").agg(count(lit(1)).as("n_rel"))
    val hits = approx.select(col(queryIdCol).as("q"),
        col(rankCol).cast("long").as("r"), col(idCol).as("i"))
      .join(rel.withColumn("hit", lit(1L)), Seq("q", "i"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .withColumn("cum", sum("hit").over(
        Window.partitionBy("q").orderBy("r")))
      .withColumn("prec",
        when(col("hit") === 1, col("cum").cast("double") / col("r")))
    // drive the per-query frame from relCount (left join), so a query
    // present in `exact` but with NO rows in `approx` still contributes
    // AP = 0 to MAP instead of dropping out of the denominator
    val ap = relCount
      .join(hits.groupBy("q")
        .agg(sum(col("prec").cast("decimal(38,18)")).cast("double")
          .as("sum_prec"), sum("hit").as("n_hit")), Seq("q"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("ap", coalesce(col("sum_prec"), lit(0.0)) / col("n_rel"))
    ap.withColumn("nq", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("map", sum(col("ap").cast("decimal(38,18)"))
        .over(Window.partitionBy(lit(1))).cast("double") / col("nq"))
      .select(col("q").as(queryIdCol), col("n_rel"), col("n_hit"),
        round(col("ap"), 6).as("ap"), round(col("map"), 6).as("map"))
  }

  /** Weight of evidence and information value of a binned score feature
    * against a binary outcome — the credit-scoring feature-power metric
    * (IV < 0.02 useless, 0.1–0.3 medium, > 0.5 suspicious): per bin,
    * WOE_b = ln(share of positives / share of negatives) with add-one
    * smoothing so empty cells stay finite; IV = Σ_b (p_b − q_b)·WOE_b
    * rides on every row. One groupBy + one bounded-bin window; all
    * shares are ratios of exact integers. */
  def weightOfEvidence(scored: DataFrame, pCol: String, outcomeCol: String,
                       nBins: Int = 10): DataFrame = {
    val rows = scored.select(col(pCol).cast("double").as("p"),
        when(col(outcomeCol), 1L).otherwise(0L).as("o"))
      .withColumn("bin", least(floor(col("p") * nBins), lit(nBins - 1L)))
    val bins = rows.groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum("o").as("n_pos"))
      .withColumn("n_neg", col("n_b") - col("n_pos"))
    val tot = bins.agg(sum("n_pos").as("tp"), sum("n_neg").as("tn"),
      count(lit(1)).as("nb"))
    val w = bins.crossJoin(broadcast(tot))
      .withColumn("pp", (col("n_pos") + 1).cast("double") /
        (col("tp") + col("nb")))
      .withColumn("pn", (col("n_neg") + 1).cast("double") /
        (col("tn") + col("nb")))
      .withColumn("woe", log(col("pp") / col("pn")))
    w.withColumn("iv", sum((
        (col("pp") - col("pn")) * col("woe")).cast("decimal(38,18)"))
        .over(Window.partitionBy(lit(1))).cast("double"))
      .select(col("bin"), col("n_b"), col("n_pos"),
        round(col("woe"), 6).as("woe"), round(col("iv"), 6).as("iv"))
  }

  /** Murphy (1973) decomposition of the Brier score over `nBins`
    * prediction bins: reliability Σn_b(p̄_b−ō_b)²/N (how far the
    * calibration curve sits from the diagonal — the part recalibration
    * can remove), resolution Σn_b(ō_b−ō)²/N (how much the bins separate
    * outcomes — the part it cannot add), and uncertainty ō(1−ō). The raw
    * Brier score Σ(p−o)²/N rides along; all sums decimal-accumulate so
    * the doubles replay in any engine. One row out; two aggregates over
    * the scored frame (per-bin, then bounded-bin fold) — nothing scales
    * with corpus size after the first groupBy. Complements
    * [[calibrationBins]] (the curve) with the scalar summary. */
  def brierDecomposition(scored: DataFrame, pCol: String, outcomeCol: String,
                         nBins: Int = 10): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val rows = scored.select(col(pCol).cast("double").as("p"),
        when(col(outcomeCol), 1L).otherwise(0L).as("o"))
      .withColumn("bin", least(floor(col("p") * nBins), lit(nBins - 1L)))
    val bins = rows.groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum(d18(col("p"))).as("sp"),
        sum(col("o")).as("so"),
        sum(d18((col("p") - col("o")) * (col("p") - col("o")))).as("sq"))
      .withColumn("pbar", col("sp").cast("double") / col("n_b"))
      .withColumn("obar", col("so").cast("double") / col("n_b"))
    bins.agg(sum("n_b").as("n"), sum("so").as("n_pos"),
        sum(col("sq")).cast("double").as("_sq"),
        sum(d18(col("n_b") * (col("pbar") - col("obar")) *
          (col("pbar") - col("obar")))).cast("double").as("_rel"),
        sum(d18(col("n_b") * col("obar") * col("obar"))).cast("double")
          .as("_so2"))
      .withColumn("base_rate", col("n_pos").cast("double") / col("n"))
      .select(col("n"), col("n_pos"), round(col("base_rate"), 6).as("base_rate"),
        round(col("_sq") / col("n"), 6).as("brier"),
        round(col("_rel") / col("n"), 6).as("reliability"),
        // Σn_b·ō_b²/N − ō² is the resolution in its computational form
        round(col("_so2") / col("n") -
          col("base_rate") * col("base_rate"), 6).as("resolution"),
        round(col("base_rate") * (lit(1.0) - col("base_rate")), 6)
          .as("uncertainty"))
  }

  /** Expected / maximum calibration error (Naeini et al. 2015; Guo et
    * al. 2017) over equal-width probability bins: per bin the mean
    * predicted probability p̄_b (decimal-summed) vs the empirical rate,
    * ECE = Σ n_b·|p̄_b − rate_b| / N and MCE = max_b |·| — the one-number
    * calibration summaries beside the full reliability diagram (q159),
    * isotonic (q389) and parametric (q403) FITS: those correct the
    * curve, these SCORE it. `scoreCol` must already be a probability in
    * [0,1]. Returns the per-bin table with the shared (ece, mce)
    * repeated. One corpus aggregate + one B-row window. */
  def expectedCalibrationError(scored: DataFrame, scoreCol: String,
                               labelCol: String,
                               nBins: Int = 10): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val wAll = Window.partitionBy(lit(1))
    val per = scored
      .withColumn("bin", least(greatest(
        floor(col(scoreCol) * nBins).cast("int"), lit(0)), lit(nBins - 1)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        sum(d18(col(scoreCol))).cast("double").as("_ssum"))
      .withColumn("p_bar", col("_ssum") / col("n"))
      .withColumn("rate", col("n_pos").cast("double") / col("n"))
      .withColumn("gap", abs(col("p_bar") - col("rate")))
    per
      .withColumn("_N", sum("n").over(wAll))
      .withColumn("ece",
        sum(d18(col("n") * col("gap"))).over(wAll).cast("double") /
          col("_N"))
      .withColumn("mce", max("gap").over(wAll))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("p_bar"), 6).as("p_bar"), round(col("rate"), 6).as("rate"),
        round(col("gap"), 6).as("gap"), round(col("ece"), 6).as("ece"),
        round(col("mce"), 6).as("mce"))
  }

  /** Benjamini–Hochberg step-up FDR control (Benjamini & Hochberg 1995)
    * over EXACT RATIONAL p-values num/den (e.g. permutation p-values
    * (n_extreme+1)/(n_perms+1)): rank hypotheses by p ascending, find
    * the largest rank i with p_(i) ≤ i·q/m, reject all hypotheses at or
    * below it. The step-up condition is evaluated in PURE INTEGER
    * arithmetic — `num·qDen·m ≤ i·den·qNum` — so there is no floating
    * threshold to disagree across engines, and the only doubles in the
    * output are display columns. `q = qNum/qDen`.
    *
    * Scale shape: m hypotheses is small by construction (one per
    * metric/segment under test); one m-row window. Ties in p break by
    * `idCol` for a deterministic ranking (any tie member below k* is
    * rejected either way — BH is monotone in rank). */
  def bhFdr(df: DataFrame, idCol: String, numCol: String, denCol: String,
            qNum: Long, qDen: Long): DataFrame = {
    val wAll = Window.partitionBy(lit(1))
    val ranked = df
      .withColumn("_rk", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col(numCol).cast("double") / col(denCol), col(idCol)))
        .cast("long"))
      .withColumn("_m", count(lit(1)).over(wAll))
      .withColumn("_ok", col(numCol) * qDen * col("_m") <=
        col("_rk") * col(denCol) * qNum)
    ranked
      .withColumn("_kstar",
        coalesce(max(when(col("_ok"), col("_rk"))).over(wAll), lit(0L)))
      .select(col(idCol), col(numCol).as("p_num"), col(denCol).as("p_den"),
        round(col(numCol).cast("double") / col(denCol), 6).as("p_value"),
        col("_rk").as("rank"),
        round(col("_rk").cast("double") * qNum / qDen / col("_m"), 6)
          .as("bh_threshold"),
        (col("_rk") <= col("_kstar")).as("is_discovery"))
  }

  /** Parametric sigmoid calibration of a binned reliability diagram —
    * the Platt-scaling idea (Platt 1999) made EXACT-REPLAYABLE: the
    * logistic σ is replaced by the ALGEBRAIC sigmoid
    * σ(z) = 1/2 + z/(2(1+|z|)) (same shape, no libm exp — every step
    * is +,·,/,|·|, so both engines produce bit-identical doubles), and
    * the fit is `iters` fixed steps of full-batch gradient descent on
    * the n-weighted squared error Σ n_b(σ(a·x_b+b) − π_b)², unrolled
    * into the plan (no driver loop state). Per-step gradient sums
    * accumulate in decimal(38,18) — order-free. Complements
    * [[isotonicFit]]: isotonic is nonparametric and stepwise; this
    * yields a 2-parameter monotone curve that extrapolates.
    *
    * Scale shape: the input is the B-bin frame (B ~ 10), so the whole
    * fit is B·iters arithmetic on broadcast scalars — the expensive
    * part (binning the corpus) already happened upstream. Returns one
    * row: (n_bins, n, a, b, mse_before, mse_after). */
  def sigmoidCalibration(bins: DataFrame, xCol: String, nCol: String,
                         posCol: String, iters: Int = 12,
                         step: Double = 2.0): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val b0 = bins.select(col(xCol).cast("double").as("x"),
      col(nCol).cast("long").as("n"),
      (col(posCol).cast("double") / col(nCol)).as("pi"))
      .transform(Lineage.cut(_, "Evaluation.sigmoidCalibration.bins"))
    def sig(a: Column, b: Column): Column = {
      val z = a * col("x") + b
      lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))
    }
    def mseAgg(a: Column, b: Column): Column = {
      val r = sig(a, b) - col("pi")
      sum(d18(col("n") * r * r)).cast("double") / sum(col("n"))
    }
    var params = b0.sparkSession.range(1)
      .select(lit(1.0).as("a"), lit(0.0).as("b"))
    for (_ <- 1 to iters) {
      val j = b0.crossJoin(broadcast(params))
      val z = col("a") * col("x") + col("b")
      val az = abs(z)
      val s = lit(0.5) + lit(0.5) * z / (lit(1.0) + az)
      val ds = lit(0.5) / ((lit(1.0) + az) * (lit(1.0) + az))
      val r = s - col("pi")
      params = j.agg(
        (max("a") - lit(step) *
          (sum(d18(col("n") * lit(2.0) * r * ds * col("x"))).cast("double") /
            sum(col("n")))).as("a"),
        (max("b") - lit(step) *
          (sum(d18(col("n") * lit(2.0) * r * ds)).cast("double") /
            sum(col("n")))).as("b"))
    }
    b0.crossJoin(broadcast(params))
      .agg(count(lit(1)).as("n_bins"), sum("n").as("n"),
        max("a").as("a"), max("b").as("b"),
        mseAgg(lit(1.0), lit(0.0)).as("mse_before"),
        // after the 1-row crossJoin, a/b are plain (constant) columns,
        // so they may appear INSIDE the aggregate expressions
        mseAgg(col("a"), col("b")).as("mse_after"))
      .select(col("n_bins"), col("n"), round(col("a"), 9).as("a"),
        round(col("b"), 9).as("b"),
        round(col("mse_before"), 9).as("mse_before"),
        round(col("mse_after"), 9).as("mse_after"))
  }

  /** Bootstrap confidence band for AUC via the deterministic Poisson
    * resample (the q212 idiom: per-(row, rep) multiplicity =
    * Binomial(8, 1/8) from the scrambled key hash — reproducible, no
    * rand()): each replica reweights the rank-sum AUC
    * (ties at ½, [[aucByRankSumBy]]'s doubled-integer arithmetic with
    * WEIGHTED per-score-level positive/negative mass), and the spread
    * of replica AUCs is the error bar a single-number AUC hides. At
    * 100 TB every replica is the SAME one corpus pass (one extra
    * explode ×reps of the score-LEVEL table, not the corpus), which is
    * the entire trick — classical resampling would re-read the data
    * `reps` times.
    *
    * Replica 0..reps−1 rows carry weighted (w_pos, w_neg, auc); the
    * point estimate rides along as rep = −1 with all weights 1.
    * Single-class replicas (possible under resampling) report NULL
    * auc. All mass sums are exact BIGINTs; each auc is one double
    * division. */
  def aucBootstrap(scored: DataFrame, idCol: String, scoreCol: String,
                   labelCol: String, reps: Int = 16): DataFrame = {
    require(reps >= 1, "need reps >= 1")
    val levels = scored.select(col(idCol).cast("long").as("_id"),
        col(scoreCol).cast("long").as("_s"),
        col(labelCol).cast("boolean").as("_l"))
      .withColumn("rep", explode(expr(s"sequence(-1, ${reps - 1})")))
      .withColumn("_w", when(col("rep") === -1, lit(1)).otherwise(
        expr("size(filter(sequence(0, 7), j -> " +
          s"${graft.operators.Stats.keyHashSql(
            "_id * 8209 + rep * 127 + j")} % 8 = 0))")))
      .groupBy(col("rep"), col("_s"))
      .agg(sum(when(col("_l"), col("_w").cast("long")).otherwise(0L))
        .as("_np"),
        sum(when(col("_l"), 0L).otherwise(col("_w").cast("long")))
          .as("_nn"))
    val w = Window.partitionBy("rep").orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    levels
      .withColumn("_cum_nn", coalesce(sum("_nn").over(w), lit(0L)))
      .groupBy("rep")
      .agg(sum("_np").cast("long").as("w_pos"),
        sum("_nn").cast("long").as("w_neg"),
        sum(col("_np") * (lit(2L) * col("_cum_nn") + col("_nn")))
          .cast("long").as("u2"))
      .select(col("rep"), col("w_pos"), col("w_neg"),
        round(when(col("w_pos") > 0 && col("w_neg") > 0,
          col("u2").cast("double") /
            (lit(2L) * col("w_pos") * col("w_neg"))), 6).as("auc"))
      .orderBy("rep")
  }

  /** Pair-counting clustering agreement against a ground-truth partition
    * (Rand 1971; Hubert & Arabie 1985's adjusted index in the pair
    * form): every unordered item pair is classified TP/FP/FN/TN by
    * (same predicted cluster?, same truth group?), and precision /
    * recall / F1 / Rand / ARI come out as single double divisions of
    * exact BIGINT pair counts. B-cubed is avoided on purpose — its
    * per-item ratio average is an order-dependent double sum; the pair
    * form stays integer-exact until the final division.
    *
    * Shape: ONE hash aggregate to the (pred, truth) contingency cells,
    * then marginal rollups of the cell table (bounded by cluster count,
    * not item count). BIGINT-safety: tp·tn-style products must fit
    * int64, which holds through ~10⁶ items (pair counts ~5·10¹¹,
    * products ~10¹⁷); past that, feed a group-stratified sample — every
    * output is a ratio. Returns ONE row:
    * (n_items, tp, fp, fn, tn, precision, recall, f1, rand_index, ari). */
  def clusterPairMetrics(assign: DataFrame, predCol: String,
                         truthCol: String): DataFrame = {
    // n·(n−1) is even and < 2^53 at the documented scale, so the double
    // division by 2 is exact and the cast back to long lossless
    val pairsOf = (c: Column) => (c * (c - lit(1L)) / lit(2L)).cast("long")
    val cells = assign
      .groupBy(col(predCol).as("p"), col(truthCol).as("t"))
      .agg(count(lit(1)).as("n"))
    val both = cells.agg(sum(pairsOf(col("n"))).as("same_both"),
      sum("n").cast("long").as("n_items"))
    val byP = cells.groupBy("p").agg(sum("n").as("np"))
      .agg(sum(pairsOf(col("np"))).as("same_pred"))
    val byT = cells.groupBy("t").agg(sum("n").as("nt"))
      .agg(sum(pairsOf(col("nt"))).as("same_truth"))
    both.crossJoin(byP).crossJoin(byT)
      .withColumn("all_pairs", pairsOf(col("n_items")))
      .withColumn("tp", col("same_both"))
      .withColumn("fp", col("same_pred") - col("same_both"))
      .withColumn("fn", col("same_truth") - col("same_both"))
      .withColumn("tn", col("all_pairs") - col("same_pred") -
        col("same_truth") + col("same_both"))
      .select(col("n_items"), col("tp"), col("fp"), col("fn"), col("tn"),
        (col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
        (lit(2.0) * col("tp") /
          (lit(2L) * col("tp") + col("fp") + col("fn"))).as("f1"),
        ((col("tp") + col("tn")).cast("double") / col("all_pairs"))
          .as("rand_index"),
        // ARI marginal products approach all_pairs² when one predicted
        // cluster dominates — far past int64 even at the ~1e6-item bound
        // (pair counts ~5e11 squared ≈ 2.5e23) — so multiply in double.
        // Each factor stays < 2^53 at gated scales, so the doubles are
        // exact integers and the value is bit-identical to the int64 form
        // wherever that form doesn't overflow.
        when((col("tp") + col("fn")).cast("double") *
            (col("fn") + col("tn")).cast("double") +
            (col("tp") + col("fp")).cast("double") *
            (col("fp") + col("tn")).cast("double") =!= 0.0,
          lit(2.0) * (col("tp").cast("double") * col("tn").cast("double") -
              col("fn").cast("double") * col("fp").cast("double")) /
            ((col("tp") + col("fn")).cast("double") *
              (col("fn") + col("tn")).cast("double") +
              (col("tp") + col("fp")).cast("double") *
              (col("fp") + col("tn")).cast("double")))
          .as("ari"))
  }
}
