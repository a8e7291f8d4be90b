package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the reproducibility-critical piece of a
  * training-data pipeline. `rand()`-based sampling (including
  * `df.stat.sampleBy`) depends on partitioning and row order, so two runs
  * of the same job can emit different corpora; hash-bucket sampling is a
  * pure function of the row key: stable across runs, cluster sizes, AQE
  * re-plans, and engines (the DuckDB oracle replays it bit-for-bit).
  *
  * Shape at 100 TB: the bucket is a scalar projection (no shuffle, no
  * state); sampling is a pushable filter; split assignment is a column.
  */
object Sampling {

  private val P = graft.plans.HashExpressions.P2n31
  private val B1 = graft.plans.HashExpressions.PolyBase1
  private val B2 = graft.plans.HashExpressions.PolyBase2

  /** Deterministic bucket in [0, buckets) from a numeric key: affine hash
    * mod 2^31-1 (key * base stays < 2^62 for keys < 2^31 — ANSI-safe). */
  def hashBucket(key: Column, buckets: Int, base: Long = B1): Column =
    pmod(key.cast("long") * base, lit(P)) % buckets

  /** Stratified sample: keep a row when its bucket falls below the
    * stratum's percentage (0-100). Rates is (stratumValue -> pct). */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultPct: Int): DataFrame = {
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (v, p)) =>
      when(col(stratumCol) === v, p).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), 100) < pct)
  }

  /** Deterministic train/eval split on an independent hash (base B2 so it
    * is uncorrelated with sampling buckets). */
  def trainTestSplit(df: DataFrame, keyCol: String, trainPct: Int): DataFrame =
    df.withColumn("split",
      when(hashBucket(col(keyCol), 100, B2) < trainPct, "train").otherwise("eval"))

  /** Resample a corpus to a TARGET DOMAIN MIX — the "50% web, 30% code,
    * 20% books" knob of a training-data pipeline — keeping as much data
    * as the mix allows and never duplicating a row.
    *
    * Given target shares per domain (must cover every domain present;
    * shares > 0), the largest total T consistent with the mix is
    * min_g(count_g / share_g); domain g then keeps T·share_g of its
    * count_g rows. Row selection is the same deterministic hash-bucket
    * rule as [[stratifiedSample]]: keep when hash(key)/P < keep_frac_g —
    * reproducible across runs, partitionings, and engines.
    *
    * Fully declarative two-aggregate shape: per-domain counts (tiny) →
    * broadcast min → per-row pushable filter. No driver action, no
    * shuffle of the corpus itself. Output adds (keep_frac, n_domain). */
  def domainMix(df: DataFrame, keyCol: String, domainCol: String,
                targetShare: Map[String, Double]): DataFrame = {
    require(targetShare.nonEmpty && targetShare.values.forall(_ > 0),
      "domainMix: every target share must be positive")
    val counts = df.groupBy(col(domainCol).as("_dom"))
      .agg(count(lit(1)).as("n_domain"))
      .withColumn("_share", targetShare.foldLeft(lit(Double.NaN)) {
        case (acc, (v, s)) => when(col("_dom") === v, s).otherwise(acc)
      })
    // T = min over domains of count/share; a domain absent from the map
    // yields NaN which ANSI min propagates — surfacing the config error
    val tmax = counts.agg(
      min(col("n_domain").cast("double") / col("_share")).as("_tmax"))
    val keep = counts.crossJoin(broadcast(tmax))
      .select(col("_dom"),
        least(lit(1.0), col("_tmax") * col("_share") /
          col("n_domain").cast("double")).as("keep_frac"),
        col("n_domain"))
    // Scrambled hash, not the affine bucket: a CONTINUOUS threshold on
    // hash/P needs uniformity over [0,1), and the affine map of small
    // consecutive keys is a lattice ramp (i·B1 stays below P for
    // i < P/B1, so the ratio grows linearly). The xorshift-multiply
    // mixer (same as the KMV/Bloom family) restores uniformity; coarse
    // WIDTH-100 buckets as in [[stratifiedSample]] don't feel the ramp.
    df.join(broadcast(keep), col(domainCol) === col("_dom"))
      .filter(Sketches.keyHash(col(keyCol)).cast("double") / P < col("keep_frac"))
      .drop("_dom")
  }

  /** Temperature-based domain rebalancing at α = 0.5 (the mT5/mC4
    * multilingual recipe): target shares ∝ √count_g, which damps the
    * head domains and boosts the tail without the full flattening of a
    * uniform mix. Downsampling only — the over-represented domains are
    * thinned to the share the √-law assigns them relative to the most
    * UNDER-represented domain (keep_frac = 1 there), and no row is ever
    * duplicated.
    *
    * keep_frac_g = (√c_g / c_g) / max_h(√c_h / c_h) = √(min_h c_h / c_g):
    * a closed form needing only per-domain counts and the global min —
    * same tiny two-aggregate broadcast shape as [[domainMix]]. α is
    * pinned to 0.5 because IEEE `sqrt` rounds identically everywhere,
    * while a general `pow(c, α)` is not correctly-rounded and can differ
    * between engines in the last ulp — poison for an exact-replay gate. */
  /** Per-domain document cap (the C4/RefinedWeb "max pages per host"
    * gate): keep at most `cap` rows per domain, chosen deterministically
    * by scrambled key hash (ties by key) — NOT by input order, so the
    * result is stable under re-partitioning and re-runs. One shuffle on
    * the domain; the window's rank-limit plans as WindowGroupLimit, so
    * each partition keeps a cap-sized heap per domain instead of fully
    * sorting it (hot hosts are exactly where this matters at 100 TB). */
  def domainCap(df: DataFrame, keyCol: String, domainCol: String,
                cap: Int): DataFrame = {
    require(cap > 0, "domainCap: cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(Sketches.keyHash(col(keyCol)).asc, col(keyCol).asc)
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap)
      .drop("_rk")
  }

  /** Epoch-weighted domain mixing: each row appears `floor(w)` times plus
    * one more with probability `frac(w)` (hash-deterministic), where `w`
    * is its domain's target weight — the Llama/DoReMi-style recipe where
    * high-quality domains run MULTIPLE epochs (w > 1 upsamples by
    * duplication, w < 1 thins — one operator subsumes both directions).
    * Output rows carry an `epoch` column (0-based copy index) for
    * downstream shard shuffling. The explode is map-side; rows never
    * shuffle. Deterministic per key: rerunning or repartitioning yields
    * the identical multiset. Unspecified domains default to weight 1. */
  def epochMix(df: DataFrame, keyCol: String, domainCol: String,
               weights: Map[String, Double]): DataFrame = {
    val w = weights.foldLeft(lit(1.0)) { case (acc, (dom, wt)) =>
      when(col(domainCol) === dom, lit(wt)).otherwise(acc)
    }
    val base = floor(w).cast("long")
    val frac = w - floor(w)
    val extra = when(Sketches.keyHash(col(keyCol)).cast("double") / P < frac, 1L)
      .otherwise(0L)
    df.withColumn("_n", base + extra)
      .filter(col("_n") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("_n") - 1)))
      .drop("_n")
  }

  /** Deterministic negative sampling for contrastive training: for each
    * anchor, the `k` corpus rows with the smallest scrambled PAIR hash,
    * excluding the anchor itself and its own IVF cell (same-cell rows are
    * likely positives — the standard coarse positive filter). Pure
    * function of the ids: re-running, re-partitioning, or growing the
    * cluster never changes a training pair. Anchors broadcast (they are a
    * batch, the corpus is the big side); ranking shuffles on anchor_id.
    * At 100 TB, bound the per-anchor sort by pre-thresholding the pair
    * hash (`sampleBp` basis points of candidates survive BEFORE the
    * window — hash-uniform, so top-k is unchanged as long as
    * k ≪ surviving count). */
  def negativeSamples(assigned: DataFrame, idCol: String, cellCol: String,
                      anchors: DataFrame, anchorIdCol: String,
                      anchorCellCol: String, k: Int,
                      sampleBp: Int = 10000): DataFrame = {
    val a = broadcast(anchors.select(col(anchorIdCol).cast("long").as("anchor_id"),
      col(anchorCellCol).as("_acell")))
    val pairHash = Sketches.keyHash(col("anchor_id") * 100003L + col("_cid"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("anchor_id"))
      .orderBy(col("_h").asc, col("_cid").asc)
    assigned.select(col(idCol).cast("long").as("_cid"), col(cellCol).as("_ccell"))
      .crossJoin(a)
      .filter(col("_cid") =!= col("anchor_id") && col("_ccell") =!= col("_acell"))
      .withColumn("_h", pairHash)
      .filter(pmod(col("_h"), lit(10000L)) < sampleBp)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .select(col("anchor_id"), col("_rk").cast("int").as("rank"),
        col("_cid").as("neg_id"), col("_h").as("pair_hash"))
  }

  /** DSIR-shaped importance selection (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"): score
    * every document by how much its hashed-n-gram profile resembles a
    * TARGET domain relative to the raw corpus, then keep the top
    * `selectPct` percent. Features are the positional token-bigram hashes
    * of the q100 quality classifier; each falls into one of `buckets` hash
    * buckets, whose add-one-smoothed target/raw count ratio is the
    * per-feature importance; a document's weight is the sum of its
    * features' ratios.
    *
    * Replay-exactness: the paper's log-likelihood-ratio needs `ln`, which
    * is not correctly rounded and differs between the JVM and DuckDB libm
    * (NOTES parity rule 5) — so the ratio rides as FIXED-POINT integers
    * instead, `((t_b + 1) · 10^6) div (r_b + 1)`, and the per-doc weight
    * is an exact order-independent BIGINT sum. Monotone per bucket, zero
    * float ops. (10^6 scale: `t_b ≤ 10^12` features keeps the product
    * under 2^63.)
    *
    * Shape at 100 TB: bucket counts are one tiny partial-agg shuffle
    * (`buckets` keys); the ratio table folds back into the scan as a
    * one-row broadcast MAP, so scoring is a pure map-side HOF fold over
    * each row's feature array — no explode join, no per-doc shuffle. The
    * final top-percent rank is a global window (fine for a gate /
    * sampled audit); at corpus scale pick the weight threshold from a
    * histogram sketch (q108 shape) and filter map-side instead.
    *
    * Featureless docs (< 2 tokens) stay in the output with weight 0 —
    * they rank last rather than silently vanishing (the q100-oracle
    * lesson). Returns (input columns..., n_feats, weight, rank, selected);
    * `selected` iff `rank · 100 ≤ total · selectPct` (floor semantics). */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, buckets: Int = 64,
                 selectPct: Int = 25): DataFrame = {
    require(buckets >= 1 && selectPct >= 0 && selectPct <= 100,
      "need buckets >= 1 and selectPct in [0, 100]")
    val feats = call_function("graft_gram_polyhashes", col(textCol), lit(2))
    def bucketOf(h: Column): Column =
      pmod(Sketches.keyHash(h), lit(buckets.toLong))
    val Scale = 1000000L
    val counts = df
      .select(explode(feats).as("gh"),
        when(targetPred, 1L).otherwise(0L).as("is_t"))
      .select(bucketOf(col("gh")).as("b"), col("is_t"))
      .groupBy("b")
      .agg(count(lit(1)).as("raw_cnt"), sum("is_t").as("t_cnt"))
    // one-row broadcast map bucket -> fixed-point ratio; buckets no
    // feature ever hashed into default to the smoothed prior 1/1 = Scale
    val ratioMap = counts.agg(map_from_entries(collect_list(struct(col("b"),
      expr(s"((t_cnt + 1L) * ${Scale}L) div (raw_cnt + 1L)")))).as("_rmap"))
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("weight").desc, col(idCol))
    val allW = org.apache.spark.sql.expressions.Window
      .partitionBy()
    df.crossJoin(broadcast(ratioMap))
      .withColumn("_fh", feats)
      .withColumn("n_feats", size(col("_fh")))
      .withColumn("weight", aggregate(col("_fh"), lit(0L),
        // try_element_at: a bucket NO feature corpus-wide hashed into is
        // absent from the map (ANSI element_at would throw) — such a
        // bucket can also never be probed, but stay total anyway
        (acc, h) => acc + coalesce(try_element_at(col("_rmap"), bucketOf(h)), lit(Scale))))
      .drop("_fh", "_rmap")
      .withColumn("rank", row_number().over(rankW))
      .withColumn("selected",
        col("rank") * 100 <= count(lit(1)).over(allW) * selectPct)
  }

  def temperatureMix(df: DataFrame, keyCol: String, domainCol: String): DataFrame = {
    val counts = df.groupBy(col(domainCol).as("_dom"))
      .agg(count(lit(1)).as("n_domain"))
    val minCnt = counts.agg(min("n_domain").as("_min_cnt"))
    val keep = counts.crossJoin(broadcast(minCnt))
      .select(col("_dom"),
        sqrt(col("_min_cnt").cast("double") / col("n_domain").cast("double"))
          .as("keep_frac"),
        col("n_domain"))
    df.join(broadcast(keep), col(domainCol) === col("_dom"))
      .filter(Sketches.keyHash(col(keyCol)).cast("double") / P < col("keep_frac"))
      .drop("_dom")
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007): a size-k weighted
    * sample without replacement whose Horvitz-Thompson estimates are
    * near-optimal — the standard way to sample documents PROPORTIONAL TO
    * TOKEN COUNT so a 1% audit sample represents 1% of the tokens, not 1%
    * of the (length-skewed) documents. Each row gets priority
    * `w / u` with `u = (hash+1)/P` a deterministic uniform in (0,1]; the
    * k highest priorities are the sample, the (k+1)-th is the threshold
    * τ, and `est_weight = max(w, τ)` makes Σ est_weight an unbiased
    * estimator of Σ w over ANY subset. Deterministic u (the same
    * scrambled-hash family as the samplers above) → the same sample
    * every run, any partitioning, either engine.
    *
    * Scale shape: priority is a scalar projection; top-(k+1) is a
    * bounded TakeOrdered heap (map-side partial heaps, never a global
    * sort); τ broadcasts back as a 1-row frame. */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int): DataFrame = {
    // +1: the hash lands in [0, P) and u must never be 0
    val u = (Sketches.keyHash(col(keyCol)) + 1).cast("double")
    val ranked = df
      .withColumn("priority", col(weightCol).cast("double") * P / u)
      .orderBy(col("priority").desc, col(keyCol).asc)
      .limit(k + 1)
    val tau = ranked.agg(min("priority").as("tau"))
    ranked.orderBy(col("priority").desc, col(keyCol).asc).limit(k)
      .crossJoin(broadcast(tau))
      .withColumn("est_weight", greatest(col(weightCol).cast("double"), col("tau")))
  }

  /** Near-dup-safe train/val/test split: the split is a hash of the
    * document's DEDUP-CLUSTER representative, not of the document itself,
    * so a family of near-duplicates lands in ONE split by construction —
    * the leakage mode a per-doc [[trainTestSplit]] cannot prevent (a
    * near-copy of a training doc in the eval split inflates eval scores;
    * see Lee 2022 "Deduplicating Training Data Makes Language Models
    * Better" §6). `labels` carries (idCol, repCol) from
    * [[Dedup.dedupClusters]] over the corpus's candidate pairs; docs
    * absent from it (singletons — LSH emitted no pair) represent
    * themselves. Split cut: rep-hash mod 10 → 0-7 train, 8 val, 9 test.
    *
    * Returns one row per doc: (idCol, cluster_rep, split). Audit it with
    * the aggregate the q151 gate pins: per-split doc/cluster/char counts
    * plus a global `n_straddle` — clusters seen in >1 split — which this
    * construction makes ZERO (the audit exists to catch a regression
    * that re-keys the hash to the doc id).
    *
    * Scale shape: one left join doc→label (labels frame is |clustered
    * docs|-sized, far smaller than the corpus after LSH) and a scalar
    * projection; the split column is a pushable partition key for the
    * training-export write. */
  def clusterSplit(docs: DataFrame, idCol: String,
                   labels: DataFrame, labelIdCol: String, repCol: String,
                   valBucket: Int = 8): DataFrame = {
    val l = labels.select(col(labelIdCol).as(idCol), col(repCol).as("_rep"))
    docs.join(l, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("_rep"), col(idCol)))
      .withColumn("_h", Sketches.keyHash(col("cluster_rep"), B2) % 10)
      .withColumn("split",
        when(col("_h") < valBucket, "train")
          .when(col("_h") === valBucket, "val").otherwise("test"))
      .drop("_rep", "_h")
  }

  /** Quality-vs-token-budget operating curve: for each distinct quality
    * level, the docs/tokens AT that level and the cumulative docs/tokens
    * of everything at-or-above it — "a budget of B tokens buys quality ≥
    * q" read directly off `cum_tokens`. This is the selection curve a
    * curation run consults BEFORE fixing a quality threshold (pair it
    * with [[domainCap]]/[[temperatureMix]] once the cut is chosen).
    *
    * Sort-free at corpus scale (the q183 skyline argument): the corpus
    * collapses to the per-LEVEL aggregate first (map-side partials), and
    * the running sum windows over the level table only — bounded by the
    * quality grid (≤ 10⁶+1 levels at round-6 scores), never by the
    * corpus, so it broadcasts/single-partitions harmlessly. */
  def budgetCurve(df: DataFrame, qualityCol: String,
                  weightCol: String): DataFrame = {
    val lvl = df.groupBy(col(qualityCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col(weightCol)).cast("long").as("tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(qualityCol).desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    lvl.select(col(qualityCol), col("n_docs"), col("tokens"),
      sum("n_docs").over(w).cast("long").as("cum_docs"),
      sum("tokens").over(w).cast("long").as("cum_tokens"))
  }

  /** Preference-pair mining for DPO/RLHF-style training data: every
    * label-positive document (`chosen`) pairs with the LENGTH-CLOSEST
    * label-negative document (`rejected`) from the same group — length
    * matching is the standard confound control (a preference model
    * trained on unmatched pairs learns "longer is better", not quality),
    * and the group key (here a prompt cluster / language) keeps pairs
    * comparable.
    *
    * Shape: the [[Linkage.bestMatch]] discipline — candidates from a
    * group equi-join (never a cross join; the group bounds the quadratic
    * term), then ONE `min_by(struct(len_diff, rejected_id))` hash
    * aggregate per chosen doc: partial aggregation collapses candidates
    * map-side, nothing global sorts. Deterministic under ties (smaller
    * rejected id). Returns (chosen_id, rejected_id, chosen_len,
    * rejected_len, len_diff). */
  def preferencePairs(docs: DataFrame, idCol: String, groupCol: String,
                      lenCol: String, labelCol: String): DataFrame = {
    val ch = docs.filter(col(labelCol))
      .select(col(groupCol).as("_g"), col(idCol).as("chosen_id"),
        col(lenCol).cast("long").as("chosen_len"))
    val rj = docs.filter(!col(labelCol))
      .select(col(groupCol).as("_g"), col(idCol).as("rejected_id"),
        col(lenCol).cast("long").as("rejected_len"))
    ch.join(rj, Seq("_g"))
      .withColumn("len_diff", abs(col("chosen_len") - col("rejected_len")))
      .groupBy("chosen_id")
      .agg(min(col("chosen_len")).as("chosen_len"),
        min_by(struct(col("rejected_id"), col("rejected_len"),
            col("len_diff")),
          struct(col("len_diff"), col("rejected_id"))).as("_best"))
      .select(col("chosen_id"), col("_best.rejected_id").as("rejected_id"),
        col("chosen_len"), col("_best.rejected_len").as("rejected_len"),
        col("_best.len_diff").as("len_diff"))
  }

  /** Train/test split LEAKAGE audit over near-duplicate clusters: a
    * hash split that ignores duplicate structure puts one member of a
    * near-dup cluster in train and its twin in test — the eval then
    * "generalizes" to memorized paraphrases (the Lee et al. 2022
    * dedup-before-split lesson). Input is the (id, cluster_rep) frame
    * [[Dedup.dedupClusters]] emits; each id hashes into 10 buckets,
    * `testBuckets` of which are the held-out fold. Returns one row per
    * cluster with member/fold counts and the `leaky` flag (members on
    * BOTH sides). The fix when leaky count > 0 is [[clusterSplit]] —
    * split by cluster rep, not by raw id. One groupBy over the cluster
    * frame; no joins. */
  def splitLeakageAudit(clusters: DataFrame, idCol: String, repCol: String,
                        testBuckets: Int = 2): DataFrame =
    clusters
      .withColumn("_test",
        Sketches.keyHash(col(idCol)) % 10 >= (10 - testBuckets))
      .groupBy(col(repCol).as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(col("_test"), 0L).otherwise(1L)).as("n_train"),
        sum(when(col("_test"), 1L).otherwise(0L)).as("n_test"))
      .withColumn("leaky", col("n_train") > 0 && col("n_test") > 0)

  /** Neyman optimal allocation (1934): split a total sample `budget`
    * across strata proportionally to N_h·σ_h — the design that minimizes
    * the variance of the estimated mean for a fixed budget, vs the naive
    * proportional-to-size split. σ_h is the exact population standard
    * deviation from decimal-accumulated Σv/Σv² (sqrt is correctly
    * rounded, so the doubles replay); fractional quotas resolve to
    * integers by LARGEST-REMAINDER rounding (floor everything, hand the
    * shortfall to the biggest fractional parts, stratum-name tie-break)
    * so the allocations sum to exactly `budget`. One pass over the data
    * (map-side-combinable aggregate), then window work on the
    * strata-count-sized frame only. */
  def neymanAllocation(df: DataFrame, stratumCol: String, vCol: String,
                       budget: Long): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val per = df.select(col(stratumCol).as("stratum"),
        col(vCol).cast("long").as("v"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_h"), sum(d38(col("v"))).as("sv"),
        sum(d38(col("v") * col("v"))).as("svv"))
      .withColumn("sigma", sqrt(
        (col("svv").cast("double") -
          col("sv").cast("double") * col("sv").cast("double") / col("n_h")) /
          col("n_h")))
      .withColumn("w", col("n_h").cast("double") * col("sigma"))
    val tot = per.agg(
      sum(col("w").cast("decimal(38,18)")).cast("double").as("_wt"),
      sum(col("n_h")).as("_nt"))
    // degenerate case: all strata constant (Σ N_h·σ_h = 0) — fall back
    // to proportional-to-N_h quotas so Σ n_alloc == budget still holds
    val q = per.crossJoin(broadcast(tot))
      .withColumn("quota",
        when(col("_wt") > 0, lit(budget.toDouble) * col("w") / col("_wt"))
          .otherwise(lit(budget.toDouble) * col("n_h") / col("_nt")))
      .withColumn("base", floor(col("quota")))
      .withColumn("frac", col("quota") - col("base"))
    val rem = q.agg((lit(budget) -
      sum(col("base"))).cast("long").as("_rem"))
    q.crossJoin(broadcast(rem))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("frac").desc, col("stratum").asc)))
      .withColumn("n_alloc",
        (col("base") + when(col("_rk") <= col("_rem"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("stratum"), col("n_h"), round(col("sigma"), 6).as("sigma"),
        round(col("quota"), 6).as("quota"), col("n_alloc"))
  }

  /** Dalenius–Hodges cum-√f stratification (Dalenius & Hodges 1959):
    * histogram the value into `nBins` equal-width bins, take the
    * cumulative √frequency, and cut it into `nStrata` equal slices —
    * the classic boundary rule that makes within-stratum variances
    * roughly equal, i.e. the boundaries [[neymanAllocation]] wants to
    * be fed. Bin k belongs to stratum ⌊cum√f(before k)·L/T⌋ (clamped),
    * a pure function of exact counts: √ of a BIGINT count is one IEEE
    * sqrt, the cumulative is a decimal window sum, the cut one
    * double multiply/divide + floor. Returns one row per stratum with
    * its bin range, row count and exact mean.
    *
    * Scale shape: one fact aggregate to `nBins` rows; windows ride the
    * bin frame; the per-stratum means come from the same bin-level
    * exact sums (Σv per bin), never a second fact pass. */
  def dhStratify(df: DataFrame, vCol: String, nBins: Int,
                 nStrata: Int): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy(lit(1))
    val rng = df.agg(min(col(vCol).cast("long")).as("mn"),
      max(col(vCol).cast("long")).as("mx"))
    val bins = df.select(col(vCol).cast("long").as("v"))
      .crossJoin(broadcast(rng))
      .withColumn("bin", expr(
        s"least($nBins - 1, ((v - mn) * $nBins) div (mx - mn + 1))"))
      .groupBy("bin")
      .agg(count(lit(1)).as("f"), sum("v").as("sv"))
      .withColumn("sqf", sqrt(col("f").cast("double")))
      .withColumn("cum_prev", coalesce(sum(d18(col("sqf"))).over(
        wAll.orderBy("bin").rowsBetween(Long.MinValue, -1)), lit(0)
        .cast("decimal(38,18)")).cast("double"))
      .withColumn("total", sum(d18(col("sqf"))).over(wAll).cast("double"))
      .withColumn("stratum", least(lit(nStrata - 1),
        floor(col("cum_prev") * nStrata / col("total"))).cast("int"))
    bins.groupBy("stratum")
      .agg(count(lit(1)).as("n_bins"), min("bin").as("lo_bin"),
        max("bin").as("hi_bin"), sum("f").as("n_rows"),
        (sum("sv").cast("double") / sum("f")).as("mean_v"))
      .select(col("stratum"), col("n_bins"), col("lo_bin"), col("hi_bin"),
        col("n_rows"), round(col("mean_v"), 6).as("mean_v"))
  }

  /** Iterative proportional fitting / raking (Deming & Stephan 1940) of
    * a 2-D contingency table to UNIFORM target margins: alternately
    * rescale each row to the target row total N/R and each column to
    * N/C, `iters` rounds — the classic survey-weighting move, and in a
    * training-data pipeline the way to reweight a (source × language)
    * corpus grid so neither margin dominates while preserving the
    * table's interaction structure (what independent per-axis caps
    * destroy). Weights converge geometrically; 6 rounds is plenty for
    * reporting.
    *
    * Replay-exactness: each rescale divides by the margin sum of
    * CURRENT weights — doubles, so the margin sums accumulate in
    * decimal(38,18) (order-free) and the update w·(target/margin) is
    * one identical tree per round, unrolled in the oracle as chained
    * CTEs. Scale shape: the cell table is |sources|·|langs| rows; the
    * corpus collapses once upstream, the 2·iters windows ride the tiny
    * frame. */
  def ipfRake(cells: DataFrame, rowCol: String, colCol: String,
              nCol: String, iters: Int = 6): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val W = org.apache.spark.sql.expressions.Window
    val base = cells.select(col(rowCol).as("r"), col(colCol).as("c"),
      col(nCol).cast("long").as("n"))
    val dims = base.agg(countDistinct("r").as("_R"),
      countDistinct("c").as("_C"), sum("n").as("_N"))
    var w = base.crossJoin(broadcast(dims))
      .withColumn("tr", col("_N").cast("double") / col("_R"))
      .withColumn("tc", col("_N").cast("double") / col("_C"))
      .withColumn("w", col("n").cast("double"))
    for (_ <- 1 to iters) {
      w = w.withColumn("w", col("w") * (col("tr") /
        sum(d18(col("w"))).over(W.partitionBy("r")).cast("double")))
      w = w.withColumn("w", col("w") * (col("tc") /
        sum(d18(col("w"))).over(W.partitionBy("c")).cast("double")))
    }
    w.select(col("r").as(rowCol), col("c").as(colCol), col("n"),
      round(col("w"), 6).as("weight"),
      round(col("w") / col("n"), 6).as("rake_factor"))
  }

  /** Token-budget mixture water-filling: given per-domain AVAILABLE
    * token counts and target mixture WEIGHTS, the unique x with
    * Σ_d min(avail_d, w_d·x) = budget gives each domain its quota
    * alloc_d = min(avail_d, w_d·x) — the actual sampling plan behind a
    * "web 60% / code 25% / books 15%" data card when some domains run
    * out (their shortfall redistributes to the rest in weight
    * proportion, which is exactly what naive per-domain w_d·budget
    * silently gets wrong). This is the closed-form solve, NOT a
    * bisection: domains saturate in order of r_d = avail_d/w_d, so the
    * boundary domain is found by the EXACT INTEGER test
    * A_{j−1}·w_j + W_{j−1}·avail_j ≥ budget·w_j (prefix sums of the
    * saturation order; no float threshold), and x* is one double
    * division. If Σ avail ≤ budget, every domain saturates and
    * x* is NULL.
    *
    * Scale shape: the input is the per-domain rollup (dozens of rows);
    * one bounded sort window. Weights must be positive. */
  def mixtureWaterfill(domains: DataFrame, domainCol: String,
                       availCol: String, weightCol: String,
                       budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avail").cast("double") / col("w"), col("dom"))
    val wPrev = w.rowsBetween(Long.MinValue, -1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val pre = domains
      .select(col(domainCol).as("dom"), col(availCol).cast("long")
        .as("avail"), col(weightCol).cast("long").as("w"))
      .withColumn("_j", row_number().over(w).cast("long"))
      .withColumn("_ap", coalesce(sum("avail").over(wPrev), lit(0L)))
      .withColumn("_wp", coalesce(sum("w").over(wPrev), lit(0L)))
      .withColumn("_wrem", sum("w").over(wAll) - col("_wp"))
      .withColumn("_stop", col("_ap") * col("w") +
        col("_wrem") * col("avail") >= lit(budget) * col("w"))
    val marked = pre
      .withColumn("_bj", min(when(col("_stop"), col("_j"))).over(wAll))
      .withColumn("_ba", max(when(col("_j") === col("_bj"), col("_ap")))
        .over(wAll))
      .withColumn("_bw", max(when(col("_j") === col("_bj"), col("_wrem")))
        .over(wAll))
      .withColumn("x_star", when(col("_bj").isNotNull,
        (lit(budget) - col("_ba")).cast("double") / col("_bw")))
    marked.select(col("dom").as(domainCol), col("avail"), col("w"),
      (col("_bj").isNull || col("_j") < col("_bj")).as("saturated"),
      when(col("_bj").isNull || col("_j") < col("_bj"),
        col("avail").cast("double"))
        .otherwise(col("w") * col("x_star")).as("alloc"),
      col("x_star"))
  }

  /** Hash-coherent cross-table sampling audit — the sampling mode that
    * SURVIVES JOINS: both tables keep a row iff `keyHash(join key) mod
    * modulus < keep`, so a joined pair is kept exactly when its shared
    * key is kept, and the join of the samples IS a sample of the join
    * (keep/modulus of its key groups — independent uniform row sampling
    * would keep a pair with prob p², decimating join results 1/p-fold).
    * Emits the audit numbers: per-table sample sizes, the sample-join
    * row count, the Horvitz–Thompson scale-up `joined·modulus/keep`
    * (exact rational — inclusion probability is known, not estimated),
    * the true full-join count, and the HT relative error. At 100 TB
    * this is how dev pipelines run on 1% WITHOUT breaking referential
    * structure; the error column is the evidence the estimator works.
    *
    * One hash predicate per scan (no shuffle to sample), one key-join
    * per side of the audit. The full-join count is the audit's cost —
    * a production setup runs it once per key, not per query. */
  def coherentSampleAudit(left: DataFrame, leftKey: String,
                          right: DataFrame, rightKey: String,
                          modulus: Int, keep: Int): DataFrame = {
    require(modulus >= 2 && keep >= 1 && keep < modulus,
      "need 1 <= keep < modulus")
    val lk = Sketches.keyHash(col(leftKey)) % modulus < keep
    val rk = Sketches.keyHash(col(rightKey)) % modulus < keep
    val ls = left.filter(lk).select(col(leftKey).as("k"))
    val rs = right.filter(rk).select(col(rightKey).as("k"))
    val joined = ls.join(rs, Seq("k")).agg(count(lit(1)).as("n_joined"))
    val full = left.select(col(leftKey).as("k"))
      .join(right.select(col(rightKey).as("k")), Seq("k"))
      .agg(count(lit(1)).as("n_full"))
    ls.agg(count(lit(1)).as("n_left")).crossJoin(broadcast(
        rs.agg(count(lit(1)).as("n_right"))))
      .crossJoin(broadcast(joined)).crossJoin(broadcast(full))
      .withColumn("ht_estimate",
        round(col("n_joined").cast("double") * modulus / keep, 6))
      .withColumn("rel_err",
        round(when(col("n_full") > 0,
          abs(col("ht_estimate") - col("n_full").cast("double")) /
            col("n_full")), 6))
  }

  /** Approximate-query-processing audit: per group, the mean of an
    * integer metric estimated from a `keep/modulus` hash sample with
    * its CLT 95% interval, against the full-scan truth — with a
    * `covered` verdict per group. This is the evidence table behind
    * "run the dashboard on 1% of 100 TB": the audit runs once to
    * certify the error model, the sampled estimator then serves every
    * subsequent query at `keep/modulus` of the cost. The hash sample
    * is deterministic and replayable (no rand()), so two engines — or
    * two days — agree on WHICH rows the sample contains.
    *
    * se = s/√n with s the sample sd (n−1); interval = est ± 1.96·se.
    * Sufficient statistics (n, Σv, Σv²) accumulate exactly per group
    * on both the full and sampled side; every derived number is one
    * fixed double tree (sqrt is correctly rounded in both engines).
    * Groups whose sample has < 2 rows report NULL se and NULL
    * coverage. One pass computes BOTH sides (conditional aggregates),
    * so the audit costs a single scan. */
  def aqpAudit(df: DataFrame, groupCol: String, keyCol: String,
               vCol: String, modulus: Int, keep: Int): DataFrame = {
    require(modulus >= 2 && keep >= 1 && keep < modulus,
      "need 1 <= keep < modulus")
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val inS = Sketches.keyHash(col(keyCol)) % modulus < keep
    val agg = df.select(col(groupCol).as("g"),
        col(vCol).cast("long").as("v"), inS.as("s"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(d38(col("v"))).as("_sv"),
        sum(when(col("s"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("s"), d38(col("v"))).otherwise(d38(lit(0L))))
          .as("_ssv"),
        sum(when(col("s"), d38(col("v")) * col("v"))
          .otherwise(d38(lit(0L)))).as("_ssvv"))
    val est = col("_ssv").cast("double") / col("n_sample")
    val svar = (col("_ssvv").cast("double") -
      col("_ssv").cast("double") * col("_ssv").cast("double") /
        col("n_sample")) / (col("n_sample") - 1)
    val se = sqrt(svar / col("n_sample"))
    agg
      .withColumn("true_mean", col("_sv").cast("double") / col("n"))
      .withColumn("est_mean", est)
      .withColumn("se", when(col("n_sample") >= 2, se))
      .withColumn("covered", when(col("n_sample") >= 2,
        abs(col("true_mean") - col("est_mean")) <= lit(1.96) * col("se")))
      .select(col("g").as(groupCol), col("n"), col("n_sample"),
        round(col("true_mean"), 6).as("true_mean"),
        round(col("est_mean"), 6).as("est_mean"),
        round(col("se"), 6).as("se"), col("covered"))
  }

  /** Greedy set cover (Johnson 1974; the (1+ln n)-approximation) over a
    * (set, element) membership table: `rounds` rounds, each picking the
    * set that covers the most still-uncovered elements (ties → smallest
    * set id in its natural ordering). The corpus-curation question this
    * answers: "which sources buy the most NEW vocabulary/capability per
    * round" — the selection curve behind coverage-driven source
    * acquisition. Rounds with no remaining candidate (every set fully
    * covered) emit nothing.
    *
    * Scale shape: membership collapses to DISTINCT (set, element) once
    * and is cached; each round is one anti-join against the covered
    * frame + one aggregate + a 1-ROW argmax collect. The covered frame
    * is bounded by the UNIVERSE, which the caller bounds (e.g. top-K
    * vocabulary), never by the corpus; the loop is a bounded driver
    * iteration like the k-means/IPF rounds, not a per-row collect.
    * Returns (round, set, gain, cum_covered, coverage). */
  def greedySetCover(members: DataFrame, setCol: String, elemCol: String,
                     rounds: Int): DataFrame = {
    val spark = members.sparkSession
    // st and every covered frame are UNIVERSE-bounded (the operator's
    // contract — the caller bounds the universe, e.g. top-K vocabulary),
    // so they collapse to one partition: each of the `rounds` driver
    // iterations then runs single-task jobs instead of paying the
    // session's shuffle-partition count per anti-join/distinct (cached
    // plans don't get AQE's post-shuffle coalescing; r12 measured 32×
    // the task count without this on a 6,200-row membership frame)
    val st = members.select(col(setCol).as("s"), col(elemCol).as("e"))
      .distinct().coalesce(1).cache()
    val universe = st.select("e").distinct().count()
    var covered = st.select("e").limit(0).cache()
    val picked = collection.mutable.ArrayBuffer[Row]()
    for (r <- 1 to rounds) {
      val gains = st.join(covered, Seq("e"), "left_anti")
        .groupBy("s").agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("s")).limit(1).collect()
      if (gains.nonEmpty) {
        val best = gains.head
        val nextCovered = covered
          .union(st.filter(col("s") === lit(best.get(0))).select("e"))
          .distinct().coalesce(1).cache()
        covered.unpersist()
        covered = nextCovered
        val cum = covered.count()
        picked += Row(r, best.get(0), best.getLong(1), cum,
          cum.toDouble / universe)
      }
    }
    st.unpersist(); covered.unpersist()
    // `set` keeps the INPUT column's type (a numeric set id stays
    // numeric), so the output joins/orders against the original frame.
    val setType = members.select(col(setCol)).schema.head.dataType
    spark.createDataFrame(
      spark.sparkContext.parallelize(picked.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("round",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("set",
          setType, nullable = false),
        org.apache.spark.sql.types.StructField("gain",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cum_covered",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("coverage",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }
}
