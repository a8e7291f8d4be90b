package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sketches. Spark's `approx_count_distinct` (HyperLogLog++)
  * merges partition sketches in a partitioning-dependent order, so its
  * estimate is not stable across cluster layouts — fine for monitoring,
  * wrong for a reproducibility-gated pipeline. KMV (k minimum hash
  * values, Bar-Yossef et al.) is a pure function of the value SET:
  * deterministic everywhere, mergeable (union = merge the k-min sets),
  * and exactly replayable by the SQL oracle.
  *
  * Scale shape: distinct-of-hash collapses map-side (partial aggregate),
  * the k smallest survive per partition via TakeOrdered's bounded heaps,
  * and only `partitions × k` longs reach the driver-side max. */
object Sketches {

  private val P = graft.plans.HashExpressions.P2n31
  private val Mix = graft.plans.HashExpressions.Mix

  /** Scrambled hash of a numeric key into [0, 2^31-1): affine step + two
    * xorshift-multiply rounds. A bare affine hash of consecutive keys is
    * LATTICE-structured (three-distance theorem) and biases k-minimum
    * statistics; the mixer restores the uniform-minima behavior KMV needs.
    * All ops (xor, >>, *, %) are exact in both Spark ANSI and DuckDB, so
    * the oracle replays the identical values. */
  def keyHash(key: Column, base: Long = graft.plans.HashExpressions.PolyBase1): Column = {
    val h0 = pmod(key.cast("long") * base, lit(P))
    val h1 = pmod(h0.bitwiseXOR(shiftright(h0, 16)) * Mix, lit(P))
    pmod(h1.bitwiseXOR(shiftright(h1, 13)) * Mix, lit(P))
  }

  /** Bloom-filter bit set over a key column: standard double hashing
    * (Kirsch-Mitzenmacher), position_i = (h1 + i*h2) mod m. The "filter"
    * is a DataFrame of distinct set bits — broadcastable to probe sides,
    * exactly the shape of engine runtime-filter join pruning. */
  def bloomBits(df: DataFrame, keyCol: String, m: Int, k: Int): DataFrame = {
    val h1 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase1)
    val h2 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase2)
      .bitwiseOR(lit(1L)) // odd stride → cycles through all of [0, m)
    val positions = array((0 until k).map(i => pmod(h1 + lit(i.toLong) * h2, lit(m))): _*)
    df.select(explode(positions).as("bit")).distinct()
  }

  /** Probe: distinct keys of `df` whose k positions are ALL set in `bits`
    * (supersets the true build set; the false-positive rate is the Bloom
    * trade-off). Probe keys are deduplicated before exploding positions —
    * a key appearing N times would otherwise match N*k != k position
    * indexes and be dropped, a false NEGATIVE violating the superset
    * guarantee — and a key passes when all k distinct position-indexes
    * matched. */
  def bloomProbe(df: DataFrame, keyCol: String, bits: DataFrame,
                 m: Int, k: Int): DataFrame = {
    val h1 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase1)
    val h2 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase2)
      .bitwiseOR(lit(1L))
    val positions = array((0 until k).map(i => pmod(h1 + lit(i.toLong) * h2, lit(m))): _*)
    df.select(col(keyCol)).distinct()
      .select(col(keyCol), posexplode(positions).as(Seq("pidx", "bit")))
      .join(broadcast(bits), "bit")
      .groupBy(keyCol).agg(countDistinct(col("pidx")).as("_matched"))
      .filter(col("_matched") === k)
      .select(keyCol)
  }

  /** Pack a [[bloomBits]] bit frame into `m/64` little-endian words on the
    * driver — 16 KB for m = 2^17. This is the broadcastable runtime-filter
    * form: Spark's own `InjectRuntimeFilter` ships Bloom filters to probe
    * sides the same way, and at 100 TB a 16 KB literal beating a 1.8M-row
    * shuffle+join is exactly the point of a Bloom filter. */
  def packBits(bits: DataFrame, m: Int): Array[Long] = {
    val words = new Array[Long]((m + 63) / 64)
    // bits are distinct, so SUM of the per-bit masks is the bitwise OR
    bits.selectExpr("cast(bit div 64 as int) as w",
        "shiftleft(1L, cast(bit % 64 as int)) as mask")
      .groupBy("w").agg(sum("mask").as("word"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Probe against a packed bit set: distinct keys whose k positions are
    * ALL set. Pure map-side expression over the broadcast words — the
    * only shuffle is the key dedup, vs. the explode+join+aggregate a
    * bit-frame probe needs. Semantically identical to probing the
    * [[bloomBits]] frame (same superset-of-build guarantee). Uses the
    * native [[graft.plans.HashExpressions.BloomProbeExpr]] — composing it
    * from Column ops put a 2048-element array literal into codegen, whose
    * generated filter exceeded the JIT huge-method limit and ran ~9× slower
    * in the bytecode interpreter. */
  def bloomProbePacked(df: DataFrame, keyCol: String, words: Array[Long],
                       m: Int, k: Int): DataFrame = {
    df.select(col(keyCol)).distinct()
      .filter(call_function("graft_bloom_probe",
        col(keyCol), typedLit(words.toSeq), lit(m), lit(k)))
  }

  /** Count-min sketch counters over a key column: a depth×width counter
    * grid, positions from the same Kirsch-Mitzenmacher double hashing as
    * the Bloom family. The frame is at most depth×width rows regardless of
    * input size — partial aggregation collapses the exploded (d, pos)
    * stream map-side, so the shuffle carries ≤ depth×width rows per
    * partition. The canonical approximate-heavy-hitters shape at 100 TB:
    * counters are broadcastable, mergeable (cell-wise sum), deterministic. */
  def cmsCounters(df: DataFrame, keyCol: String, depth: Int, width: Int): DataFrame = {
    val h1 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase1)
    val h2 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase2)
      .bitwiseOR(lit(1L))
    df.select(posexplode(array((0 until depth).map(d =>
        pmod(h1 + lit(d.toLong) * h2, lit(width))): _*)).as(Seq("d", "pos")))
      .groupBy("d", "pos").agg(count(lit(1)).as("c"))
  }

  /** Per-shard CMS counter grids: [[cmsCounters]] keyed additionally by
    * `shardCols` — the persistable form. Count-min cells are LINEAR
    * (c = Σ shard cells), so shards write their own grids and any number
    * of them later merge with [[cmsMerge]] without rescanning keys —
    * the additive twin of [[hllRegisters]]' max-merge. */
  def cmsCountersSharded(df: DataFrame, shardCols: Seq[String], keyCol: String,
                         depth: Int, width: Int): DataFrame = {
    val h1 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase1)
    val h2 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase2)
      .bitwiseOR(lit(1L))
    df.select(shardCols.map(col) :+ posexplode(array((0 until depth).map(d =>
        pmod(h1 + lit(d.toLong) * h2, lit(width))): _*)).as(Seq("d", "pos")): _*)
      .groupBy(shardCols.map(col) :+ col("d") :+ col("pos"): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Merge sharded CMS grids by summing cells — yields exactly the grid
    * [[cmsCounters]] builds in one pass over the union of the shards. */
  def cmsMerge(counters: DataFrame): DataFrame =
    counters.groupBy("d", "pos").agg(sum("c").as("c"))

  /** Inner-product (join-size) estimate from two CMS grids (Cormode &
    * Muthukrishnan 2005 §4.2): for each depth row, the dot product of
    * the two width-vectors upper-bounds Σ_k a_k·b_k (hash collisions
    * only ADD mass); the min over depth rows is the classic
    * equi-join-cardinality estimate — and with `a eq b`, the self-join
    * size / second frequency moment F2. This is the optimizer statistic
    * that decides shuffle-vs-broadcast and skew handling at 100 TB from
    * two O(depth×width) sketches, no key rescans. Counts are exact
    * BIGINTs, so the estimate replays deterministically; Σc² stays in
    * BIGINT range for per-grid mass up to ~3·10⁹ rows per depth — shard
    * the grids ([[cmsCountersSharded]]) beyond that. Returns one row
    * (inner_product_est). */
  def cmsInnerProduct(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("d"), col("pos"), col("c").as("_ca"))
    val r = b.select(col("d"), col("pos"), col("c").as("_cb"))
    l.join(r, Seq("d", "pos"))
      .groupBy("d").agg(sum(col("_ca") * col("_cb")).cast("long").as("_dot"))
      .agg(min("_dot").as("inner_product_est"))
  }

  /** AMS / count-sketch signed counters (Alon-Matias-Szegedy 1996;
    * Charikar-Chen-Farach-Colton 2002): depth × width grid where each key
    * adds sign(key) ∈ {−1, +1} to one cell per depth row. Unlike CMS the
    * estimate is UNBIASED (collisions cancel in expectation rather than
    * only inflating), which is what makes the median-of-rows F2 /
    * join-size estimator the textbook optimizer statistic. Signs come
    * from a third independent hash chain's low bit, positions from the
    * same Kirsch-Mitzenmacher double hashing as [[cmsCounters]] — all
    * exact integers, so the sketch and every estimate replay in SQL.
    * Grid is fixed-size (map-side partial agg); returns (d, pos, c). */
  def amsCounters(df: DataFrame, keyCol: String, depth: Int,
                  width: Int): DataFrame = {
    val h1 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase1)
    val h2 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase2)
      .bitwiseOR(lit(1L))
    // third independent chain for the sign — prime base distinct from
    // PolyBase1/2 so sign and position decorrelate (oracle-replayable)
    val sign = (pmod(keyHash(col(keyCol), 999979L), lit(2L)) * 2L - 1L)
    df.select(posexplode(array((0 until depth).map(d =>
        pmod(h1 + lit(d.toLong) * h2, lit(width))): _*)).as(Seq("d", "pos")),
        sign.as("s"))
      .groupBy("d", "pos").agg(sum("s").cast("long").as("c"))
  }

  /** Mergeable by construction — signed cells just add. */
  def amsMerge(counters: DataFrame): DataFrame =
    counters.groupBy("d", "pos").agg(sum("c").cast("long").as("c"))

  /** F2 (self-join size, Σ_k f_k²) estimate: per depth row Σ_w c_w² is an
    * unbiased F2 estimator; the MEDIAN over the `depth` rows tames the
    * variance. `depth` must be ODD (enforced) so the median is a single
    * integer — exact, no interpolation for the long cast to truncate.
    * The median runs over the FULL 0..depth-1 grid: a depth row with no
    * surviving cells contributes 0 (an all-cancelled or empty row is a
    * legitimate zero estimate, not a hole), and a row id ≥ depth — a grid
    * built with a different depth than declared — fails the plan loudly
    * instead of silently shifting the median. The skew statistic that
    * prices a 100 TB shuffle join's hot keys from an O(depth×width)
    * sketch. */
  def amsF2(counters: DataFrame, depth: Int): DataFrame = {
    require(depth % 2 == 1, s"amsF2: depth must be odd (got $depth)")
    medianOverDepthGrid(
      counters.groupBy("d")
        .agg(sum(col("c") * col("c")).cast("long").as("_v")),
      depth, "f2_est", "amsF2")
  }

  /** Shared tail of [[amsF2]]/[[amsJoinSize]]: exact integer median of a
    * per-depth-row statistic over the full 0..depth-1 grid (missing rows
    * are zero; out-of-range rows raise). */
  private def medianOverDepthGrid(perRow: DataFrame, depth: Int,
                                  outCol: String, who: String): DataFrame =
    perRow.sparkSession.range(0, depth).select(col("id").cast("int").as("d"))
      .join(perRow, Seq("d"), "full")
      .select(coalesce(col("_v"), lit(0L)).as("_v"),
        assert_true(col("d").between(0, depth - 1),
          lit(s"$who: grid row id outside declared depth $depth")).as("_ck"))
      .agg(expr(s"percentile(_v, 0.5)").cast("long").as(outCol),
        first(col("_ck")).as("_ck"))
      .select(when(col("_ck").isNull, col(outCol)).as(outCol))

  /** Equi-join cardinality estimate from two AMS grids built with the
    * SAME hash chain: per depth row Σ_w a_w·b_w is an unbiased estimator
    * of Σ_k a_k·b_k (signs decorrelate cross-key collisions); median over
    * rows. The two-table companion of [[amsF2]], and the unbiased
    * counterpart of [[cmsInnerProduct]]'s upper bound. */
  def amsJoinSize(a: DataFrame, b: DataFrame, depth: Int): DataFrame = {
    require(depth % 2 == 1, s"amsJoinSize: depth must be odd (got $depth)")
    val l = a.select(col("d"), col("pos"), col("c").as("_ca"))
    val r = b.select(col("d"), col("pos"), col("c").as("_cb"))
    medianOverDepthGrid(
      l.join(r, Seq("d", "pos"))
        .groupBy("d").agg(sum(col("_ca") * col("_cb")).cast("long").as("_v")),
      depth, "join_size_est", "amsJoinSize")
  }

  /** Point estimates from a CMS counter frame: min over the depth rows of
    * the key's counter cells (≥ true count, never under). Counters join
    * broadcast — the grid is tiny by construction. */
  def cmsEstimate(keys: DataFrame, keyCol: String, counters: DataFrame,
                  depth: Int, width: Int): DataFrame = {
    val h1 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase1)
    val h2 = keyHash(col(keyCol), graft.plans.HashExpressions.PolyBase2)
      .bitwiseOR(lit(1L))
    keys.select(col(keyCol), posexplode(array((0 until depth).map(d =>
        pmod(h1 + lit(d.toLong) * h2, lit(width))): _*)).as(Seq("d", "pos")))
      .join(broadcast(counters), Seq("d", "pos"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
  }

  /** HyperLogLog distinct estimate per group, m = 2^bucketBits buckets.
    *
    * Spark's own `approx_count_distinct` (HLL++) merges partition sketches
    * in partitioning-dependent order; like [[kmvDistinct]], this variant is
    * a pure function of the value set AND exactly SQL-replayable: rho comes
    * from `length(bin(r))` (exact integer string op, identical in DuckDB),
    * and the harmonic sum Σ 2^-Mj is scaled by 2^rhoBits so it accumulates
    * as an exact integer — no float-summation order to disagree on. The
    * final alpha·m²·2^rhoBits numerator is ONE double literal, so the
    * single division is bit-identical across engines.
    *
    * Raw-regime HLL (no small-range linear-counting branch): callers pick
    * bucketBits so expected cardinality > 2.5·m. */
  def hllDistinctByGroup(df: DataFrame, groupCol: String, keyCol: String,
                         bucketBits: Int = 5): DataFrame =
    hllMergeEstimate(hllRegisters(df, Seq(groupCol), keyCol, bucketBits),
      groupCol, bucketBits)

  /** The MERGEABLE form of the per-group HLL: one row per (groupCols…, b)
    * with the register value mx = max rho. This is the sketch a 100 TB
    * pipeline persists per shard/partition — registers from any number of
    * shards union and re-aggregate with max() ([[hllMergeEstimate]])
    * WITHOUT rescanning the raw keys, because max is associative and
    * commutative. m registers per group bound the sketch size. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], keyCol: String,
                   bucketBits: Int = 5): DataFrame = {
    val rhoBits = 31 - bucketBits
    val h = keyHash(col(keyCol))
    val bucket = shiftright(h, rhoBits)
    val r = h.bitwiseAND(lit((1L << rhoBits) - 1))
    val rho = when(r === 0, lit(rhoBits + 1))
      .otherwise(lit(rhoBits + 1) - length(bin(r)))
    df.select(groupCols.map(col) :+ bucket.as("b") :+ rho.as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("b"): _*).agg(max("rho").as("mx"))
  }

  /** Audience overlap |A ∩ B| WITHOUT a key join — HLL
    * inclusion-exclusion over the same replayable registers as
    * [[hllDistinctByGroup]]: |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    * the union sketch is just the two register tables max-merged (the
    * mergeability that makes this free at 100 TB: per-shard registers
    * persist once, any pair of audiences intersects in O(m) register
    * arithmetic, no rescan, no shuffle of raw keys). Exact-replay
    * properties inherited: each estimate is one double division over
    * exact integers, and the final subtraction is a fixed 3-term double
    * expression — bit-identical in SQL. Standard HLL caveat applies
    * (inclusion-exclusion error compounds for tiny overlaps); the
    * companion exact count in the q525 gate shows the error. Returns one
    * row (est_a, est_b, est_union, est_intersection). */
  def hllOverlap(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
                 bucketBits: Int = 5): DataFrame = {
    val tagged = a.select(lit("a").as("side"), col(aKey).as("k"))
      .unionByName(b.select(lit("b").as("side"), col(bKey).as("k")))
    val regs = hllRegisters(tagged, Seq("side"), "k", bucketBits)
    val perSide = hllMergeEstimate(regs, "side", bucketBits)
    val union = hllMergeEstimate(
      regs.select(lit("u").as("side"), col("b"), col("mx")), "side",
      bucketBits)
    perSide.agg(
        max(when(col("side") === "a", col("hll_est"))).as("est_a"),
        max(when(col("side") === "b", col("hll_est"))).as("est_b"))
      .crossJoin(broadcast(union.select(col("hll_est").as("est_union"))))
      .select(round(col("est_a"), 6).as("est_a"),
        round(col("est_b"), 6).as("est_b"),
        round(col("est_union"), 6).as("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 6)
          .as("est_intersection"))
  }

  /** Merge register tables (max per bucket) and finish the raw-regime HLL
    * estimate — the second-level aggregation over [[hllRegisters]] output
    * from one or many shards. */
  def hllMergeEstimate(registers: DataFrame, groupCol: String,
                       bucketBits: Int = 5): DataFrame = {
    val m = 1 << bucketBits
    val rhoBits = 31 - bucketBits
    val factor = hllFactor(bucketBits)
    registers
      .groupBy(col(groupCol), col("b")).agg(max("mx").as("mx"))
      .groupBy(col(groupCol))
      .agg(sum(expr(s"shiftleft(1L, ${rhoBits + 1} - mx)")).as("present"),
        count(lit(1)).as("nb"))
      .select(col(groupCol),
        (lit(factor) / (col("present") +
          (lit(m.toLong) - col("nb")) * lit(1L << (rhoBits + 1))).cast("double"))
          .as("hll_est"))
  }

  /** alpha_m · m² · 2^(rhoBits+1), precomputed on the driver so both the
    * Spark plan and the generated oracle SQL embed the identical double
    * literal (shortest-repr round trip). */
  def hllFactor(bucketBits: Int): Double = {
    val m = (1 << bucketBits).toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * math.pow(2.0, (31 - bucketBits + 1).toDouble)
  }

  /** Fixed-boundary histogram of a numeric column: bucket counts over
    * `nBuckets` equal-width bins of [lo, hi), values clamped to the edge
    * bins. The MERGEABLE quantile sketch for numeric profiling at scale —
    * bucket counts are linear (sum-merge across shards like [[cmsMerge]]),
    * the grid is O(nBuckets) regardless of input, and unlike t-digest /
    * `percentile_approx` the result is a pure function of the value
    * multiset (no merge-order dependence), so the oracle replays it
    * exactly. */
  def histogramCounts(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                      nBuckets: Int): DataFrame = {
    val w = (hi - lo) / nBuckets
    df.select(least(greatest(
        floor((col(valueCol) - lit(lo)) / lit(w)), lit(0L)),
        lit((nBuckets - 1).toLong)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
  }

  /** Quantile estimates from a histogram: for each q, rank
    * target = ceil(q·n), then linear interpolation inside the first bucket
    * whose cumulative count reaches the target:
    * est = lo + w · (b + (target - cum_below) / c_b). The cumsum window
    * runs over nBuckets rows — a single tiny partition by construction. */
  def histogramQuantiles(hist: DataFrame, lo: Double, hi: Double,
                         nBuckets: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = (hi - lo) / nBuckets
    val cum = hist.withColumn("cum",
      sum("c").over(Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)))
    val total = hist.agg(sum("c").as("n"))
    val qlits = hist.sparkSession.range(1)
      .select(explode(array(qs.map(lit): _*)).as("q"))
    val qdf = cum.crossJoin(broadcast(total))
      .crossJoin(broadcast(qlits))
      .withColumn("target", ceil(col("q") * col("n")))
      .filter(col("cum") >= col("target"))
      .groupBy("q", "target")
      .agg(min(struct(col("b"), col("cum"), col("c"))).as("s"))
    qdf.select(col("q"),
        (lit(lo) + lit(w) * (col("s.b") +
          (col("target") - (col("s.cum") - col("s.c"))).cast("double") / col("s.c")))
          .as("est"))
      .orderBy("q")
  }

  /** KMV estimate of |distinct keyCol|: (k-1) * P / h_k where h_k is the
    * k-th smallest distinct hash. Exact when fewer than k distinct values
    * exist (falls back to the distinct count). Returns a 1-row frame
    * (estimate DOUBLE, n_hashes BIGINT). */
  def kmvDistinct(df: DataFrame, keyCol: String, k: Int = 256): DataFrame = {
    val kmin = df.select(keyHash(col(keyCol)).as("h"))
      .distinct()
      .orderBy("h")
      .limit(k)
    kmin.agg(
      when(count(lit(1)) < k, count(lit(1)).cast("double"))
        .otherwise(lit((k - 1).toDouble) * P / max("h")).as("estimate"),
      count(lit(1)).as("n_hashes"))
  }

  /** KMV two-set overlap (Beyer et al., SIGMOD 2007): build each side's
    * k-min sketch, keep the k smallest hashes of their union, and count
    * union-sketch hashes present in BOTH side sketches — Jaccard ≈
    * n_both / n_union, intersection ≈ Jaccard × the union's KMV distinct
    * estimate. Estimates corpus overlap with NO exact intersect: at 100 TB
    * each side collapses to k longs through bounded TakeOrdered heaps, and
    * like [[kmvDistinct]] the result is a pure value-set function —
    * deterministic under any partitioning, mergeable, oracle-replayable.
    * Returns one row: (n_union, n_both, union_est, jaccard_est,
    * intersection_est). */
  def kmvJaccard(dfA: DataFrame, dfB: DataFrame, keyCol: String,
                 k: Int = 256): DataFrame = {
    def sk(df: DataFrame, inB: Int) =
      df.select(keyHash(col(keyCol)).as("h")).distinct()
        .orderBy("h").limit(k)
        .select(col("h"), lit(1 - inB).as("a"), lit(inB).as("b"))
    val unionEst = when(col("n_union") < k, col("n_union").cast("double"))
      .otherwise(lit((k - 1).toDouble) * P / col("_hk"))
    sk(dfA, 0).unionByName(sk(dfB, 1))
      .groupBy("h").agg(max("a").as("in_a"), max("b").as("in_b"))
      .orderBy("h").limit(k)
      .agg(
        count(lit(1)).as("n_union"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_both"),
        max("h").as("_hk"))
      .select(col("n_union"), col("n_both"),
        unionEst.as("union_est"),
        (col("n_both").cast("double") / col("n_union")).as("jaccard_est"),
        ((col("n_both").cast("double") / col("n_union")) * unionEst)
          .as("intersection_est"))
  }

  /** Bloom-filter false-positive audit (Bloom 1970): build the exact
    * position SET a k-hash/m-bit Bloom filter would set over the member
    * keys, then probe with KNOWN NON-MEMBERS and count how many hit all
    * k positions — the EMPIRICAL FPR beside the fill-ratio approximation
    * fpr ≈ fill^k (exact multiply chain, no libm). This is the audit
    * that validates the parameters behind the q140 Bloom runtime-filter
    * join: an overfull filter silently stops pruning the fact scan.
    *
    * The k positions per key ride the repo's scrambled-hash family
    * (`keyHash(key) + i·Mix mod p mod m` — deterministic, any
    * partitioning, either engine). Set membership is a distinct-
    * position table (bounded by m) joined against exploded probe
    * positions; everything else is exact counts. */
  def bloomFprAudit(members: DataFrame, keyCol: String,
                    probes: DataFrame, probeKeyCol: String,
                    mBits: Int, kHashes: Int = 3): DataFrame = {
    val mix = graft.plans.HashExpressions.Mix
    val p = 2147483647L
    def positions(key: Column): Column = {
      val h = keyHash(key.cast("long"))
      array((0 until kHashes).map(i =>
        pmod(h + lit(i.toLong) * mix, lit(p)) % mBits): _*)
    }
    val posSet = members
      .select(explode(positions(col(keyCol))).as("pos")).distinct()
      .transform(Lineage.cut(_, "Sketches.bloomFprAudit.positions"))
    val mStats = members.agg(countDistinct(col(keyCol)).as("n_members"))
      .crossJoin(broadcast(posSet.agg(count(lit(1)).as("bits_set"))))
    val probed = probes
      .select(col(probeKeyCol).as("pk"),
        explode(positions(col(probeKeyCol))).as("pos"))
      .join(posSet, Seq("pos"))
      .groupBy("pk").agg(count(lit(1)).as("hits"))
      .filter(col("hits") === kHashes)
      .agg(count(lit(1)).as("n_false_pos"))
    probes.agg(countDistinct(col(probeKeyCol)).as("n_probes"))
      .crossJoin(broadcast(mStats)).crossJoin(broadcast(probed))
      .withColumn("fill_ratio",
        col("bits_set").cast("double") / mBits)
      .select(col("n_members"), lit(mBits).as("m_bits"),
        lit(kHashes).as("k_hashes"), col("bits_set"),
        round(col("fill_ratio"), 6).as("fill_ratio"),
        col("n_probes"), col("n_false_pos"),
        round(col("n_false_pos").cast("double") / col("n_probes"), 6)
          .as("fpr"),
        round((0 until kHashes).map(_ => col("fill_ratio"))
          .reduce(_ * _), 6).as("theo_fpr"))
  }
}
