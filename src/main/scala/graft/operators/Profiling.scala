package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling — the "is this corpus fit to train on" audit
  * that runs before any pipeline consumes a new drop of data (the same
  * role Deequ/Great-Expectations checks play in production lakes; the
  * reference bundles a lighter version of this into its ingest summary,
  * `src/server/app/embed/document.py` processing counts).
  *
  * Two entry points:
  *  - [[columnProfile]]: one row per column — counts, nulls, distincts,
  *    lexicographic min/max — computed in a SINGLE shuffle by unpivoting
  *    to (column_name, value_string) and aggregating per name. At 100 TB
  *    the unpivot multiplies rows by the column count but every partial
  *    aggregate collapses map-side; no per-column pass, no Expand node
  *    (the multi-count-distinct alternative), no driver loop.
  *  - [[constraintAudit]]: a one-row report of violation COUNTS for the
  *    declared invariants (key uniqueness, referential containment,
  *    value-range membership). Violations are counted, not sampled, so
  *    the report is a gate: all-zeros ⇔ the contract holds.
  */
object Profiling {

  /** Per-column profile of `cols` (defaults to every column): row count,
    * non-null count, exact distinct count, lexicographic min/max of the
    * string form. Numeric min/max differ from lexicographic on purpose —
    * the profile is type-agnostic (one output schema for any table);
    * numeric range checks belong in [[constraintAudit]].
    *
    * Shape: unpivot via stack-style explode → ONE hash aggregate keyed by
    * (column_name) with map-side partials. Returns
    * (column_name, n_rows, n_nonnull, n_distinct, min_str, max_str). */
  def columnProfile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    val pairs = names.map { c =>
      struct(lit(c).as("column_name"), col(c).cast("string").as("v"))
    }
    df.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.column_name").as("column_name"), col("p.v").as("v"))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull"),
        count_distinct(col("v")).as("n_distinct"),
        min(col("v")).as("min_str"),
        max(col("v")).as("max_str"))
  }

  /** Key-uniqueness check: rows whose `keyCols` tuple occurs more than
    * once, counted over the duplicate groups (a key seen 3× contributes
    * 3). One aggregate on the key — the natural partial-agg shape. */
  def duplicateKeys(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1)

  /** Referential containment: count of child rows whose `fkCol` has no
    * match in `parent.pkCol` (NULL fks are not violations — nullability
    * is [[columnProfile]]'s business). Anti-join; the parent key set
    * broadcasts when small, AQE decides otherwise. */
  def orphanCount(child: DataFrame, fkCol: String,
                  parent: DataFrame, pkCol: String): DataFrame =
    child.filter(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)).distinct(),
        Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))

  /** Assemble the audit report from violation counts: each input frame
    * must be a single-row single-column count. The counts UNION into one
    * frame — one action evaluates every check; nothing collects. */
  def auditReport(checks: Seq[(String, DataFrame)]): DataFrame = {
    require(checks.nonEmpty, "auditReport: no checks declared")
    checks.map { case (label, cnt) =>
      cnt.select(lit(label).as("check"),
        col(cnt.columns.head).cast("long").as("n_violations"))
    }.reduce(_ unionAll _)
      .withColumn("passed", col("n_violations") === 0L)
  }

  /** Approximate functional-dependency audit over DECLARED candidate
    * column pairs — the schema-discovery profiling step (Tane/Metanome
    * family, restricted to given candidates; blind n² discovery over
    * wide tables is a different cost class): for each lhs → rhs
    * candidate, how many lhs equivalence classes map to more than one
    * rhs value, and the worst fan-out. `n_violating = 0` ⇔ the FD holds
    * exactly; a small violating fraction flags a *near*-FD — usually
    * dirty data or a latent business rule worth a constraint.
    *
    * Per candidate: one (lhs, rhs) distinct-pair aggregate, then a
    * per-lhs rollup — both map-side-combinable; candidates union into
    * ONE frame so a single action audits the declared set. Returns
    * (lhs_col, rhs_col, n_classes, n_violating, max_rhs_per_class,
    * holds). */
  def fdAudit(df: DataFrame, candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "fdAudit: no candidates declared")
    candidates.map { case (lhs, rhs) =>
      df.select(col(lhs).as("_l"), col(rhs).as("_r")).distinct()
        .groupBy("_l").agg(count(lit(1)).as("_nr"))
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("_nr") > 1, 1L).otherwise(0L)).as("n_violating"),
          max("_nr").as("max_rhs_per_class"))
        .select(lit(lhs).as("lhs_col"), lit(rhs).as("rhs_col"),
          col("n_classes"), col("n_violating"), col("max_rhs_per_class"))
    }.reduce(_ unionAll _)
      .withColumn("holds", col("n_violating") === 0L)
  }

  /** Zero-extra-pass pipeline instrumentation via Spark's `observe`: the
    * given aggregate metrics ride the NEXT action on the returned frame —
    * accumulator-style, computed in the same tasks that do the real work
    * (a separate `.agg(...)` action would rescan the input; at 100 TB
    * that is a second pass over the corpus just for counters). Read the
    * metrics from the returned [[org.apache.spark.sql.Observation]]
    * AFTER an action, e.g. a sink write — this is how an export job
    * reports its gate counts (docs seen / dropped / tokens written)
    * without re-deriving them.
    *
    * Metrics must be aggregate expressions with no distinct and no
    * result-dependent ordering (Spark's `observe` contract). Name each
    * with `.as(...)` — `Observation.get` is keyed by those names. */
  def withObservedMetrics(df: DataFrame, name: String,
                          metrics: Seq[Column]): (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "withObservedMetrics: no metrics declared")
    val obs = org.apache.spark.sql.Observation(name)
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Benford first-significant-digit p = log10(1+1/d), 6 dp — shared with
    * the q238 oracle literals. */
  val BenfordExpected: Seq[(Int, Double)] = Seq(
    1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
    5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
    9 -> 0.045757)

  /** Benford's-law audit of a positive integer amount column (cents):
    * observed share of each first significant digit vs the log10(1+1/d)
    * expectation — the classic fabricated-numbers / synthetic-data smell
    * test. One map-side digit projection + a 9-row aggregate; the first
    * digit comes from the integer's decimal rendering (engine-identical,
    * no float log in the data path — the expectations are fixed 6 dp
    * literals). Counts left-join onto the full 1-9 grid: a digit the
    * data never produces reports n = 0, share = 0 and the FULL
    * expected share as its deviation — the strongest fabrication
    * signal, not a dropped row (the same fix the χ² variant
    * [[graft.operators.Stats.benfordAudit]] carries). */
  def benfordAudit(df: DataFrame, amountCents: Column): DataFrame = {
    val counts = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(df.select(amountCents.cast("long").as("c"))
          .filter(col("c") > 0)
          .select(substring(col("c").cast("string"), 1, 1).cast("int")
            .as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n")),
        Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
    val total = counts.agg(sum("n").as("_tot"))
    val expected = BenfordExpected.foldLeft(lit(0.0)) {
      case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
    }
    counts.crossJoin(broadcast(total))
      .withColumn("share", col("n").cast("double") / col("_tot"))
      .withColumn("expected_share", expected)
      .withColumn("abs_dev", abs(col("share") - col("expected_share")))
      .select("digit", "n", "share", "expected_share", "abs_dev")
  }

  /** Access-frequency cache coverage: for each candidate cache size m,
    * the share of ALL accesses that would hit if the m most-accessed
    * keys were pinned — the frequency (LFU-ideal) upper bound that sizes
    * a serving cache before any eviction policy is discussed. The curve
    * flattening is the capacity signal: past the knee, more memory buys
    * nothing. One key-cardinality aggregate + a rank window on it; the
    * access stream itself only ever aggregates. */
  def accessCoverage(accesses: DataFrame, keyCol: String,
                     cacheSizes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = accesses.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("f"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("f").desc, col("k").asc)))
    val tot = freq.agg(sum("f").as("total"), count(lit(1)).as("n_keys"))
    freq.withColumn("cache_size",
        explode(array(cacheSizes.map(lit): _*)))
      .groupBy("cache_size")
      .agg(sum(when(col("rk") <= col("cache_size"), col("f")).otherwise(0L))
        .as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("cache_size"), col("n_keys"), col("covered"), col("total"),
        round(col("covered").cast("double") / col("total"), 6).as("hit_rate"))
  }

  /** Double-entry reconciliation of a parent total against its
    * children's sum: per parent key, delta = declared − Σ child amounts
    * (exact integer cents), with the corpus-wide summary (parents,
    * mismatches, total absolute drift) on every row and output bounded
    * to the `topK` largest absolute deltas — the finance-close audit
    * shape (invoice vs lines, order vs items, ledger vs journal).
    * Parents with no children reconcile against 0. Two aggregates +
    * a bounded rank filter. */
  def reconcileTotals(parent: DataFrame, parentKeyCol: String,
                      parentTotalCol: String, child: DataFrame,
                      childKeyCol: String, childAmountCol: String,
                      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = parent.select(col(parentKeyCol).as("key"),
      col(parentTotalCol).cast("long").as("declared"))
    val cs = child.groupBy(col(childKeyCol).as("key"))
      .agg(sum(col(childAmountCol).cast("decimal(38,0)")).cast("long")
        .as("children"))
    val d = p.join(cs, Seq("key"), "left")
      .withColumn("children", coalesce(col("children"), lit(0L)))
      .withColumn("delta", col("declared") - col("children"))
    // global counts via a single-row aggregate + broadcast (not a
    // partition-by-1 window, which funnels the full frame through one
    // task), and the top-K rank via orderBy+limit, which Spark executes
    // as TakeOrderedAndProject — bounded at every scale
    val totals = d.agg(count(lit(1)).as("n_parents"),
      sum(when(col("delta") =!= 0L, 1L).otherwise(0L)).as("n_mismatched"),
      sum(abs(col("delta"))).as("total_abs_delta"))
    d.orderBy(abs(col("delta")).desc, col("key").asc).limit(topK)
      .crossJoin(broadcast(totals))
      .select(col("key"), col("declared"), col("children"), col("delta"),
        col("n_parents"), col("n_mismatched"), col("total_abs_delta"))
  }

  /** Categorical-domain drift between a reference and a current slice:
    * every category is `new` (appeared), `gone` (vanished), or `shared`,
    * with its share in each slice and the absolute share shift. The
    * enum-domain audit χ²/PSI don't give — those score the DISTRIBUTION,
    * this names the categories, and a `new` enum value is usually a
    * schema/upstream change before it is a statistics question. Output
    * keeps every new/gone category plus the `topK` largest shifts among
    * shared ones. Two category-cardinality aggregates + a bounded
    * sort. */
  def categoryDrift(ref: DataFrame, cur: DataFrame, catCol: String,
                    topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = ref.groupBy(col(catCol).as("cat")).agg(count(lit(1)).as("n_ref"))
    val c = cur.groupBy(col(catCol).as("cat")).agg(count(lit(1)).as("n_cur"))
    val tot = r.agg(sum("n_ref").as("tr"))
      .crossJoin(c.agg(sum("n_cur").as("tc")))
    val j = r.join(c, Seq("cat"), "full_outer")
      .crossJoin(broadcast(tot))
      .withColumn("status", when(col("n_ref").isNull, lit("new"))
        .when(col("n_cur").isNull, lit("gone")).otherwise(lit("shared")))
      .withColumn("share_ref",
        coalesce(col("n_ref"), lit(0L)).cast("double") / col("tr"))
      .withColumn("share_cur",
        coalesce(col("n_cur"), lit(0L)).cast("double") / col("tc"))
      .withColumn("shift", abs(col("share_cur") - col("share_ref")))
    j.withColumn("_rk", row_number().over(
        Window.orderBy(col("shift").desc, col("cat").asc)))
      .filter(col("_rk") <= topK || col("status") =!= "shared")
      .select(col("cat"), col("status"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        round(col("share_ref"), 6).as("share_ref"),
        round(col("share_cur"), 6).as("share_cur"),
        round(col("shift"), 6).as("shift"))
  }

  /** Order-independent table checksum — the replica-equality audit two
    * 100 TB copies run WITHOUT moving data: each row's key tuple
    * fingerprints to a base-31 polyhash (mod 1e9+7), rows bucket by
    * `fp mod buckets`, and each bucket digests to (row count,
    * Σ fp mod 1e9+7) — sums are order- and partitioning-independent, so
    * two clusters computing this over differently-laid-out copies agree
    * iff the multisets of key tuples agree (up to hash collision). A
    * root row (bucket −1) combines the bucket digests so a single value
    * comparison gates the whole table; on mismatch the bucket rows
    * bisect WHICH shard diverged. One map-side hash + one
    * buckets-sized aggregate — the cheapest possible full-table pass. */
  def tableChecksum(df: DataFrame, keyCols: Seq[String],
                    buckets: Int = 16): DataFrame = {
    val P = 1000000007L
    val repr = concat_ws("\u001f", keyCols.map(c => col(c).cast("string")): _*)
    // ROLLUP computes the per-bucket digests AND the root row in ONE scan
    // + one aggregation (the previous union-of-aggregates recomputed the
    // corpus scan for the root — 2 full scans at sf0.1). The root's value
    // is unchanged: Σ_b (Σ_bucket fp mod P) ≡ Σ fp (mod P), so digesting
    // all fingerprints directly equals digesting the bucket digests. The
    // grand-total group surfaces as bucket NULL → -1.
    df.withColumn("_repr", repr)
      .select(graft.functions.TextFunctions.fingerprint("_repr").as("fp"))
      .withColumn("bucket", pmod(col("fp"), lit(buckets.toLong)).cast("int"))
      .rollup("bucket")
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(col("fp").cast("decimal(38,0)")), lit(P))
          .cast("long").as("digest"))
      .select(coalesce(col("bucket"), lit(-1)).as("bucket"),
        col("n_rows"), col("digest"))
      .orderBy("bucket")
  }

  /** Merkle-tree snapshot diff — [[tableChecksum]] grown a level so
    * divergence LOCALIZES: rows bucket into `leaves` by KEY hash (a
    * changed value stays in its leaf), leaves digest
    * order-independently over key+value fingerprints, `fanIn` leaves
    * roll into each mid node, mids into one root. Comparing two
    * snapshots then reads top-down: root differs → some change; mids
    * name the subtrees; leaves name the buckets to actually re-sync —
    * the Cassandra/DynamoDB anti-entropy protocol as a query. The
    * payoff column is `rows_to_sync`: rows of `b` under differing
    * nodes at each level — at 100 TB the difference between "ship the
    * table" and "ship 3 leaves".
    *
    * Per snapshot: one map-side fingerprint pass + a leaves-sized
    * aggregate; everything above the leaf level is literal-sized. The
    * diff joins are full-outer on node id (a bucket present in one
    * snapshot only is a difference, not an error). */
  def merkleDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                 valCols: Seq[String], leaves: Int = 256,
                 fanIn: Int = 16): DataFrame = {
    val P = 1000000007L
    require(leaves % fanIn == 0, "leaves must be a multiple of fanIn")
    def tree(df: DataFrame) = {
      val keyRepr = concat_ws("\u001f",
        keyCols.map(c => col(c).cast("string")): _*)
      val rowRepr = concat_ws("\u001f",
        (keyCols ++ valCols).map(c => col(c).cast("string")): _*)
      val leaf = df.withColumn("_kr", keyRepr).withColumn("_rr", rowRepr)
        .select(graft.functions.TextFunctions.fingerprint("_kr").as("kfp"),
          graft.functions.TextFunctions.fingerprint("_rr").as("rfp"))
        .withColumn("leaf", pmod(col("kfp"), lit(leaves.toLong)))
        .groupBy("leaf")
        .agg(count(lit(1)).as("n_rows"),
          pmod(sum(col("rfp").cast("decimal(38,0)")), lit(P))
            .cast("long").as("digest"))
      val mid = leaf
        .withColumn("mid", expr(s"leaf div $fanIn"))
        .groupBy("mid")
        .agg(sum("n_rows").as("n_rows"),
          pmod(sum(pmod((col("digest") + col("leaf")) * lit(31L), lit(P))
            .cast("decimal(38,0)")), lit(P)).cast("long").as("digest"))
      val rootN = mid.agg(sum("n_rows").as("n_rows"),
        pmod(sum(pmod((col("digest") + col("mid")) * lit(31L), lit(P))
          .cast("decimal(38,0)")), lit(P)).cast("long").as("digest"))
      (leaf, mid, rootN)
    }
    val (la, ma, ra) = tree(a)
    val (lb, mb, rb) = tree(b)
    def diff(x: DataFrame, y: DataFrame, id: String, level: String) = {
      val j = x.select(col(id), col("digest").as("da"))
        .join(y.select(col(id), col("digest").as("db"),
          col("n_rows").as("nb")), Seq(id), "full_outer")
        .withColumn("_diff", coalesce(col("da") =!= col("db"), lit(true)))
      j.agg(lit(level).as("level"), count(lit(1)).as("n_nodes"),
        sum(when(col("_diff"), 1L).otherwise(0L)).as("n_differing"),
        coalesce(sum(when(col("_diff"), col("nb"))), lit(0L))
          .as("rows_to_sync"))
    }
    val rootDiff = diff(ra.withColumn("rid", lit(0)),
      rb.withColumn("rid", lit(0)), "rid", "1_root")
    val midDiff = diff(ma, mb, "mid", "2_mid")
    val leafDiff = diff(la, lb, "leaf", "3_leaf")
    rootDiff.unionByName(midDiff).unionByName(leafDiff).orderBy("level")
  }

  /** Join-cardinality estimation QA: for each labeled equi-join, the
    * textbook uniform-NDV estimate |A|·|B| / max(ndv_A, ndv_B) (what a
    * System-R-style optimizer assumes) against the EXACT output
    * cardinality, as the q-error max(est/act, act/est) — the planner
    * sanity readout that tells you which joins skew will surprise.
    * The exact count never materializes the join: it is Σ_k
    * cnt_A(k)·cnt_B(k) over the key-level count tables (the same
    * collapse a 100 TB pre-join audit must use). All counts exact
    * BIGINT/decimal; est and q-error are single double trees. */
  def joinCardinalityQa(
      joins: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame =
    joins.map { case (label, a, ka, b, kb) =>
      val ca = a.groupBy(col(ka).as("k")).agg(count(lit(1)).as("cA"))
      val cb = b.groupBy(col(kb).as("k")).agg(count(lit(1)).as("cB"))
      val sa = ca.agg(sum("cA").as("na"), count(lit(1)).as("ndva"))
      val sb = cb.agg(sum("cB").as("nb"), count(lit(1)).as("ndvb"))
      val act = ca.join(cb, Seq("k"))
        .agg(coalesce(sum(col("cA").cast("decimal(38,0)") * col("cB")),
          lit(0).cast("decimal(38,0)")).as("actual"))
      sa.crossJoin(sb).crossJoin(act)
        .withColumn("est", col("na").cast("double") * col("nb") /
          greatest(col("ndva"), col("ndvb")))
        .withColumn("actual_d", col("actual").cast("double"))
        .select(lit(label).as("join_label"), col("na"), col("nb"),
          col("ndva"), col("ndvb"),
          round(col("est"), 3).as("est_rows"),
          col("actual").cast("long").as("actual_rows"),
          round(when(col("actual_d") > 0,
            greatest(col("est") / col("actual_d"),
              col("actual_d") / col("est"))), 6).as("q_error"))
    }.reduce(_ unionByName _)

  /** Pairwise Cramér's V association matrix over categorical columns —
    * the dependence screen a feature/profiling pass runs before trusting
    * "independent" dimensions (χ² rescaled to [0,1]:
    * V = sqrt(χ²/N / min(r−1, c−1)), Cramér 1946 §21.9).
    *
    * Scale discipline: ONE fact-table scan collapses to the joint
    * count cube over all the columns (tiny: the product of small
    * cardinalities); every pair's contingency table, margins and χ²
    * are then derived from that cube — k·(k−1)/2 pairs cost k²·|cube|
    * driver-free work, not k² fact scans. χ² accumulates the per-cell
    * `n_ij²/(r_i·c_j)` doubles in decimal(38,18) (order-free, the
    * repo parity rule); the expected-count form is algebraically
    * folded to N·(Σ n²/(r·c) − 1) so no per-cell subtraction noise.
    * Returns one row per unordered pair (col_a < col_b). */
  def cramersVMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val cube = df.groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .transform(Lineage.cut(_, "Profiling.cramersVMatrix.cube"))
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    pairs.map { case (a, b) =>
      val wa = org.apache.spark.sql.expressions.Window.partitionBy(a)
      val wb = org.apache.spark.sql.expressions.Window.partitionBy(b)
      val cells = cube.groupBy(col(a), col(b))
        .agg(sum("_n").as("n_ab"))
        .withColumn("_ra", sum("n_ab").over(wa))
        .withColumn("_cb", sum("n_ab").over(wb))
      cells.agg(
        sum("n_ab").as("n"),
        countDistinct(col(a)).as("r"),
        countDistinct(col(b)).as("c"),
        sum(d18((col("n_ab") * col("n_ab")).cast("double") /
          (col("_ra") * col("_cb")))).cast("double").as("_s"))
        // Σ n²/(r·c) ≥ 1 mathematically; clamp the float residue so a
        // perfectly independent pair can't round to −0.0 (q280 lesson)
        .withColumn("_e", greatest(lit(0.0), col("_s") - lit(1.0)))
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          col("n"), col("r"), col("c"),
          round(col("n") * col("_e"), 6).as("chi2"),
          when(least(col("r") - 1, col("c") - 1) > 0,
            round(sqrt(col("_e") / least(col("r") - 1, col("c") - 1)), 6))
            .as("cramers_v"))
    }.reduce(_ unionByName _)
  }

  /** String-column storage advisor: per column, the exact byte ledger a
    * format chooser needs — raw bytes, dictionary bytes (Σ distinct-value
    * lengths), and the FRONT-CODING savings (Σ common-prefix length with
    * the previous value in sorted dictionary order). The common prefix is
    * counted with the monotone-indicator trick — #\{k : a[1..k] = b[1..k]\}
    * equals the prefix length because prefix equality is monotone in k —
    * which both engines evaluate identically (no custom prefix
    * function). The string companion of the q415/q430 integer encoding
    * advisors.
    *
    * Scale shape: one distinct per column (dictionary-bounded), one
    * ordered window over the DICTIONARY (never the corpus); prefix
    * comparison cost is O(len) per dictionary entry. */
  def stringEncodingAudit(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cols.map { c =>
      val base = df.select(col(c).cast("string").as("v"))
        .filter(col("v").isNotNull)
      val raw = base.agg(count(lit(1)).as("n"),
        sum(length(col("v")).cast("long")).as("raw_bytes"))
      val dict = base.distinct()
        .withColumn("pv", lag("v", 1).over(Window.orderBy("v")))
        .withColumn("cp", when(col("pv").isNull ||
          least(length(col("v")), length(col("pv"))) < 1, lit(0L))
          .otherwise(expr(
            """size(filter(sequence(1, int(least(length(v), length(pv)))),
              |k -> substring(v, 1, k) = substring(pv, 1, k)))"""
              .stripMargin.replaceAll("\n", " ")).cast("long")))
        .agg(count(lit(1)).as("ndv"),
          sum(length(col("v")).cast("long")).as("dict_bytes"),
          sum("cp").as("front_saved_bytes"))
      raw.crossJoin(broadcast(dict))
        .select(lit(c).as("col_name"), col("n"), col("raw_bytes"),
          col("ndv"), col("dict_bytes"), col("front_saved_bytes"),
          round(col("dict_bytes").cast("double") / col("raw_bytes"), 6)
            .as("dict_ratio"),
          round((col("dict_bytes") - col("front_saved_bytes"))
            .cast("double") / col("dict_bytes"), 6).as("front_ratio"))
    }.reduce(_ unionByName _)
  }

  /** Median-of-shard-medians bias audit: how wrong is the "each shard
    * reports its median, coordinator takes the median of those" shortcut
    * every naive distributed percentile implementation ships? Computes
    * each shard's exact LOWER median off its value histogram (the
    * deterministic order statistic — no interpolation), the median of
    * those medians, the TRUE exact lower median, and the absolute /
    * relative gap. The number that justifies q424's two-pass exact plan.
    *
    * Scale shape: one (shard × distinct-value) histogram; medians read
    * off cumulative windows over the histogram, never row-sorted data;
    * the median-of-medians step is |shards| rows. */
  def shardMedianBias(df: DataFrame, shardCol: String,
                      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.select(col(shardCol).as("sh"),
        col(valueCol).cast("long").as("v"))
      .groupBy("sh", "v").agg(count(lit(1)).as("c"))
      .transform(Lineage.cut(_, "Profiling.shardMedianBias.hist"))
    val wCum = Window.partitionBy("sh").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("sh")
    val shardMed = hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n_sh", sum("c").over(wAll))
      .filter(col("cum") >= expr("(n_sh + 1) div 2"))
      .groupBy("sh").agg(min("v").as("med"))
    val wM = Window.orderBy("med")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mom = shardMed
      .withColumn("rk", sum(lit(1L)).over(wM))
      .withColumn("k", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter(col("rk") >= expr("(k + 1) div 2"))
      .agg(min("med").as("med_of_meds"), max("k").as("n_shards"))
    val gHist = hist.groupBy("v").agg(sum("c").as("c"))
    val wG = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val trueMed = gHist
      .withColumn("cum", sum("c").over(wG))
      .withColumn("n", sum("c").over(Window.partitionBy(lit(1))))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min("v").as("true_median"), max("n").as("n_rows"))
    mom.crossJoin(broadcast(trueMed))
      .select(col("n_rows"), col("n_shards"), col("med_of_meds"),
        col("true_median"),
        abs(col("med_of_meds") - col("true_median")).as("abs_err"),
        when(col("true_median") =!= 0, round(
          abs(col("med_of_meds") - col("true_median")).cast("double") /
            col("true_median"), 6)).as("rel_err"))
  }

  /** Histogram-based outlier score (HBOS, Goldstein & Dengel 2012) in
    * its EXACT rank-equivalent form: per row the product of its
    * per-feature histogram-bin counts. HBOS proper sums −log densities;
    * since −Σ log cᵢ is strictly decreasing in Π cᵢ, ranking by the raw
    * integer COUNT PRODUCT gives the identical outlier order with zero
    * float ops — a row is anomalous exactly when every one of its
    * feature values is individually rare. The weakest useful
    * multivariate outlier model (assumes feature independence), but it
    * runs in two corpus passes at any scale, which is why it's the
    * standard first-pass screen before kNN/LOF-class methods.
    *
    * Output: the `k` lowest-product rows (ties by id), with each
    * feature's bin count and the product.
    *
    * Scale shape: one groupBy per feature producing bounded bin-count
    * frames (broadcast back), one map-side score join, TakeOrdered(k).
    * The fact table shuffles zero times. */
  def hbosScores(df: DataFrame, idCol: String, binCols: Seq[String],
                 k: Int): DataFrame = {
    require(binCols.nonEmpty && k >= 1, "need features and k >= 1")
    val base = df.select(col(idCol).as("id") +:
      binCols.zipWithIndex.map { case (c, i) => col(c).as(s"b$i") }: _*)
    val scored = binCols.indices.foldLeft(base) { (acc, i) =>
      val cnt = base.groupBy(s"b$i").agg(count(lit(1)).as(s"c$i"))
      acc.join(broadcast(cnt), Seq(s"b$i"))
    }
    val product = binCols.indices
      .map(i => col(s"c$i").cast("decimal(38,0)"))
      .reduce(_ * _)
    scored
      .withColumn("score", product)
      .orderBy(col("score").asc, col("id").asc).limit(k)
      .select(col("id").as(idCol) +:
        binCols.indices.map(i => col(s"c$i")) :+
        col("score").cast("double").as("score"): _*)
  }

  /** Optimizer-statistics quality audit for range predicates: how well
    * does an equi-width histogram with the textbook uniform-within-bin
    * assumption estimate `x <= t` cardinalities on THIS column's actual
    * distribution? For each literal threshold: est = (full bins below)
    * + (containing bin count)·(t − bin_lo)/binWidth, act = exact count,
    * and the planner-robustness number q_error = max(est,act)/min(est,
    * act) (Moerkotte et al. 2009 — the metric under which join-order
    * choices degrade). Complements q426's JOIN-cardinality q-error with
    * the base-table-predicate half of the estimation problem; a column
    * that audits badly here wants a histogram with more bins — or
    * isn't uniform enough for equi-width at all.
    *
    * All counts exact; est is one rational-to-double tree per
    * threshold. Scale shape: ONE fact aggregate builds the histogram
    * (bounded bins) and ONE builds every actual count via conditional
    * sums; thresholds and bins join broadcast-sized. */
  def selectivityAudit(df: DataFrame, vCol: String, binWidth: Long,
                       nBins: Int, thresholds: Seq[Long]): DataFrame = {
    require(binWidth >= 1 && nBins >= 1 && thresholds.nonEmpty,
      "need binWidth, bins, thresholds")
    val s = df.sparkSession
    import s.implicits._
    val base = df.select(col(vCol).cast("long").as("v"))
    val hist = base
      .withColumn("bin", least(greatest(expr(s"v div $binWidth"),
        lit(0L)), lit((nBins - 1).toLong)))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    val acts = base.agg(
      thresholds.zipWithIndex.map { case (t, i) =>
        sum(when(col("v") <= t, 1L).otherwise(0L)).as(s"a$i")
      }.head, thresholds.zipWithIndex.tail.map { case (t, i) =>
        sum(when(col("v") <= t, 1L).otherwise(0L)).as(s"a$i")
      }: _*)
    val thr = thresholds.zipWithIndex.toDF("t", "ti")
      .withColumn("tbin", least(greatest(expr(s"t div $binWidth"),
        lit(0L)), lit((nBins - 1).toLong)))
    val est = thr.join(broadcast(hist),
        col("bin") <= col("tbin"), "left")
      .withColumn("below", when(col("bin") < col("tbin"), col("c"))
        .otherwise(lit(0L)))
      .withColumn("inbin", when(col("bin") === col("tbin"), col("c"))
        .otherwise(lit(0L)))
      .groupBy("t", "ti", "tbin")
      .agg(coalesce(sum("below"), lit(0L)).as("n_below"),
        coalesce(sum("inbin"), lit(0L)).as("n_inbin"))
      .withColumn("est", col("n_below").cast("double") +
        col("n_inbin").cast("double") *
          ((col("t") - col("tbin") * binWidth).cast("double") / binWidth))
    est.crossJoin(broadcast(acts))
      .withColumn("act", thresholds.indices.map(i =>
        when(col("ti") === i, col(s"a$i")))
        .reduceRight(_ otherwise _))
      .select(col("t").as("threshold"), round(col("est"), 6).as("est"),
        col("act"),
        round(when(col("act") > 0 && col("est") > 0,
          greatest(col("est"), col("act").cast("double")) /
            least(col("est"), col("act").cast("double"))), 6)
          .as("q_error"))
      .orderBy("threshold")
  }

  /** Enumerate every left-deep cross-product-free join order over a
    * CHAIN of relations (connected prefixes of a path graph are
    * intervals, so a plan is a growth path of intervals: pick a start
    * relation, then extend left or right each step — 2^(n-1) plans
    * shared across C(n-1,k) interval reuses), cost each with the classic
    * Selinger objective Sigma |intermediate result| using MEASURED
    * cardinalities, and rank them. The deliverable is the optimizer
    * story in numbers: how much a bad join order costs on THIS data
    * (start from the fact table and every intermediate is fact-sized;
    * start from the dim chain and intermediates stay dim-sized).
    *
    * Each interval cardinality is one real join-count (n*(n+1)/2 - n of
    * them); the enumeration and costing run over literal frames. At
    * 100 TB you'd feed estimated cards instead — the operator shape is
    * identical. */
  /** All left-deep cross-product-free join orders over a chain of
    * relations, flattened to (plan label, interval lo, interval hi)
    * rows — one row per intermediate interval (length >= 2) the plan
    * materializes. Shared by [[joinOrderAudit]] and its oracle so both
    * sides enumerate identically. */
  def chainPlans(names: Seq[String]): Seq[(String, Int, Int)] = {
    val n = names.size
    def grow(lo: Int, hi: Int, label: String): Seq[(String, Seq[(Int, Int)])] =
      if (lo == 0 && hi == n - 1) Seq((label, Nil))
      else {
        val left = if (lo > 0)
          grow(lo - 1, hi, label + ">" + names(lo - 1))
            .map { case (l, ivs) => (l, (lo - 1, hi) +: ivs) }
        else Nil
        val right = if (hi < n - 1)
          grow(lo, hi + 1, label + ">" + names(hi + 1))
            .map { case (l, ivs) => (l, (lo, hi + 1) +: ivs) }
        else Nil
        left ++ right
      }
    (0 until n).flatMap(i => grow(i, i, names(i)))
      .flatMap { case (label, ivs) => ivs.map(iv => (label, iv._1, iv._2)) }
  }

  def joinOrderAudit(rels: Seq[(String, DataFrame)],
                     conds: Seq[(String, String)]): DataFrame = {
    val n = rels.size
    require(n >= 2 && conds.size == n - 1, "need a chain")
    val spark = rels.head._2.sparkSession
    import spark.implicits._
    // measured cardinality of every contiguous interval of length >= 2
    val cards = (for { lo <- 0 until n; hi <- lo + 1 until n } yield {
      val joined = (lo + 1 to hi).foldLeft(rels(lo)._2) { (df, m) =>
        df.join(rels(m)._2, col(conds(m - 1)._1) === col(conds(m - 1)._2))
      }
      joined.agg(count(lit(1)).as("card"))
        .select(lit(lo).as("lo"), lit(hi).as("hi"), col("card"))
    }).reduce(_ unionByName _)
    val planDf = chainPlans(rels.map(_._1)).toDF("plan", "lo", "hi")
    planDf.join(broadcast(cards), Seq("lo", "hi"))
      .groupBy("plan").agg(sum("card").as("cost"))
      .withColumn("cost_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cost"), col("plan"))))
      .select("cost_rank", "plan", "cost")
      .orderBy("cost_rank")
  }

  /** 2-D Pareto skyline (Börzsönyi et al. 2001, "The Skyline Operator")
    * per group, for MINIMIZE `costCol` / MAXIMIZE `gainCol`: a point is
    * on the frontier iff no same-group point is ≥ in gain and ≤ in cost
    * with at least one strict inequality.
    *
    * Scale shape: the corpus collapses FIRST to the per-(group, gain
    * level) minimum cost — one hash aggregate with map-side partials,
    * output bounded by the level grid, never the corpus — and the
    * frontier test is then a running-min window over STRICTLY larger
    * gain levels inside each group. The textbook block-nested-loop
    * skyline is an O(n²) dominance self-join and unshippable at 100 TB;
    * in 2-D the frontier is exactly the strictly-decreasing envelope of
    * the level table, so the whole operator is aggregate + window over
    * levels. Returns (group, gain, min_cost) frontier levels. */
  def paretoSkyline2D(df: DataFrame, groupCol: String, gainCol: Column,
                      costCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("gain").desc)
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.groupBy(col(groupCol), gainCol.as("gain"))
      .agg(min(costCol).as("min_cost"))
      .withColumn("_best_above", min("min_cost").over(w))
      .filter(col("_best_above").isNull ||
        col("min_cost") < col("_best_above"))
      .drop("_best_above")
  }
}
