package graft

import org.apache.spark.sql.functions._
import graft.operators.Profiling

class ProfilingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Option("alpha"), Option(10)),
    (2L, Option("beta"), None),
    (3L, None, Option(10)),
    (3L, Option("alpha"), Option(30))
  ).toDF("id", "name", "score")

  test("columnProfile: counts, nulls, distincts, lexicographic min/max") {
    val p = Profiling.columnProfile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet === Set("id", "name", "score"))
    val id = p("id")
    assert(id.getLong(1) === 4L && id.getLong(2) === 4L && id.getLong(3) === 3L)
    assert(id.getString(4) === "1" && id.getString(5) === "3")
    val name = p("name")
    assert(name.getLong(2) === 3L)   // one null
    assert(name.getLong(3) === 2L)   // alpha, beta
    assert(name.getString(4) === "alpha" && name.getString(5) === "beta")
    val score = p("score")
    assert(score.getLong(2) === 3L && score.getLong(3) === 2L)
    // lexicographic, NOT numeric: "10" < "30"
    assert(score.getString(4) === "10" && score.getString(5) === "30")
  }

  test("columnProfile: restricted column list profiles only those columns") {
    val p = Profiling.columnProfile(df, Seq("name"))
    assert(p.collect().map(_.getString(0)).toSeq === Seq("name"))
  }

  test("duplicateKeys counts every row of a duplicated group") {
    val d = Profiling.duplicateKeys(df, Seq("id")).collect()
    assert(d.length === 1 && d(0).getLong(1) === 2L) // id=3 twice
  }

  test("orphanCount: unmatched non-null fks only") {
    val parent = Seq(1L, 2L).toDF("pk")
    val child = Seq(Option(1L), Option(9L), Option(8L), None).toDF("fk")
    val n = Profiling.orphanCount(child, "fk", parent, "pk")
      .collect()(0).getLong(0)
    assert(n === 2L) // 9 and 8; the NULL fk is not a violation
  }

  test("q304 fk integrity map: a duplicated parent key inflates no count") {
    // orders carries key 1 twice; lineitem has 3 rows, one (key 9) an
    // orphan of orders. Each edge must report its child's row count and
    // its true orphans, as the oracle's count(*) / anti-join does.
    val dir = java.nio.file.Files.createTempDirectory("graft-q304").toString
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.write.parquet(s"$dir/$name.parquet")
    write("lineitem", Seq((1L, 1L, 1L), (2L, 1L, 1L), (9L, 1L, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey"))
    write("orders", Seq((1L, 1L), (1L, 1L), (2L, 1L))
      .toDF("o_orderkey", "o_custkey"))
    write("customer", Seq((1L, 0L)).toDF("c_custkey", "c_nationkey"))
    write("supplier", Seq((1L, 0L)).toDF("s_suppkey", "s_nationkey"))
    write("part", Seq(1L).toDF("p_partkey"))
    write("nation", Seq(0L).toDF("n_nationkey"))
    val out = SparkEntry.queries("q304_fk_integrity_map")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map(
      "lineitem->orders" -> ((3L, 1L)), "lineitem->part" -> ((3L, 0L)),
      "lineitem->supplier" -> ((3L, 0L)), "orders->customer" -> ((3L, 0L)),
      "customer->nation" -> ((1L, 0L)), "supplier->nation" -> ((1L, 0L))))
  }

  test("auditReport: one row per check, passed ⇔ zero violations") {
    val rpt = Profiling.auditReport(Seq(
      "dups" -> Profiling.duplicateKeys(df, Seq("id"))
        .agg(coalesce(sum(col("_n")), lit(0L)).as("n")),
      "clean" -> df.filter(col("id") < 0).agg(count(lit(1)).as("n"))
    )).collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rpt("dups") === ((2L, false)))
    assert(rpt("clean") === ((0L, true)))
  }

  test("withObservedMetrics: export-gate counters ride the sink action") {
    // a filter-then-write pipeline observed BEFORE the gate: the counters
    // come out of the same tasks as the write — no second scan
    val docs = (0 until 100).map(i => (i.toLong, i % 5, (i % 7).toLong))
      .toDF("doc_id", "quality", "tokens")
    val (observed, obs) = Profiling.withObservedMetrics(docs, "export_gate",
      Seq(count(lit(1)).as("n_seen"),
        sum(when(col("quality") >= 3, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("quality") >= 3, col("tokens")).otherwise(0L))
          .as("tokens_kept")))
    val out = java.nio.file.Files
      .createTempDirectory("graft-obs").toString + "/exp"
    observed.filter(col("quality") >= 3).write.mode("overwrite").parquet(out)
    val m = obs.get
    assert(m("n_seen") == 100L)
    assert(m("n_kept") == 40L) // quality 3,4 of 0..4 → 2/5 of 100
    // cross-check against an explicit aggregate of the same predicate
    val expTok = docs.filter(col("quality") >= 3)
      .agg(sum("tokens")).head().getLong(0)
    assert(m("tokens_kept") == expTok)
    // and the write really only contains the gated rows
    assert(spark.read.parquet(out).count() == 40L)
  }

  test("fdAudit: exact FD holds, near-FD counts violating classes and fan-out") {
    val df = Seq((1L, 10L, "x"), (2L, 10L, "x"), (3L, 20L, "y"),
      (3L, 20L, "y"), (4L, 20L, "z"))
      .toDF("pk", "grp", "v")
    val out = graft.operators.Profiling
      .fdAudit(df, Seq(("pk", "grp"), ("grp", "v")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // pk -> grp: 4 classes, each one grp -> holds
    assert(out(("pk", "grp"))  == ((4L, 0L, 1L, true)))
    // grp -> v: grp 10 -> {x}, grp 20 -> {y, z} -> 1 violating, max 2
    assert(out(("grp", "v")) == ((2L, 1L, 2L, false)))
  }

  test("benfordAudit: digit shares and fixed expectations; non-positive drop; " +
       "absent digits report zero share, not a dropped row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(123L, 19L, 250L, 987L, 111L, 0L, -5L).toDF("cents")
    val out = graft.operators.Profiling.benfordAudit(df, col("cents"))
      .orderBy("digit")
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    // full 1-9 grid: observed digits carry counts, the rest zeros
    assert(out.map(_._1) == (1 to 9))
    assert(out.map(r => (r._1, r._2)).filter(_._2 > 0) ==
      Seq((1, 3L), (2, 1L), (9, 1L)))
    val d1 = out.head
    assert(d1._3 == 3.0 / 5.0 && d1._4 == 0.301030)
    assert(math.abs(d1._5 - (0.6 - 0.301030)) < 1e-12)
    // an absent digit's deviation is its FULL expected share — the
    // fabrication signal the pre-fix version silently dropped
    val d5 = out(4)
    assert(d5._2 == 0L && d5._3 == 0.0 && d5._5 == d5._4)
  }

  test("categoryDrift: new/gone named, shared shifts ranked") {
    import spark.implicits._
    val ref = Seq("a", "a", "a", "b").toDF("cat0")
    val cur = Seq("a", "c").toDF("cat0")
    val out = graft.operators.Profiling.categoryDrift(ref, cur, "cat0", 10)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(out("a") == (("shared", 3L, 1L, 0.75, 0.5, 0.25)))
    assert(out("b") == (("gone", 1L, 0L, 0.25, 0.0, 0.25)))
    assert(out("c") == (("new", 0L, 1L, 0.0, 0.5, 0.5)))
  }

  test("reconcileTotals: exact deltas, childless parent, top-K bound") {
    import spark.implicits._
    val parents = Seq((1L, 100L), (2L, 50L), (3L, 70L)).toDF("pk", "total")
    val children = Seq((1L, 60L), (1L, 40L), (2L, 55L)).toDF("ck", "amt")
    val out = graft.operators.Profiling
      .reconcileTotals(parents, "pk", "total", children, "ck", "amt", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    // deltas: 1 → 0, 2 → −5, 3 → 70 (no children); top-2 keeps 3 and 2
    assert(out.keySet == Set(2L, 3L))
    assert(out(3L) == ((70L, 0L, 70L, 3L, 2L, 75L)))
    assert(out(2L) == ((50L, 55L, -5L, 3L, 2L, 75L)))
  }

  test("accessCoverage: top-m frequency mass at each cache size") {
    import spark.implicits._
    val acc = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", "d"))
      .map(Tuple1(_)).toDF("k")
    val out = graft.operators.Profiling
      .accessCoverage(acc, "k", Seq(1, 2, 4))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1) == ((4L, 5L, 10L, 0.5)))
    assert(out(2) == ((4L, 8L, 10L, 0.8)))
    assert(out(4) == ((4L, 10L, 10L, 1.0)))
  }

  test("tableChecksum: partitioning-invariant, detects a single-row change") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
    val a = Profiling.tableChecksum(df, Seq("k", "v"), 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // same multiset, different physical layout → identical digests
    val b = Profiling.tableChecksum(df.repartition(7).sortWithinPartitions(
        org.apache.spark.sql.functions.col("v")), Seq("k", "v"), 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b)
    // root row present, counts total
    assert(a.exists { case (bk, n, _) => bk == -1 && n == 50L })
    // one changed value flips the root digest
    val changed = df.withColumn("v",
      org.apache.spark.sql.functions.when(col("k") === 17L, "MUTANT")
        .otherwise(col("v")))
    val c = Profiling.tableChecksum(changed, Seq("k", "v"), 8)
      .filter(col("bucket") === -1).head().getLong(2)
    assert(c != a.find(_._1 == -1).get._3)
  }

  test("joinCardinalityQa: exact counts, q-error flags skew") {
    import spark.implicits._
    // uniform join: est == actual, q-error 1; skewed join: one hot key
    // makes the uniform estimate undercount
    val a = Seq(1L, 1L, 1L, 1L, 2L).toDF("ka") // 5 rows, ndv 2
    val b = Seq(1L, 2L).toDF("kb")             // 2 rows, ndv 2
    val out = Profiling.joinCardinalityQa(Seq(("j", a, "ka", b, "kb")))
      .head()
    assert(out.getAs[Long]("na") == 5L && out.getAs[Long]("ndva") == 2L)
    // est = 5·2/2 = 5; actual = 4·1 + 1·1 = 5 → q-error 1 here (b flat)
    assert(out.getAs[Long]("actual_rows") == 5L)
    assert(out.getAs[Double]("q_error") == 1.0)
    // now skew the small side too: b2 = {1,1,1} — est = 5·3/2 = 7.5,
    // actual = 4·3 = 12 → q-error = 12/7.5 = 1.6
    val b2 = Seq(1L, 1L, 1L).toDF("kb")
    val o2 = Profiling.joinCardinalityQa(Seq(("j", a, "ka", b2, "kb")))
      .head()
    assert(o2.getAs[Long]("actual_rows") == 12L)
    assert(o2.getAs[Double]("q_error") == 1.6)
  }

  test("cramersVMatrix: V = 1 for perfect association, 0 for independence") {
    import spark.implicits._
    // c1↔c2 perfectly associated; c3 independent of both
    val df = Seq(
      ("a", "x", "p"), ("a", "x", "q"), ("b", "y", "p"), ("b", "y", "q"))
      .toDF("c1", "c2", "c3")
    val out = Profiling.cramersVMatrix(df, Seq("c1", "c2", "c3"))
      .collect().map(r => (r.getAs[String]("col_a"),
        r.getAs[String]("col_b")) -> r).toMap
    assert(out.size == 3)
    val p12 = out(("c1", "c2"))
    assert(p12.getAs[Long]("n") == 4L && p12.getAs[Long]("r") == 2L)
    assert(p12.getAs[Double]("chi2") == 4.0)
    assert(p12.getAs[Double]("cramers_v") == 1.0)
    assert(out(("c1", "c3")).getAs[Double]("cramers_v") == 0.0)
    assert(out(("c2", "c3")).getAs[Double]("chi2") == 0.0)
  }

  test("stringEncodingAudit: hand byte ledger with front-coding prefix") {
    import spark.implicits._
    // values aa, ab, ab: raw = 6 bytes; dict = {aa, ab} = 4 bytes;
    // sorted adjacent common prefix len(aa, ab) = 1 → 1 byte saved
    val df = Seq("aa", "ab", "ab").toDF("s")
    val r = Profiling.stringEncodingAudit(df, Seq("s")).head()
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("raw_bytes") == 6L)
    assert(r.getAs[Long]("ndv") == 2L && r.getAs[Long]("dict_bytes") == 4L)
    assert(r.getAs[Long]("front_saved_bytes") == 1L)
    assert(r.getAs[Double]("dict_ratio") == 0.666667)
    assert(r.getAs[Double]("front_ratio") == 0.75)
  }

  test("shardMedianBias: skewed shards — hand medians; uniform shards are unbiased") {
    import spark.implicits._
    // shard 1 = {1,2,3}, shard 2 = {10,20,30}: medians 2 and 20,
    // median-of-medians = 2; true lower median of all 6 = 3
    val skew = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 10L), (2L, 20L),
      (2L, 30L)).toDF("sh", "v")
    val r = Profiling.shardMedianBias(skew, "sh", "v").head()
    assert(r.getAs[Long]("n_shards") == 2L &&
      r.getAs[Long]("n_rows") == 6L)
    assert(r.getAs[Long]("med_of_meds") == 2L &&
      r.getAs[Long]("true_median") == 3L)
    assert(r.getAs[Long]("abs_err") == 1L)
    assert(r.getAs[Double]("rel_err") == 0.333333)
    // identically-distributed shards: no bias
    val even = Seq((1L, 1L), (1L, 9L), (2L, 1L), (2L, 9L))
      .toDF("sh", "v")
    val r2 = Profiling.shardMedianBias(even, "sh", "v").head()
    assert(r2.getAs[Long]("abs_err") == 0L)
  }

  test("hbosScores: jointly-rare row ranks first; score = exact count product") {
    import spark.implicits._
    // rows 1-4 share common bins; row 5 is rare on BOTH features
    val df = Seq((1L, 10L, "x"), (2L, 10L, "x"), (3L, 10L, "x"),
      (4L, 20L, "x"), (5L, 30L, "y")).toDF("id", "b1", "b2")
    val out = Profiling.hbosScores(df, "id", Seq("b1", "b2"), k = 2)
      .collect()
    assert(out(0).getAs[Long]("id") == 5L) // 1·1 = 1
    assert(out(0).getAs[Double]("score") == 1.0)
    assert(out(1).getAs[Long]("id") == 4L) // 1·4 = 4
    assert(out(1).getAs[Double]("score") == 4.0)
    // ties break by id: two equally-common rows order deterministically
    val tied = Seq((7L, 1L, "a"), (3L, 1L, "a")).toDF("id", "b1", "b2")
    assert(Profiling.hbosScores(tied, "id", Seq("b1", "b2"), k = 2)
      .collect().map(_.getAs[Long]("id")).toSeq == Seq(3L, 7L))
  }

  test("selectivityAudit: uniform data estimates exactly; q_error = 1") {
    import spark.implicits._
    // v = 0..99, binWidth 10, 10 bins: est for v <= 25 is
    // 20 + 10·(25−20)/10 = 25; act = 26 (0..25 inclusive)
    val df = (0L until 100L).toDF("v")
    val out = Profiling.selectivityAudit(df, "v", binWidth = 10L,
        nBins = 10, thresholds = Seq(25L, 99L)).collect()
    assert(out(0).getAs[Double]("est") == 25.0)
    assert(out(0).getAs[Long]("act") == 26L)
    assert(out(0).getAs[Double]("q_error") == 1.04)
    // the last bin catches everything ≥ its floor
    assert(out(1).getAs[Long]("act") == 100L)
  }

  test("merkleDiff: identical snapshots differ nowhere; a change localizes") {
    import spark.implicits._
    val a = (1L to 100L).map(i => (i, i % 7, "v" + (i % 3)))
      .toDF("id", "grp", "payload")
    val same = Profiling.merkleDiff(a, a, Seq("id"),
        Seq("grp", "payload"), leaves = 16, fanIn = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(same("1_root") == ((1L, 0L, 0L)))
    assert(same("2_mid")._2 == 0L && same("3_leaf")._2 == 0L)
    // change ONE row's payload: root differs, exactly one mid and one
    // leaf differ, and rows_to_sync at leaf level ≪ table size
    val b = a.withColumn("payload",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("id") === 42L,
        org.apache.spark.sql.functions.lit("CHANGED"))
        .otherwise(org.apache.spark.sql.functions.col("payload")))
    val d = Profiling.merkleDiff(a, b, Seq("id"), Seq("grp", "payload"),
        leaves = 16, fanIn = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(d("1_root")._2 == 1L)
    assert(d("2_mid")._1 == 4L && d("2_mid")._2 == 1L)
    assert(d("3_leaf")._1 == 16L && d("3_leaf")._2 == 1L)
    // localization narrows: leaf rows ≤ mid rows < table size
    assert(d("3_leaf")._3 <= d("2_mid")._3 && d("2_mid")._3 < 100L)
  }

  test("paretoSkyline2D: frontier is the strict envelope; ties dominate") {
    // (gain, cost) in one group: frontier must be strictly decreasing in
    // cost as gain rises, and an equal-cost point at HIGHER gain
    // dominates the lower-gain one (the <= rule)
    val pts = Seq(("g", 1, 10L), ("g", 2, 8L), ("g", 2, 12L),
      ("g", 3, 9L), ("g", 4, 15L), ("g", 5, 15L)).toDF("grp", "gain", "cost")
    val sky = Profiling.paretoSkyline2D(pts, "grp", col("gain"), col("cost"))
      .orderBy("gain")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    // gain 4 (cost 15) is dominated by gain 5 at equal cost;
    // gain 1 (cost 10) is dominated by gain 2 at cost 8
    assert(sky.toSeq == Seq((2, 8L), (3, 9L), (5, 15L)))
    // per-group independence: a second group keeps its own frontier
    val two = pts.union(Seq(("h", 1, 1L)).toDF("grp", "gain", "cost"))
    val h = Profiling.paretoSkyline2D(two, "grp", col("gain"), col("cost"))
      .filter(col("grp") === "h").collect()
    assert(h.length == 1 && h.head.getLong(2) == 1L)
  }
}
