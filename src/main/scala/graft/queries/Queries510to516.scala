package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryHelpers._

/** Round-7 additions: AMS join-size sketching, robust outlier gating,
  * Z-order layout advising, trend testing, categorical MI — same
  * oracle-parity contract as every other module. */
private[graft] object Queries510to516 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q510_ams_join_size" -> ((s, dir) => {
      // unbiased join-cardinality estimation from two AMS count-sketches
      // (the optimizer statistic that prices shuffle-vs-broadcast at
      // 100 TB without rescanning keys): signed 5×1024 grids over the
      // big-quantity lineitem keys and the urgent-order dim keys,
      // median-of-rows F2 + inner product beside the exact join size —
      // the sketch arithmetic is integer-exact, so the oracle replays
      // the ESTIMATES, not just the truth
      val fact = tbl(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("k"))
      val dim = tbl(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"))
      val gf = Sketches.amsCounters(fact, "k", depth = 5, width = 1024)
        .transform(Lineage.cut(_, "q510.gf"))
      val gd = Sketches.amsCounters(dim, "k", depth = 5, width = 1024)
      Sketches.amsF2(gf, depth = 5)
        .crossJoin(Sketches.amsJoinSize(gf, gd, depth = 5))
        .crossJoin(fact.join(dim, "k")
          .agg(count(lit(1)).as("true_join_size")))
    }),

    "q511_hampel_gate" -> ((s, dir) => {
      // robust per-type value QA: median/MAD fences instead of the
      // z-score's glitch-draggable mean/σ — outlier counts plus the
      // winsorized mean (the location estimate a feed glitch barely
      // moves). Medians/MADs of integer cents are half/quarter
      // rationals — exact doubles, no rounding anywhere but the mean
      Stats.hampelGate(
          events(s, dir).filter(col("value").isNotNull)
            .select(col("event_type"),
              round(col("value") * 100).cast("long").as("cents")),
          "event_type", "cents", k = 3)
        .orderBy("event_type")
    }),

    "q512_zorder_layout" -> ((s, dir) => {
      // multi-dimensional clustering advisor: blocks touched by a
      // (custkey × order-value) rectangle under natural key order vs
      // Z-order — the measured case for OPTIMIZE ZORDER before a
      // 100 TB rewrite; bit interleave and cell scaling all integer div
      DataLayout.zOrderAudit(
        tbl(s, dir, "orders").select(col("o_orderkey").as("id"),
          col("o_custkey").as("x"),
          round(col("o_totalprice") * 100).cast("long").as("y")),
        "id", "x", "y", bits = 5, blockRows = 2048,
        xLo = 0, xHi = 7, yLo = 0, yHi = 7)
    }),

    "q513_trend_test" -> ((s, dir) => {
      // Cochran-Armitage: is the urgent-order share trending across
      // order years? The monotone-alternative test a flat χ² misses;
      // T' exact BIGINT, z three sqrts over exact integers
      Stats.cochranArmitage(
        tbl(s, dir, "orders").select(
          (year(col("o_orderdate")) - 1992).cast("long").as("yr_idx"),
          (col("o_orderpriority") === "1-URGENT").as("urgent")),
        "yr_idx", "urgent")
    }),

    "q515_chao1_richness" -> ((s, dir) =>
      // will more data buy more vocabulary: Chao1 asymptotic type count
      // + Good's coverage from the singleton/doubleton profile — exact
      // integers into two closed-form divisions
      NgramLm.chao1Richness(tbl(s, dir, "documents"), "text")),

    "q516_vocab_growth" -> ((s, dir) =>
      // the collector's curve beside q515's asymptote: distinct types
      // within the first k docs, k ∈ {50,100,200,400,800} — each type
      // collapses to its first-seen doc id once, never a per-prefix scan
      NgramLm.vocabularyGrowth(tbl(s, dir, "documents"), "doc_id", "text",
        Seq(50L, 100L, 200L, 400L, 800L))),

    "q514_mutual_information" -> ((s, dir) => {
      // does SOURCE carry signal about document length class? MI +
      // entropies + NMI over the (source, length-bucket) contingency —
      // the metadata-usefulness screen before conditioning a mixture
      // on a column; ln terms decimal-accumulated, round-6 display
      Stats.mutualInformation(
        tbl(s, dir, "documents").select(col("source"),
          expr("n_chars div 200").as("len_bucket")),
        "source", "len_bucket")
    })
  )

  def oracleSql: Map[String, String] = Map(

    // the full sketch replayed: three scramble chains (position pair +
    // sign), 5×1024 signed grids for both sides, median-of-rows F2 and
    // inner product, exact join size beside them
    "q510_ams_join_size" ->
      """WITH fk AS (SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 45),
        |dk AS (SELECT o_orderkey AS k FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |ds AS (SELECT unnest(range(5)) AS d),
        |fh0 AS (SELECT k, (k * 1000003) % 2147483647 AS a0,
        |    (k * 999983) % 2147483647 AS b0,
        |    (k * 999979) % 2147483647 AS s0 FROM fk),
        |fh1 AS (SELECT k, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
        |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1,
        |    (xor(s0, s0 >> 16) * 73244475) % 2147483647 AS s1 FROM fh0),
        |fh2 AS (SELECT k, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
        |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2,
        |    ((xor(s1, s1 >> 13) * 73244475) % 2147483647) % 2 * 2 - 1 AS sgn
        |  FROM fh1),
        |fg AS (SELECT d, (h1 + d * h2) % 1024 AS pos,
        |    CAST(SUM(sgn) AS BIGINT) AS c FROM fh2, ds GROUP BY 1, 2),
        |dh0 AS (SELECT k, (k * 1000003) % 2147483647 AS a0,
        |    (k * 999983) % 2147483647 AS b0,
        |    (k * 999979) % 2147483647 AS s0 FROM dk),
        |dh1 AS (SELECT k, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
        |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1,
        |    (xor(s0, s0 >> 16) * 73244475) % 2147483647 AS s1 FROM dh0),
        |dh2 AS (SELECT k, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
        |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2,
        |    ((xor(s1, s1 >> 13) * 73244475) % 2147483647) % 2 * 2 - 1 AS sgn
        |  FROM dh1),
        |dg AS (SELECT d, (h1 + d * h2) % 1024 AS pos,
        |    CAST(SUM(sgn) AS BIGINT) AS c FROM dh2, ds GROUP BY 1, 2),
        |f2 AS (SELECT CAST(median(s2) AS BIGINT) AS f2_est FROM (
        |  SELECT d, SUM(c * c) AS s2 FROM fg GROUP BY d)),
        |js AS (SELECT CAST(median(dot) AS BIGINT) AS join_size_est FROM (
        |  SELECT fg.d, SUM(fg.c * dg.c) AS dot FROM fg
        |  JOIN dg ON fg.d = dg.d AND fg.pos = dg.pos GROUP BY fg.d)),
        |tj AS (SELECT CAST(count(*) AS BIGINT) AS true_join_size
        |  FROM fk JOIN dk ON fk.k = dk.k)
        |SELECT f2_est, join_size_est, true_join_size FROM f2, js, tj"""
        .stripMargin,

    "q511_hampel_gate" ->
      """WITH v AS (SELECT event_type AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |med AS (SELECT g, COUNT(*) AS n, quantile_cont(v, 0.5) AS med
        |  FROM v GROUP BY g),
        |dev AS (SELECT v.g, v.v, med.n, med.med,
        |    abs(CAST(v.v AS DOUBLE) - med.med) AS adev
        |  FROM v JOIN med ON v.g = med.g),
        |mad AS (SELECT g, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY g)
        |SELECT dev.g AS event_type, CAST(max(dev.n) AS BIGINT) AS n,
        |  max(dev.med) AS median, max(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN dev.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  round(CAST(SUM(CAST(least(greatest(CAST(dev.v AS DOUBLE),
        |      dev.med - 3.0 * mad.mad), dev.med + 3.0 * mad.mad)
        |    AS DECIMAL(24,6))) AS DOUBLE) / max(dev.n), 6) AS win_mean
        |FROM dev JOIN mad ON dev.g = mad.g
        |GROUP BY dev.g ORDER BY event_type""".stripMargin,

    "q512_zorder_layout" ->
      """WITH b AS (SELECT o_orderkey AS id, o_custkey AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
        |ext AS (SELECT min(x) AS xmin, max(x) AS xmax,
        |    min(y) AS ymin, max(y) AS ymax FROM b),
        |c AS (SELECT id,
        |    (x - xmin) * 32 // (xmax - xmin + 1) AS xc,
        |    (y - ymin) * 32 // (ymax - ymin + 1) AS yc
        |  FROM b, ext),
        |z AS (SELECT id, xc, yc,
        |    (((xc >> 0) & 1) << 0) + (((yc >> 0) & 1) << 1) +
        |    (((xc >> 1) & 1) << 2) + (((yc >> 1) & 1) << 3) +
        |    (((xc >> 2) & 1) << 4) + (((yc >> 2) & 1) << 5) +
        |    (((xc >> 3) & 1) << 6) + (((yc >> 3) & 1) << 7) +
        |    (((xc >> 4) & 1) << 8) + (((yc >> 4) & 1) << 9) AS zv,
        |    (xc BETWEEN 0 AND 7) AND (yc BETWEEN 0 AND 7) AS sel
        |  FROM c),
        |nat AS (SELECT sel,
        |    (row_number() OVER (ORDER BY id) - 1) // 2048 AS blk FROM z),
        |zo AS (SELECT sel,
        |    (row_number() OVER (ORDER BY zv, id) - 1) // 2048 AS blk FROM z)
        |SELECT * FROM (
        |  SELECT 'natural' AS ordering,
        |    CAST(max(blk) + 1 AS BIGINT) AS blocks_total,
        |    CAST(count(DISTINCT CASE WHEN sel THEN blk END) AS BIGINT)
        |      AS blocks_touched,
        |    CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
        |      AS rows_selected
        |  FROM nat
        |  UNION ALL
        |  SELECT 'zorder',
        |    CAST(max(blk) + 1 AS BIGINT),
        |    CAST(count(DISTINCT CASE WHEN sel THEN blk END) AS BIGINT),
        |    CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM zo)
        |ORDER BY ordering""".stripMargin,

    "q513_trend_test" ->
      """WITH r AS (SELECT CAST(year(CAST(o_orderdate AS DATE)) - 1992
        |      AS BIGINT) AS s,
        |    o_orderpriority = '1-URGENT' AS f FROM orders),
        |per AS (SELECT s, COUNT(*) AS n_i,
        |    SUM(CASE WHEN f THEN 1 ELSE 0 END) AS r_i FROM r GROUP BY s),
        |tot AS (SELECT SUM(n_i) AS n, SUM(r_i) AS r,
        |    SUM(n_i * s) AS ns, SUM(n_i * s * s) AS ns2 FROM per)
        |SELECT CAST(tot.n AS BIGINT) AS n, CAST(tot.r AS BIGINT) AS r,
        |  CAST(SUM(s * (r_i * tot.n - n_i * tot.r)) AS BIGINT) AS t_num,
        |  round(CAST(SUM(s * (r_i * tot.n - n_i * tot.r)) AS DOUBLE)
        |    * sqrt(CAST(tot.n AS DOUBLE)) /
        |    (sqrt(CAST(tot.r * (tot.n - tot.r) AS DOUBLE)) *
        |      sqrt(CAST(tot.n * tot.ns2 - tot.ns * tot.ns AS DOUBLE))), 6)
        |    AS z
        |FROM per, tot
        |GROUP BY tot.n, tot.r, tot.ns, tot.ns2""".stripMargin,

    "q515_chao1_richness" ->
      """WITH tc AS (SELECT t AS tok, COUNT(*) AS c FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> '')) AS t FROM documents) GROUP BY t),
        |agg AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM tc)
        |SELECT n_tokens, n_types, f1, f2,
        |  round(n_types + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)),
        |    6) AS chao1,
        |  round(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS coverage
        |FROM agg""".stripMargin,

    "q516_vocab_growth" ->
      """WITH first AS (SELECT t AS tok, MIN(doc_id) AS first_id FROM (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(
        |    lower(text), '\s+'), x -> x <> '')) AS t FROM documents)
        |  GROUP BY t),
        |ks AS (SELECT unnest([50, 100, 200, 400, 800]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST(SUM(CASE WHEN first_id < k THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_types_seen
        |FROM ks LEFT JOIN first ON true GROUP BY k ORDER BY k"""
        .stripMargin,

    "q514_mutual_information" ->
      """WITH j AS (SELECT source AS x, n_chars // 200 AS y,
        |    COUNT(*) AS cxy FROM documents GROUP BY 1, 2),
        |ma AS (SELECT x, SUM(cxy) AS cx FROM j GROUP BY x),
        |mb AS (SELECT y, SUM(cxy) AS cy FROM j GROUP BY y),
        |nn AS (SELECT SUM(cxy) AS nn FROM j),
        |mi AS (SELECT CAST(SUM(CAST(CAST(cxy AS DOUBLE) / nn.nn *
        |      ln(CAST(cxy AS DOUBLE) * nn.nn /
        |        (CAST(cx AS DOUBLE) * cy)) AS DECIMAL(38,18)))
        |    AS DOUBLE) AS mi, COUNT(*) AS n_cells
        |  FROM j JOIN ma USING (x) JOIN mb USING (y), nn),
        |ha AS (SELECT CAST(SUM(CAST(CAST(cx AS DOUBLE) / nn.nn *
        |      ln(CAST(nn.nn AS DOUBLE) / cx) AS DECIMAL(38,18)))
        |    AS DOUBLE) AS h FROM ma, nn),
        |hb AS (SELECT CAST(SUM(CAST(CAST(cy AS DOUBLE) / nn.nn *
        |      ln(CAST(nn.nn AS DOUBLE) / cy) AS DECIMAL(38,18)))
        |    AS DOUBLE) AS h FROM mb, nn)
        |SELECT CAST(n_cells AS BIGINT) AS n_cells, round(mi, 6) AS mi,
        |  round(ha.h, 6) AS h_a, round(hb.h, 6) AS h_b,
        |  round(mi / sqrt(ha.h * hb.h), 6) AS nmi
        |FROM mi, ha, hb""".stripMargin
  )
}
