package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import QueryHelpers._

/** Round-7 batch 2: Benford audit, Gini split-gain feature ranking,
  * Cramér's V, native Jaro-Winkler. */
private[graft] object Queries517to521 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q517_benford" -> ((s, dir) =>
      // synthetic-data fraud screen: first significant digit of order
      // totals vs the Benford log law — expected proportions are
      // compile-time literals shared with the oracle, χ² decimal-summed
      Stats.benfordAudit(tbl(s, dir, "orders")
        .select(expr("cast(round(o_totalprice) as bigint)").as("v")), "v")),

    "q518_split_gain" -> ((s, dir) =>
      // which metadata column SPLITS long docs from short ones: CART
      // single-split Gini gain per candidate feature — len_bucket is
      // informative by construction, the doc_id decile is the control
      // that must score ~0; all rationals over exact counts, no logs
      Stats.giniSplitGain(
        tbl(s, dir, "documents").select(
          (col("n_chars") >= 1000).as("long_doc"),
          col("source"),
          expr("cast(n_chars div 500 as string)").as("len_bucket"),
          expr("cast(doc_id % 10 as string)").as("id_decile")),
        "long_doc", Seq("source", "len_bucket", "id_decile"))),

    "q519_cramers_v" -> ((s, dir) =>
      // the χ²-based association number beside q514's MI for the same
      // (source × length-class) contingency — bounded [0,1], comparable
      // across table shapes; e = row·col/n exact-count arithmetic
      Stats.cramersV(
        tbl(s, dir, "documents").select(col("source"),
          expr("n_chars div 200").as("len_bucket")),
        "source", "len_bucket")),

    "q521_jw_linkage" -> ((s, dir) => {
      // blocked fuzzy linkage with the JW comparator: each doc's lead
      // word must link back to ITSELF out of a right side holding both
      // the clean vocabulary and its transposition typos — first-letter
      // blocking bounds candidates, the codegen'd scalar scores inside
      // the join's fused loop, minJw = 0.85 is the reject band
      val words = tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          upper(element_at(TextQuality.tokens(col("text")), 1)).as("w"))
        .filter(length(col("w")) >= 4)
      val vocabAndTypos = words.select(col("w").as("rw"))
        .union(words.select(concat(substring(col("w"), 1, 1),
          substring(col("w"), 3, 1), substring(col("w"), 2, 1),
          expr("substring(w, 4)")).as("rw")))
      Linkage.jaroWinklerBestMatch(words, "doc_id", "w",
          vocabAndTypos, "rw", minJw = 0.85)
        .orderBy("l_id")
    }),

    "q520_jaro_winkler" -> ((s, dir) => {
      // native codegen'd Jaro-Winkler (graft_jaro_winkler — the
      // record-linkage comparator q492's Fellegi-Sunter patterns feed
      // on): per doc, the lead word vs its classic adjacent-transposition
      // typo and vs its reversal — the typo must score far above the
      // reversal, and both replay via DuckDB's jaro_winkler_similarity
      val words = tbl(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          upper(element_at(TextQuality.tokens(col("text")), 1)).as("a"))
        .filter(length(col("a")) >= 4)
      words
        .withColumn("typo", concat(substring(col("a"), 1, 1),
          substring(col("a"), 3, 1), substring(col("a"), 2, 1),
          expr("substring(a, 4)")))
        .select(col("doc_id"), col("a"), col("typo"),
          round(call_function("graft_jaro_winkler", col("a"), col("typo")),
            6).as("jw_typo"),
          round(call_function("graft_jaro_winkler", col("a"),
            reverse(col("a"))), 6).as("jw_reversed"))
        .orderBy("doc_id")
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q517_benford" -> {
      // CAST: a bare decimal literal in VALUES parses as DECIMAL and the
      // χ² squaring overflows DECIMAL(38) — the proportions are doubles
      val ps = (1 to 9)
        .map(d => s"($d, CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE))")
        .mkString(", ")
      s"""WITH v AS (SELECT CAST(round(o_totalprice) AS BIGINT) AS v
         |  FROM orders),
         |raw AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INT)
         |    AS digit, COUNT(*) AS n_obs
         |  FROM v WHERE v > 0 GROUP BY 1),
         |p(digit, p) AS (VALUES $ps),
         |obs AS (SELECT p.digit, coalesce(raw.n_obs, 0) AS n_obs
         |  FROM p LEFT JOIN raw ON p.digit = raw.digit),
         |n AS (SELECT SUM(n_obs) AS n FROM obs),
         |t AS (SELECT obs.digit, obs.n_obs, p.p * n.n AS exp_n,
         |    (obs.n_obs - p.p * n.n) * (obs.n_obs - p.p * n.n)
         |      / (p.p * n.n) AS term
         |  FROM obs JOIN p ON obs.digit = p.digit, n),
         |c AS (SELECT CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE)
         |    AS chi2 FROM t)
         |SELECT t.digit, CAST(t.n_obs AS BIGINT) AS n_obs,
         |  round(t.exp_n, 6) AS expected_n,
         |  round(t.n_obs / t.exp_n, 6) AS ratio,
         |  round(c.chi2, 6) AS chi2
         |FROM t, c ORDER BY digit""".stripMargin
    },

    "q518_split_gain" ->
      """WITH b AS (SELECT n_chars >= 1000 AS y, source,
        |    CAST(n_chars // 500 AS VARCHAR) AS len_bucket,
        |    CAST(doc_id % 10 AS VARCHAR) AS id_decile FROM documents),
        |par AS (SELECT CAST(COUNT(*) AS DOUBLE) AS pn,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) AS pp
        |  FROM b),
        |f AS (
        |  SELECT 'source' AS feature, source AS value, y FROM b
        |  UNION ALL SELECT 'len_bucket', len_bucket, y FROM b
        |  UNION ALL SELECT 'id_decile', id_decile, y FROM b),
        |pv AS (SELECT feature, value, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) AS pos
        |  FROM f GROUP BY 1, 2),
        |w AS (SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_values,
        |    CAST(SUM(CAST(n / par.pn * (1.0 - (pos / n) * (pos / n)
        |      - ((n - pos) / n) * ((n - pos) / n))
        |      AS DECIMAL(38,18))) AS DOUBLE) AS wimp
        |  FROM pv, par GROUP BY feature)
        |SELECT w.feature, w.n_values,
        |  round(w.wimp, 6) AS weighted_impurity,
        |  round((1.0 - (par.pp / par.pn) * (par.pp / par.pn)
        |    - ((par.pn - par.pp) / par.pn) * ((par.pn - par.pp) / par.pn))
        |    - w.wimp, 6) AS gain
        |FROM w, par ORDER BY gain DESC, feature""".stripMargin,

    "q519_cramers_v" ->
      """WITH j AS (SELECT source AS x, n_chars // 200 AS y,
        |    COUNT(*) AS o FROM documents GROUP BY 1, 2),
        |ma AS (SELECT x, SUM(o) AS cx FROM j GROUP BY x),
        |mb AS (SELECT y, SUM(o) AS cy FROM j GROUP BY y),
        |tot AS (SELECT SUM(o) AS n FROM j),
        |dims AS (SELECT (SELECT COUNT(*) FROM ma) AS r,
        |    (SELECT COUNT(*) FROM mb) AS c),
        |grid AS (SELECT ma.x, mb.y, ma.cx, mb.cy,
        |    coalesce(j.o, 0) AS o
        |  FROM ma CROSS JOIN mb LEFT JOIN j USING (x, y)),
        |c2 AS (SELECT CAST(SUM(CAST(
        |    (g.o - CAST(g.cx AS DOUBLE) * g.cy / tot.n) *
        |    (g.o - CAST(g.cx AS DOUBLE) * g.cy / tot.n) /
        |    (CAST(g.cx AS DOUBLE) * g.cy / tot.n)
        |    AS DECIMAL(38,18))) AS DOUBLE) AS chi2
        |  FROM grid g, tot)
        |SELECT CAST(tot.n AS BIGINT) AS n, CAST(dims.r AS INT) AS n_rows,
        |  CAST(dims.c AS INT) AS n_cols, round(c2.chi2, 6) AS chi2,
        |  round(sqrt(c2.chi2 / (tot.n * (least(dims.r, dims.c) - 1))), 6)
        |    AS cramers_v
        |FROM c2, tot, dims""".stripMargin,

    "q521_jw_linkage" ->
      """WITH w AS (SELECT doc_id, a AS w FROM (SELECT doc_id,
        |    upper(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')[1]) AS a
        |  FROM documents WHERE doc_id < 400) WHERE length(a) >= 4),
        |r AS (SELECT DISTINCT rw FROM (
        |  SELECT w AS rw FROM w
        |  UNION ALL SELECT substring(w, 1, 1) || substring(w, 3, 1) ||
        |    substring(w, 2, 1) || substring(w, 4) FROM w)),
        |cand AS (SELECT w.doc_id AS l_id, w.w AS lw, r.rw,
        |    jaro_winkler_similarity(w.w, r.rw) AS jw
        |  FROM w JOIN r ON substring(w.w, 1, 1) = substring(r.rw, 1, 1)),
        |best AS (SELECT l_id, lw, rw, jw,
        |    row_number() OVER (PARTITION BY l_id ORDER BY jw DESC, rw)
        |      AS rk
        |  FROM cand)
        |SELECT l_id, lw, rw AS best_match, round(jw, 6) AS jw
        |FROM best WHERE rk = 1 AND jw >= 0.85 ORDER BY l_id"""
        .stripMargin,

    "q520_jaro_winkler" ->
      """WITH w AS (SELECT doc_id,
        |    upper(list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '')[1]) AS a
        |  FROM documents WHERE doc_id < 300),
        |f AS (SELECT doc_id, a,
        |    substring(a, 1, 1) || substring(a, 3, 1) ||
        |      substring(a, 2, 1) || substring(a, 4) AS typo
        |  FROM w WHERE length(a) >= 4)
        |SELECT doc_id, a, typo,
        |  round(jaro_winkler_similarity(a, typo), 6) AS jw_typo,
        |  round(jaro_winkler_similarity(a, reverse(a)), 6) AS jw_reversed
        |FROM f ORDER BY doc_id""".stripMargin
  )
}
