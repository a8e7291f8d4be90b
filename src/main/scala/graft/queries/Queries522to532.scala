package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import QueryHelpers._
import OracleHelpers._

/** Round-8 additions: scale-safe robust gating (grouped two-pass
  * median/quantiles), deep hierarchical ANN descent, watermarked
  * streaming semantics under the oracle gate, HLL set intersection,
  * the three-standing-store serving stack, and the homoglyph screen. */
private[graft] object Queries522to532 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q522_hampel_scalable" -> ((s, dir) => {
      // q511's fence algebra at UNBOUNDED group cardinality: per-USER
      // median/MAD outlier gates via the grouped two-pass histogram
      // median (no per-group percentile buffer anywhere in the plan —
      // pass 1 is a (user, bin) aggregate, pass 2 rank-selects inside
      // single buckets), so the same audit runs per-user/per-URL at
      // 100 TB where the buffered form wants audit-sized keys.
      // StatsSpec pins bit-equality with hampelGate on shared groups
      Stats.hampelGateScalable(
          events(s, dir).filter(col("value").isNotNull)
            .select(col("user_id"),
              round(col("value") * 100).cast("long").as("cents")),
          "user_id", "cents", k = 3)
        .orderBy("user_id")
    }),

    "q523_layered_entry" -> ((s, dir) => {
      // the HNSW layer STACK at structural depth (q506's coarse level
      // was one layer — degenerate log-descent): three nested prefix
      // layers {0,1} ⊂ {0..3} ⊂ {0..7} of the codebook, one greedy hop
      // per layer over each layer's own 2-NN graph, landing cell +
      // neighbors contribute medoids, then the q378 beam over the
      // persisted kNN store. Both standing stores serve (assignment +
      // graph); every hop is index-order L2/cosine, so the oracle
      // replays the whole descent bit-for-bit. GraphStoreSpec gates
      // recall ≥ the flat-entry baseline at equal beam budget
      store.GraphStore.layeredBeamSearch(s,
          storedKnnGraphPath(s, dir), nBuckets = 16,
          storedAssigned(s, dir), "embedding", "vec_id",
          codebook(s, dir), "cid", "cv",
          layerPrefixes = Seq(2, 4), queryId = 23L, startCid = 0,
          coarseK = 2, hopsPerLayer = 1, beam = 8, iters = 2, k = 5)
        .select(col("rank"), col("vec_id"),
          round(col("distance"), 6).as("distance"))
        .orderBy("rank")
    }),

    "q524_watermark_replay" -> ((s, dir) => {
      // Structured Streaming's watermark semantics under the HASH gate
      // (ST1's windowed-agg leg was spec-pinned only): a REAL micro-
      // batch execution over a bounded events slice, arrival order
      // deliberately non-monotone (batch r = ids ≡ r mod 3, each batch
      // spanning the full time range) so thousands of rows arrive LATE;
      // the oracle replays the exact drop rule — wm before batch i =
      // max event time of batches < i − 45 min, row dropped iff its
      // hour-window end ≤ wm (inclusive; boundary pinned by
      // StreamingSpec) — and the final append-mode emission cut.
      // Integer-cent sums keep the aggregate order-exact
      import s.implicits._
      val rows = events(s, dir)
        .filter(col("event_id") < 4000 && col("value").isNotNull)
        .select(col("event_id"), col("ts"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, java.sql.Timestamp, String, Long)]
        .collect()
      val batches = (0 until 3).map(r =>
        rows.filter(_._1 % 3 == r).sortBy(_._1)
          .map(t => (t._2, t._3, t._4)).toSeq)
      graft.streaming.EventStreams.replayWatermarkedTumbling(
          s, batches, "1 hour", "45 minutes")
        .orderBy("window_start", "event_type")
    }),

    "q525_hll_overlap" -> ((s, dir) => {
      // audience intersection WITHOUT a key join: |purchasers ∩ viewers|
      // by HLL inclusion-exclusion over persisted-shape registers (the
      // q102 sketch family) — at 100 TB any two audiences intersect in
      // O(m) register arithmetic instead of a distinct+join over raw
      // ids; the exact join count rides beside to show the sketch
      // error. The driver's users all do everything, so each side is
      // id-sliced to make the overlap PARTIAL (A = low two-thirds,
      // B = high two-thirds — a real inclusion-exclusion case rather
      // than A = B)
      val ev = events(s, dir)
      val cut = ev.agg(expr("max(user_id) div 3").cast("long").as("c"))
        .head().getLong(0)
      def aud(t: String) = ev.filter(col("event_type") === t)
        .filter(if (t == "purchase") col("user_id") < 2 * cut
                else col("user_id") >= cut)
        .select(col("user_id"))
      val est = Sketches.hllOverlap(
        aud("purchase"), "user_id", aud("view"), "user_id")
      val exact = aud("purchase").distinct()
        .join(aud("view").distinct(), "user_id")
        .agg(count(lit(1)).as("n_exact"))
      est.crossJoin(broadcast(exact))
    }),

    "q526_standing_stack" -> ((s, dir) => {
      // the full standing-store serving stack in ONE query — the shape a
      // session actually runs once all three indexes exist: BM25 from
      // the persisted IndexStore (partition-pruned posting lookups),
      // dense candidates from the persisted AnnStore (partition-pruned
      // 2-cell IVF probe), graph candidates from the persisted kNN
      // GraphStore (pruned beam lookups), fused by RRF. No leg touches
      // the corpus beyond its store's pruned directories; the fuse is
      // top-k-bounded driver-scale arithmetic
      val lex = storedBm25(s, dir,
          Seq("spark", "join", "vector", "window"), 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id").asc)))
        .select(col("id"), col("rank"))
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 7).select("embedding")
        .head().getSeq[Float](0)
      val dense = Similarity.ivfSearch(
          storedAssigned(s, dir)
            .select(col("vec_id"), col("embedding"), col("centroid_id")),
          "embedding", "vec_id", codebookSeq(s, dir), qv, 10, 2)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("distance").asc, col("vec_id").asc)))
        .select(col("vec_id").as("id"), col("rank"))
      val graphLeg = store.GraphStore.beamSearch(s,
          storedKnnGraphPath(s, dir), nBuckets = 16, e, "embedding",
          "vec_id", queryId = 7L, entryIds = Seq(0L, 1L, 2L, 3L),
          beam = 8, iters = 2, k = 10)
        .select(col("vec_id").cast("long").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, dense, graphLeg), "id", 10)
    }),

    "q527_grouped_quartiles" -> ((s, dir) => {
      // per-user p25/p75/IQR at unbounded group cardinality — the q522
      // machinery generalized to arbitrary interpolated quantiles (two
      // pass-2 rank selections per quantile, never a per-group buffer).
      // Quartile interpolation is quarters of exact longs — one
      // power-of-two division, so quantile_cont replays it bit-for-bit
      val v = events(s, dir).filter(col("value").isNotNull)
        .select(col("user_id").as("g"),
          round(col("value") * 100).cast("long").as("v"))
      // both quartiles from one fused histogram/rank-select pass (r11);
      // per-quantile arithmetic identical, so the oracle is untouched
      Stats.groupedTwoPassQuantiles(v, Seq((1, 4), (3, 4)))
        .select(col("g"), col("n"), col("q0").as("_p25"),
          col("q1").as("_p75"))
        .select(col("g").as("user_id"), col("n"),
          round(col("_p25"), 6).as("p25"),
          round(col("_p75"), 6).as("p75"),
          round(col("_p75") - col("_p25"), 6).as("iqr"))
        .orderBy("user_id")
    }),

    "q528_script_mix" -> ((s, dir) => {
      // homoglyph / mixed-script corpus screen (the UTS #39 confusable
      // concern as a data gate): the ASCII corpus is spoofed
      // deterministically by doc id — ≡1 mod 4 gets Cyrillic 'а' for
      // Latin 'a', ≡2 gets Greek 'ο' for 'o' (the two classic homoglyph
      // attacks) — and the screen must flag EXACTLY those docs as
      // confusable-risk. Pure map-side codepoint-class counting, the
      // scan-stage shape of the other quality gates
      val d = tbl(s, dir, "documents").filter(col("doc_id") < 500)
      val spoofed = d.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 1,
            translate(col("text"), "a", "а"))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            translate(col("text"), "o", "ο"))
          .otherwise(col("text")).as("t"))
      TextQuality.scriptMix(spoofed, "doc_id", "t")
        .orderBy("doc_id")
    }),

    "q529_trimmed_mean" -> ((s, dir) => {
      // per-user interquartile mean — the glitch-proof location estimate
      // at unbounded group cardinality, completing the scale-safe robust
      // family (q522 median/MAD, q527 quartiles): value fences
      // q25 ≤ v ≤ q75 from the two-pass machinery, exact integer-cent
      // sum inside, one division at the end. Beside it the PLAIN mean,
      // so the gate shows what the trim absorbs
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val plain = ev.groupBy("user_id")
        .agg(round(sum("cents").cast("double") / count(lit(1)), 6)
          .as("plain_mean"))
      Stats.trimmedMeanScalable(ev, "user_id", "cents")
        .join(plain, Seq("user_id"))
        .select(col("user_id"), col("n"), col("n_kept"),
          round(col("q25"), 6).as("q25"), round(col("q75"), 6).as("q75"),
          col("trimmed_mean"), col("plain_mean"))
        .orderBy("user_id")
    }),

    "q530_sliding_hll" -> ((s, dir) => {
      // trailing-window distinct WITHOUT rescans: per hour, the distinct
      // users of the trailing 24 h, served entirely from the persisted
      // per-hour HLL registers (q102's sketch family) — the dashboard a
      // 100 TB event stream materializes by max-merging 24 register
      // tables (register-space arithmetic, |hours|·m rows) instead of
      // re-scanning a day of raw events per hour. Exact trailing count
      // beside (the offset-explode equi-join shape), showing the sketch
      // error honestly
      val ev = events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("hr"),
          col("user_id"))
      val regs = Sketches.hllRegisters(ev, Seq("hr"), "user_id")
      val hours = ev.select(col("hr")).distinct()
      val merged = hours.select(col("hr").as("whr"))
        .join(regs, col("hr").between(col("whr") - 23, col("whr")))
        .groupBy(col("whr"), col("b")).agg(max("mx").as("mx"))
        .withColumnRenamed("whr", "hr")
      val est = Sketches.hllMergeEstimate(merged, "hr")
      val exact = ev.select(col("hr"), col("user_id"))
        .withColumn("whr", explode(expr("sequence(hr, hr + 23)")))
        .join(hours.select(col("hr").as("whr")), Seq("whr"))
        .groupBy(col("whr").as("hr"))
        .agg(countDistinct("user_id").as("n_exact"))
      est.join(exact, Seq("hr"))
        .select(col("hr"), round(col("hll_est"), 6).as("hll_est"),
          col("n_exact"))
        .orderBy("hr")
    }),

    "q531_diff_in_diff" -> ((s, dir) => {
      // the two-group two-period causal readout with a KNOWN planted
      // effect: even-id users get +500 cents in the second half of the
      // month (both engines plant the identical lift), and DiD must
      // recover it net of the shared time trend the control carries —
      // the rollout-analysis shape when randomization isn't available.
      // Four-cell exact integer moments, fixed-association combination
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select((pmod(col("user_id"), lit(2L)) === 0).as("tr"),
          (expr("day(ts)") >= 16).as("po"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("cents", col("cents") +
          when(col("tr") && col("po"), 500L).otherwise(0L))
      Stats.diffInDiffSe(ev, "tr", "po", "cents")
    }),

    "q532_pettitt" -> ((s, dir) => {
      // the NONPARAMETRIC changepoint beside CUSUM (q-family: level
      // shifts q… / online Page-Hinkley / segmented trend): rank-based
      // Pettitt U over daily value totals with the q531 lift planted
      // mid-month on both engines — a distribution shift a wild outlier
      // day can't fake, every U_t an exact integer
      val daily = events(s, dir).filter(col("value").isNotNull)
        .select(expr(
          "cast(datediff(cast(ts as date), date'1970-01-01') as long)")
          .as("day"),
          (round(col("value") * 100).cast("long") +
            when(expr("day(ts)") >= 16, 500L).otherwise(0L)).as("cents"))
        .groupBy("day").agg(sum("cents").as("v"))
      Stats.pettittChangepoint(daily, "day", "v").orderBy("day")
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q522_hampel_scalable" ->
      """WITH v AS (SELECT user_id AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |med AS (SELECT g, COUNT(*) AS n, quantile_cont(v, 0.5) AS med
        |  FROM v GROUP BY g),
        |dev AS (SELECT v.g, v.v, med.n, med.med,
        |    abs(CAST(v.v AS DOUBLE) - med.med) AS adev
        |  FROM v JOIN med ON v.g = med.g),
        |mad AS (SELECT g, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY g)
        |SELECT dev.g AS user_id, CAST(max(dev.n) AS BIGINT) AS n,
        |  max(dev.med) AS median, max(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN dev.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers,
        |  round(CAST(SUM(CAST(least(greatest(CAST(dev.v AS DOUBLE),
        |      dev.med - 3.0 * mad.mad), dev.med + 3.0 * mad.mad)
        |    AS DECIMAL(24,6))) AS DOUBLE) / max(dev.n), 6) AS win_mean
        |FROM dev JOIN mad ON dev.g = mad.g
        |GROUP BY dev.g ORDER BY user_id""".stripMargin,

    // three nested prefix layers replayed hop by hop: per-layer 2-NN
    // graphs (ce2/ce4/ce8), one greedy argmin per layer (d1/d2/d3),
    // then the q506 medoid + beam tail verbatim
    "q523_layered_entry" ->
      s"""WITH $codebookCte,
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |a AS (SELECT vec_id, centroid_id, adist FROM (
        |    SELECT e.vec_id, c.cid AS centroid_id,
        |      list_distance(e.v, c.cv) AS adist,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
        |    FROM ev e, c) WHERE rn = 1),
        |q AS (SELECT v AS qv FROM ev WHERE vec_id = 23),
        |cd AS (SELECT cid, list_distance(cv, qv) AS cdist FROM c, q),
        |ce2 AS (SELECT cid, ncid FROM (
        |    SELECT x.cid, y.cid AS ncid,
        |      row_number() OVER (PARTITION BY x.cid
        |        ORDER BY list_distance(x.cv, y.cv), y.cid) AS rk
        |    FROM c x JOIN c y ON x.cid <> y.cid
        |    WHERE x.cid < 2 AND y.cid < 2) WHERE rk <= 2),
        |ce4 AS (SELECT cid, ncid FROM (
        |    SELECT x.cid, y.cid AS ncid,
        |      row_number() OVER (PARTITION BY x.cid
        |        ORDER BY list_distance(x.cv, y.cv), y.cid) AS rk
        |    FROM c x JOIN c y ON x.cid <> y.cid
        |    WHERE x.cid < 4 AND y.cid < 4) WHERE rk <= 2),
        |ce8 AS (SELECT cid, ncid FROM (
        |    SELECT x.cid, y.cid AS ncid,
        |      row_number() OVER (PARTITION BY x.cid
        |        ORDER BY list_distance(x.cv, y.cv), y.cid) AS rk
        |    FROM c x JOIN c y ON x.cid <> y.cid) WHERE rk <= 2),
        |d1 AS (SELECT cid AS cur FROM (
        |    SELECT cd.cid, row_number() OVER (ORDER BY cd.cdist, cd.cid) AS rn
        |    FROM cd WHERE cd.cid = 0
        |      OR cd.cid IN (SELECT ncid FROM ce2 WHERE ce2.cid = 0))
        |  WHERE rn = 1),
        |d2 AS (SELECT cid AS cur FROM (
        |    SELECT cd.cid, row_number() OVER (ORDER BY cd.cdist, cd.cid) AS rn
        |    FROM cd WHERE cd.cid IN (SELECT cur FROM d1)
        |      OR cd.cid IN (SELECT ncid FROM ce4 JOIN d1 ON ce4.cid = d1.cur))
        |  WHERE rn = 1),
        |d3 AS (SELECT cid AS cur FROM (
        |    SELECT cd.cid, row_number() OVER (ORDER BY cd.cdist, cd.cid) AS rn
        |    FROM cd WHERE cd.cid IN (SELECT cur FROM d2)
        |      OR cd.cid IN (SELECT ncid FROM ce8 JOIN d2 ON ce8.cid = d2.cur))
        |  WHERE rn = 1),
        |ecids AS (SELECT cur AS cid FROM d3
        |  UNION SELECT ncid AS cid FROM ce8 JOIN d3 ON ce8.cid = d3.cur),
        |med AS (SELECT centroid_id, vec_id AS entry FROM (
        |    SELECT a.centroid_id, a.vec_id,
        |      row_number() OVER (PARTITION BY a.centroid_id
        |        ORDER BY a.adist, a.vec_id) AS rn
        |    FROM a JOIN ecids ON a.centroid_id = ecids.cid) WHERE rn = 1),
        |p AS (SELECT l.vec_id AS id, r.vec_id AS nbr_id,
        |    1.0 - list_cosine_similarity(le.v, re.v) AS distance
        |  FROM a l JOIN a r ON l.centroid_id = r.centroid_id
        |    AND l.vec_id <> r.vec_id
        |    JOIN ev le ON le.vec_id = l.vec_id
        |    JOIN ev re ON re.vec_id = r.vec_id),
        |g0 AS (SELECT id, nbr_id FROM (
        |    SELECT id, nbr_id,
        |      row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS rk
        |    FROM p) WHERE rk <= 3),
        |b0 AS (SELECT m.entry AS cand,
        |    1.0 - list_cosine_similarity(ev.v, qv) AS distance
        |  FROM med m JOIN ev ON ev.vec_id = m.entry, q
        |  ORDER BY distance, cand LIMIT 8),
        |x1 AS (SELECT DISTINCT cand FROM (
        |  SELECT g0.nbr_id AS cand FROM b0 JOIN g0 ON g0.id = b0.cand
        |  UNION ALL SELECT cand FROM b0)),
        |b1 AS (SELECT x1.cand, 1.0 - list_cosine_similarity(v, qv) AS distance
        |  FROM x1 JOIN ev ON ev.vec_id = x1.cand, q
        |  ORDER BY distance, cand LIMIT 8),
        |x2 AS (SELECT DISTINCT cand FROM (
        |  SELECT g0.nbr_id AS cand FROM b1 JOIN g0 ON g0.id = b1.cand
        |  UNION ALL SELECT cand FROM b1)),
        |b2 AS (SELECT x2.cand, 1.0 - list_cosine_similarity(v, qv) AS distance
        |  FROM x2 JOIN ev ON ev.vec_id = x2.cand, q
        |  ORDER BY distance, cand LIMIT 8)
        |SELECT CAST(row_number() OVER (ORDER BY distance, cand) AS INT) AS rank,
        |  CAST(cand AS BIGINT) AS vec_id, round(distance, 6) AS distance
        |FROM b2 ORDER BY rank LIMIT 5""".stripMargin,

    // the watermark trajectory replayed in SQL: per-batch wm = max
    // earlier-batch event time − 45 min (NULL for batch 0 — nothing
    // drops), keep iff window end > wm, final cut iff window end ≤
    // global max − 45 min; hour windows are epoch-aligned like Spark's
    "q524_watermark_replay" ->
      """WITH src AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_id < 4000 AND value IS NOT NULL),
        |b AS (SELECT src.*, CAST(event_id % 3 AS INT) AS batch FROM src),
        |mx AS (SELECT batch, max(epoch_us(ts)) AS mxus FROM b GROUP BY batch),
        |wmt AS (SELECT d.batch, max(mx.mxus) - 2700000000 AS wm_us
        |  FROM (SELECT DISTINCT batch FROM b) d
        |  LEFT JOIN mx ON mx.batch < d.batch
        |  GROUP BY d.batch),
        |kept AS (SELECT b.* FROM b JOIN wmt ON b.batch = wmt.batch
        |  WHERE wmt.wm_us IS NULL
        |    OR ((epoch_us(b.ts) // 3600000000) + 1) * 3600000000
        |      > wmt.wm_us),
        |fwm AS (SELECT max(epoch_us(ts)) - 2700000000 AS wm_us FROM src)
        |SELECT make_timestamp((epoch_us(k.ts) // 3600000000) * 3600000000)
        |    AS window_start,
        |  k.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(k.cents) AS BIGINT) AS sum_cents
        |FROM kept k, fwm
        |WHERE ((epoch_us(k.ts) // 3600000000) + 1) * 3600000000
        |  <= fwm.wm_us
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // the q102 register machinery with a side tag; union sketch =
    // max-merge of both sides' registers; inclusion-exclusion at the end
    "q525_hll_overlap" -> {
      val factor = graft.operators.Sketches.hllFactor(5)
      s"""WITH cut AS (SELECT CAST(max(user_id) // 3 AS BIGINT) AS c
         |  FROM events),
         |ev AS (
         |  SELECT 'a' AS side, user_id AS key FROM events, cut
         |    WHERE event_type = 'purchase' AND user_id < 2 * c
         |  UNION ALL
         |  SELECT 'b', user_id FROM events, cut
         |    WHERE event_type = 'view' AND user_id >= c),
         |kh0 AS (SELECT side, (key * 1000003) % 2147483647 AS a0 FROM ev),
         |kh1 AS (SELECT side,
         |    (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1 FROM kh0),
         |kh2 AS (SELECT side,
         |    (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h FROM kh1),
         |br AS (SELECT side, h >> 26 AS b,
         |    CASE WHEN (h & 67108863) = 0 THEN 27
         |         ELSE 27 - length(bin(h & 67108863)) END AS rho FROM kh2),
         |mb AS (SELECT side, b, MAX(rho) AS mx FROM br GROUP BY side, b),
         |hs AS (SELECT side,
         |    SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
         |    COUNT(*) AS nb FROM mb GROUP BY side),
         |est AS (SELECT side,
         |    $factor / CAST(present + (32 - nb) * 134217728 AS DOUBLE)
         |      AS est FROM hs),
         |um AS (SELECT b, MAX(mx) AS mx FROM mb GROUP BY b),
         |uh AS (SELECT
         |    SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
         |    COUNT(*) AS nb FROM um),
         |ue AS (SELECT
         |    $factor / CAST(present + (32 - nb) * 134217728 AS DOUBLE)
         |      AS est_union FROM uh),
         |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM
         |  (SELECT DISTINCT user_id FROM events, cut
         |     WHERE event_type = 'purchase' AND user_id < 2 * c) a
         |  JOIN (SELECT DISTINCT user_id FROM events, cut
         |     WHERE event_type = 'view' AND user_id >= c) b
         |  USING (user_id))
         |SELECT round(ea.est, 6) AS est_a, round(eb.est, 6) AS est_b,
         |  round(ue.est_union, 6) AS est_union,
         |  round(ea.est + eb.est - ue.est_union, 6) AS est_intersection,
         |  ex.n_exact
         |FROM (SELECT est FROM est WHERE side = 'a') ea,
         |  (SELECT est FROM est WHERE side = 'b') eb, ue, ex""".stripMargin
    },

    // three store serving paths replayed: the shared BM25 scorer, the
    // 2-cell IVF probe (q54's shape, k=10), the q101 graph + fixed-entry
    // beam (q506's tail, entries 0-3), then the q109 RRF algebra
    "q526_standing_stack" ->
      s"""WITH lexbase AS ($bm25OracleSql),
         |lex AS (SELECT id,
         |    CAST(row_number() OVER (ORDER BY score DESC, id) AS INT)
         |      AS rank FROM lexbase),
         |$codebookCte,
         |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |a AS (SELECT vec_id, centroid_id, adist FROM (
         |    SELECT e.vec_id, c.cid AS centroid_id,
         |      list_distance(e.v, c.cv) AS adist,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(e.v, c.cv), c.cid) AS rn
         |    FROM ev e, c) WHERE rn = 1),
         |q AS (SELECT v AS qv FROM ev WHERE vec_id = 7),
         |probe AS (SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (
         |      ORDER BY list_distance(c.cv, qv), c.cid) AS rn
         |    FROM c, q) WHERE rn <= 2),
         |dense AS (SELECT vec_id AS id, rank FROM (
         |    SELECT a.vec_id, CAST(row_number() OVER (ORDER BY
         |        1.0 - list_cosine_similarity(ev.v, qv), a.vec_id) AS INT)
         |      AS rank
         |    FROM a JOIN probe ON a.centroid_id = probe.cid
         |      JOIN ev ON ev.vec_id = a.vec_id, q) WHERE rank <= 10),
         |p AS (SELECT l.vec_id AS gid, r.vec_id AS nbr_id,
         |    1.0 - list_cosine_similarity(le.v, re.v) AS distance
         |  FROM a l JOIN a r ON l.centroid_id = r.centroid_id
         |    AND l.vec_id <> r.vec_id
         |    JOIN ev le ON le.vec_id = l.vec_id
         |    JOIN ev re ON re.vec_id = r.vec_id),
         |g0 AS (SELECT gid, nbr_id FROM (
         |    SELECT gid, nbr_id, row_number() OVER (
         |      PARTITION BY gid ORDER BY distance, nbr_id) AS rk
         |    FROM p) WHERE rk <= 3),
         |b0 AS (SELECT x.cand,
         |    1.0 - list_cosine_similarity(ev.v, qv) AS distance
         |  FROM (SELECT unnest([0, 1, 2, 3]) AS cand) x
         |    JOIN ev ON ev.vec_id = x.cand, q
         |  ORDER BY distance, cand LIMIT 8),
         |x1 AS (SELECT DISTINCT cand FROM (
         |  SELECT g0.nbr_id AS cand FROM b0 JOIN g0 ON g0.gid = b0.cand
         |  UNION ALL SELECT cand FROM b0)),
         |b1 AS (SELECT x1.cand,
         |    1.0 - list_cosine_similarity(v, qv) AS distance
         |  FROM x1 JOIN ev ON ev.vec_id = x1.cand, q
         |  ORDER BY distance, cand LIMIT 8),
         |x2 AS (SELECT DISTINCT cand FROM (
         |  SELECT g0.nbr_id AS cand FROM b1 JOIN g0 ON g0.gid = b1.cand
         |  UNION ALL SELECT cand FROM b1)),
         |b2 AS (SELECT x2.cand,
         |    1.0 - list_cosine_similarity(v, qv) AS distance
         |  FROM x2 JOIN ev ON ev.vec_id = x2.cand, q
         |  ORDER BY distance, cand LIMIT 8),
         |graphranks AS (SELECT cand AS id,
         |    CAST(row_number() OVER (ORDER BY distance, cand) AS INT)
         |      AS rank FROM b2),
         |u AS (SELECT id, 1.0 / (60 + rank) AS contrib FROM lex
         |  UNION ALL SELECT id, 1.0 / (60 + rank) FROM dense
         |  UNION ALL SELECT id, 1.0 / (60 + rank) FROM graphranks)
         |SELECT CAST(id AS BIGINT) AS id,
         |  CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE)
         |    AS rrf_score,
         |  COUNT(*) AS n_lists
         |FROM u GROUP BY id
         |ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin,

    "q527_grouped_quartiles" ->
      """WITH v AS (SELECT user_id AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL)
        |SELECT g AS user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(quantile_cont(v, 0.25), 6) AS p25,
        |  round(quantile_cont(v, 0.75), 6) AS p75,
        |  round(quantile_cont(v, 0.75) - quantile_cont(v, 0.25), 6)
        |    AS iqr
        |FROM v GROUP BY g ORDER BY user_id""".stripMargin,

    "q528_script_mix" ->
      s"""WITH d AS (SELECT doc_id,
         |    CASE CAST(doc_id % 4 AS INT)
         |      WHEN 1 THEN translate(text, 'a', 'а')
         |      WHEN 2 THEN translate(text, 'o', 'ο')
         |      ELSE text END AS t
         |  FROM documents WHERE doc_id < 500),
         |cnt AS (SELECT doc_id,
         |    CAST(length(t) AS BIGINT) AS n_chars,
         |    CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT)
         |      AS n_latin,
         |    CAST(len(regexp_extract_all(t, '[\\x{0400}-\\x{04FF}]'))
         |      AS BIGINT) AS n_cyrillic,
         |    CAST(len(regexp_extract_all(t, '[\\x{0370}-\\x{03FF}]'))
         |      AS BIGINT) AS n_greek,
         |    CAST(len(regexp_extract_all(t, '[0-9]')) AS BIGINT)
         |      AS n_digit
         |  FROM d)
         |SELECT doc_id, n_chars, n_latin, n_cyrillic, n_greek, n_digit,
         |  (CAST(n_latin > 0 AS INT) + CAST(n_cyrillic > 0 AS INT)
         |    + CAST(n_greek > 0 AS INT)) >= 2 AS mixed_script,
         |  n_latin > 0 AND (n_cyrillic > 0 OR n_greek > 0)
         |    AS confusable_risk
         |FROM cnt ORDER BY doc_id""".stripMargin,

    // quartile fences via quantile_cont (exact quarters of longs — the
    // q527 exactness argument), inclusive value trim, integer-cent sum
    "q529_trimmed_mean" ->
      """WITH v AS (SELECT user_id AS g,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |    quantile_cont(v, 0.25) AS q25,
        |    quantile_cont(v, 0.75) AS q75,
        |    round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS plain_mean
        |  FROM v GROUP BY g),
        |k AS (SELECT v.g, COUNT(*) AS n_kept,
        |    round(CAST(SUM(v.v) AS DOUBLE) / COUNT(*), 6) AS trimmed_mean
        |  FROM v JOIN f ON v.g = f.g
        |  WHERE CAST(v.v AS DOUBLE) >= f.q25 AND CAST(v.v AS DOUBLE) <= f.q75
        |  GROUP BY v.g)
        |SELECT f.g AS user_id, f.n, CAST(k.n_kept AS BIGINT) AS n_kept,
        |  round(f.q25, 6) AS q25, round(f.q75, 6) AS q75,
        |  k.trimmed_mean, f.plain_mean
        |FROM f JOIN k ON f.g = k.g ORDER BY user_id""".stripMargin,

    // per-hour registers (q102 machinery), dense trailing-24h max-merge
    // per register bucket, harmonic finish; exact trailing distinct via
    // the same window membership
    "q530_sliding_hll" -> {
      val factor = graft.operators.Sketches.hllFactor(5)
      s"""WITH ev AS (SELECT
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
         |    user_id AS key FROM events),
         |kh0 AS (SELECT hr, (key * 1000003) % 2147483647 AS a0 FROM ev),
         |kh1 AS (SELECT hr,
         |    (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1 FROM kh0),
         |kh2 AS (SELECT hr,
         |    (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h FROM kh1),
         |br AS (SELECT hr, h >> 26 AS b,
         |    CASE WHEN (h & 67108863) = 0 THEN 27
         |         ELSE 27 - length(bin(h & 67108863)) END AS rho FROM kh2),
         |mb AS (SELECT hr, b, MAX(rho) AS mx FROM br GROUP BY hr, b),
         |hrs AS (SELECT DISTINCT hr FROM ev),
         |mg AS (SELECT h.hr AS hr, mb.b, MAX(mb.mx) AS mx
         |  FROM hrs h JOIN mb ON mb.hr BETWEEN h.hr - 23 AND h.hr
         |  GROUP BY h.hr, mb.b),
         |hs AS (SELECT hr,
         |    SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
         |    COUNT(*) AS nb FROM mg GROUP BY hr),
         |est AS (SELECT hr,
         |    $factor / CAST(present + (32 - nb) * 134217728 AS DOUBLE)
         |      AS hll_est FROM hs),
         |ex AS (SELECT w.hr, COUNT(DISTINCT e.key) AS n_exact
         |  FROM hrs w JOIN ev e ON e.hr BETWEEN w.hr - 23 AND w.hr
         |  GROUP BY w.hr)
         |SELECT est.hr AS hr, round(est.hll_est, 6) AS hll_est,
         |  CAST(ex.n_exact AS BIGINT) AS n_exact
         |FROM est JOIN ex ON est.hr = ex.hr ORDER BY est.hr""".stripMargin
    },

    // four (treated x post) cells of exact integer moments, the same
    // fixed-association mean/variance expressions as the Spark side
    "q531_diff_in_diff" ->
      """WITH v AS (SELECT (user_id % 2 = 0) AS tr,
        |    (day(CAST(ts AS TIMESTAMP)) >= 16) AS po,
        |    CAST(round(value * 100) AS BIGINT) +
        |      CASE WHEN user_id % 2 = 0
        |        AND day(CAST(ts AS TIMESTAMP)) >= 16
        |        THEN 500 ELSE 0 END AS v
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT tr, po, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS s,
        |    CAST(SUM(v * v) AS BIGINT) AS ss
        |  FROM v GROUP BY tr, po),
        |w AS (SELECT
        |  MAX(CASE WHEN tr AND NOT po THEN n END) AS n_tp,
        |  MAX(CASE WHEN tr AND NOT po THEN s END) AS s_tp,
        |  MAX(CASE WHEN tr AND NOT po THEN ss END) AS ss_tp,
        |  MAX(CASE WHEN tr AND po THEN n END) AS n_tq,
        |  MAX(CASE WHEN tr AND po THEN s END) AS s_tq,
        |  MAX(CASE WHEN tr AND po THEN ss END) AS ss_tq,
        |  MAX(CASE WHEN NOT tr AND NOT po THEN n END) AS n_cp,
        |  MAX(CASE WHEN NOT tr AND NOT po THEN s END) AS s_cp,
        |  MAX(CASE WHEN NOT tr AND NOT po THEN ss END) AS ss_cp,
        |  MAX(CASE WHEN NOT tr AND po THEN n END) AS n_cq,
        |  MAX(CASE WHEN NOT tr AND po THEN s END) AS s_cq,
        |  MAX(CASE WHEN NOT tr AND po THEN ss END) AS ss_cq
        |  FROM c)
        |SELECT CAST(n_tp + n_tq + n_cp + n_cq AS BIGINT) AS n_total,
        |  round(CAST(s_tp AS DOUBLE) / n_tp, 6) AS mean_t_pre,
        |  round(CAST(s_tq AS DOUBLE) / n_tq, 6) AS mean_t_post,
        |  round(CAST(s_cp AS DOUBLE) / n_cp, 6) AS mean_c_pre,
        |  round(CAST(s_cq AS DOUBLE) / n_cq, 6) AS mean_c_post,
        |  round((CAST(s_tq AS DOUBLE) / n_tq - CAST(s_tp AS DOUBLE) / n_tp)
        |    - (CAST(s_cq AS DOUBLE) / n_cq - CAST(s_cp AS DOUBLE) / n_cp),
        |    6) AS did,
        |  round(sqrt(
        |    (CAST(ss_tq AS DOUBLE) - CAST(s_tq AS DOUBLE) * CAST(s_tq AS DOUBLE) / n_tq) / (n_tq - 1) / n_tq +
        |    (CAST(ss_tp AS DOUBLE) - CAST(s_tp AS DOUBLE) * CAST(s_tp AS DOUBLE) / n_tp) / (n_tp - 1) / n_tp +
        |    (CAST(ss_cq AS DOUBLE) - CAST(s_cq AS DOUBLE) * CAST(s_cq AS DOUBLE) / n_cq) / (n_cq - 1) / n_cq +
        |    (CAST(ss_cp AS DOUBLE) - CAST(s_cp AS DOUBLE) * CAST(s_cp AS DOUBLE) / n_cp) / (n_cp - 1) / n_cp),
        |    6) AS se,
        |  round(((CAST(s_tq AS DOUBLE) / n_tq - CAST(s_tp AS DOUBLE) / n_tp)
        |    - (CAST(s_cq AS DOUBLE) / n_cq - CAST(s_cp AS DOUBLE) / n_cp)) /
        |    sqrt(
        |    (CAST(ss_tq AS DOUBLE) - CAST(s_tq AS DOUBLE) * CAST(s_tq AS DOUBLE) / n_tq) / (n_tq - 1) / n_tq +
        |    (CAST(ss_tp AS DOUBLE) - CAST(s_tp AS DOUBLE) * CAST(s_tp AS DOUBLE) / n_tp) / (n_tp - 1) / n_tp +
        |    (CAST(ss_cq AS DOUBLE) - CAST(s_cq AS DOUBLE) * CAST(s_cq AS DOUBLE) / n_cq) / (n_cq - 1) / n_cq +
        |    (CAST(ss_cp AS DOUBLE) - CAST(s_cp AS DOUBLE) * CAST(s_cp AS DOUBLE) / n_cp) / (n_cp - 1) / n_cp),
        |    6) AS t
        |FROM w""".stripMargin,

    // midranks via rank()*2 + tiecount − 1 (exact BIGINT), cumulative
    // U_t over day order, peak flagged for t < n, z emitted instead of
    // the exp-based p (the ln/exp cross-engine rule)
    "q532_pettitt" ->
      """WITH ev AS (SELECT
        |    CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS day,
        |    CAST(round(value * 100) AS BIGINT) +
        |      CASE WHEN day(CAST(ts AS TIMESTAMP)) >= 16
        |        THEN 500 ELSE 0 END AS cents
        |  FROM events WHERE value IS NOT NULL),
        |s AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS v
        |  FROM ev GROUP BY day),
        |nn AS (SELECT COUNT(*) AS n FROM s),
        |r AS (SELECT day, v,
        |    rank() OVER (ORDER BY v) * 2
        |      + COUNT(*) OVER (PARTITION BY v) - 1 AS r2,
        |    row_number() OVER (ORDER BY day) AS t FROM s),
        |u AS (SELECT day, v, t,
        |    SUM(r2) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |      - t * (nn.n + 1) AS u_t
        |  FROM r, nn),
        |k AS (SELECT MAX(abs(u.u_t)) AS k FROM u, nn WHERE u.t < nn.n)
        |SELECT u.day, u.v, CAST(u.u_t AS BIGINT) AS u_t,
        |  (abs(u.u_t) = k.k AND u.t < nn.n) AS is_peak,
        |  CAST(k.k AS BIGINT) AS k_stat,
        |  round(6.0 * CAST(k.k AS DOUBLE) * CAST(k.k AS DOUBLE) /
        |    (CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)
        |       * CAST(nn.n AS DOUBLE)
        |     + CAST(nn.n AS DOUBLE) * CAST(nn.n AS DOUBLE)), 6) AS z
        |FROM u, k, nn ORDER BY u.day""".stripMargin
  )
}
