package graft
package queries

import QueryHelpers._

/** Shared oracle-side SQL fragments and builders (split verbatim from
  * SparkEntry's oracleSql block locals and trailing private defs). */
private[graft] object OracleHelpers {
    val chunkCorpus =
      """SELECT doc_id, text FROM documents WHERE doc_id < 50
        |UNION ALL
        |SELECT doc_id + 1000 AS doc_id, substring(text, 1, greatest(length(text) - 7, 1)) AS text
        |FROM documents WHERE doc_id < 50""".stripMargin
    val toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    // TF.qualityScore replay (shared by q25 and q183)
    val qualitySql =
      s"""round(
         |    least(CAST(len($toks) AS DOUBLE) / 20.0, 1.0) * 0.4
         |  + greatest(0.0, 1.0 - (
         |      (CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |        CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / length(text) END)
         |    + (CASE WHEN length(text) = 0 THEN 0.0 ELSE
         |        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text) END)
         |    ) * 2.0) * 0.3
         |  + least((CASE WHEN len($toks) = 0 THEN 0.0 ELSE
         |      CAST(len(list_filter(list_transform($toks, t -> lower(t)),
         |        t -> t IN ('the','and','of','to','in','is','that','for','with','are','was','this','it','on','be','as','by','at'))) AS DOUBLE)
         |      / len($toks) END) * 4.0, 1.0) * 0.3, 6)""".stripMargin
    val langMarkers = Seq(
      "en" -> Seq(" the ", " and ", " is ", " of "),
      "de" -> Seq(" der ", " und ", " die ", " ist "),
      "fr" -> Seq(" le ", " les ", " est ", " une "),
      "es" -> Seq(" el ", " los ", " es ", " una "),
      "it" -> Seq(" il ", " che ", " per ", " una "))
    val pad = "(' ' || lower(text) || ' ')"
    def hitsSql(markers: Seq[String]): String = markers.map { m =>
      s"CAST((length($pad) - length(replace($pad, '$m', ''))) / ${m.length} AS INT)"
    }.mkString("(", " + ", ")")
    val hitCols = langMarkers.map { case (l, ms) => s"${hitsSql(ms)} AS ${l}_hits" }
    val bestExpr = langMarkers.map(l => s"${l._1}_hits").mkString("greatest(", ", ", ")")
    val caseExpr = langMarkers.map { case (l, _) =>
      s"WHEN ${l}_hits = best AND best > 0 THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'und' END")



  /** End-to-end RAG-slice oracle: chunk (200/50) → dedup-keep-min-id →
    * stub feature-hash embed → top-8 cosine with normalized score — the
    * identical pipeline embedSearch runs through the parquet store, replayed
    * in one SQL statement (the store write is a side effect; the oracle
    * checks the retrieval result). The query vector is the Scala stub's
    * output embedded as exact-double literals. */
  def embedSearchOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val qv = pipeline.Embedder.stubEmbed(64)(Seq("spark join stream merge")).head
    val qvLits = qv.map(f => f.toDouble.toString).mkString("[", ", ", "]")
    val toks = "list_filter(regexp_split_to_array(lower(ctext), '\\W+'), x -> x <> '')"
    val tokHash = s"list_reduce(list_transform(range(1, length(t) + 1), " +
      s"j -> CAST(unicode(substring(t, CAST(j AS INT), 1)) AS BIGINT)), " +
      s"(a, c) -> (a * $b1 + c) % 2147483647)"
    val dist = s"1.0 - list_cosine_similarity(CAST(v AS DOUBLE[]), $qvLits)"
    s"""WITH chunks AS (
       |  SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(s // 150 AS VARCHAR) AS id,
       |    substring(text, CAST(s AS INT) + 1, 200) AS ctext
       |  FROM documents, unnest(range(0, length(text), 150)) AS t(s)),
       |dedup AS (
       |  SELECT id, ctext FROM (
       |    SELECT id, ctext,
       |      row_number() OVER (PARTITION BY md5(ctext) ORDER BY id) AS rn
       |    FROM chunks) WHERE rn = 1),
       |hashed AS (
       |  SELECT id, ctext, list_transform($toks, t -> $tokHash) AS hs FROM dedup),
       |raws AS (
       |  SELECT id, ctext, list_transform(range(0, 64), b ->
       |      len(list_filter(hs, h -> h % 64 = b AND ((h >> 6) & 1) = 0))
       |    - len(list_filter(hs, h -> h % 64 = b AND ((h >> 6) & 1) = 1))) AS raw
       |  FROM hashed),
       |normed AS (
       |  SELECT id, ctext,
       |    sqrt(CAST(list_reduce(list_transform(raw, x -> x * x), (a, c) -> a + c) AS DOUBLE)) AS nrm,
       |    raw
       |  FROM raws),
       |emb AS (
       |  SELECT id, ctext,
       |    CASE WHEN nrm > 0
       |      THEN list_transform(raw, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT))
       |      ELSE list_transform(raw, x -> CAST(0.0 AS FLOAT)) END AS v
       |  FROM normed)
       |SELECT id, ctext AS text, round(1.0 - ($dist) / 2.0, 6) AS score
       |FROM emb
       |ORDER BY $dist, id
       |LIMIT 8""".stripMargin
  }

  /** Replays q203: the q32 chunk→stub-embed chain (no dedup) carrying
    * doc_id, then per-(doc, dim) DECIMAL(38,18) mean sums and the pooled
    * norm under one IEEE sqrt. */
  def meanPoolOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val toks = "list_filter(regexp_split_to_array(lower(ctext), '\\W+'), x -> x <> '')"
    val tokHash = s"list_reduce(list_transform(range(1, length(t) + 1), " +
      s"j -> CAST(unicode(substring(t, CAST(j AS INT), 1)) AS BIGINT)), " +
      s"(a, c) -> (a * $b1 + c) % 2147483647)"
    s"""WITH chunks AS (
       |  SELECT doc_id, substring(text, CAST(s AS INT) + 1, 200) AS ctext
       |  FROM documents, unnest(range(0, length(text), 150)) AS t(s)),
       |hashed AS (
       |  SELECT doc_id, list_transform($toks, t -> $tokHash) AS hs FROM chunks),
       |raws AS (
       |  SELECT doc_id, list_transform(range(0, 64), b ->
       |      len(list_filter(hs, h -> h % 64 = b AND ((h >> 6) & 1) = 0))
       |    - len(list_filter(hs, h -> h % 64 = b AND ((h >> 6) & 1) = 1))) AS raw
       |  FROM hashed),
       |normed AS (
       |  SELECT doc_id,
       |    sqrt(CAST(list_reduce(list_transform(raw, x -> x * x), (a, c) -> a + c) AS DOUBLE)) AS nrm,
       |    raw
       |  FROM raws),
       |emb AS (
       |  SELECT doc_id,
       |    CASE WHEN nrm > 0
       |      THEN list_transform(raw, x -> CAST(CAST(x AS DOUBLE) / nrm AS FLOAT))
       |      ELSE list_transform(raw, x -> CAST(0.0 AS FLOAT)) END AS v
       |  FROM normed),
       |px AS (
       |  SELECT doc_id, CAST(i AS INT) AS dim,
       |    CAST(v[CAST(i AS INT) + 1] AS DOUBLE) AS x
       |  FROM emb, unnest(range(0, 64)) AS t(i)),
       |m AS (
       |  SELECT doc_id, dim, count(*) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS s
       |  FROM px GROUP BY doc_id, dim)
       |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chunks,
       |  round(sqrt(CAST(SUM(CAST((s / n) * (s / n) AS DECIMAL(38,18))) AS DOUBLE)), 6)
       |    AS pool_norm
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** MMR oracle: the k=5 greedy selection unrolled into chained CTEs —
    * each step picks the argmax of λ·sim(q,d) − (1−λ)·max sim(d, selected)
    * over the remaining candidates, exactly like Similarity.mmr. The
    * driver-side cosine (dot / sqrt(na*nb), sequential left folds) is
    * replayed with explicit list_reduce folds so the doubles match
    * bit-for-bit. */
  def mmrOracleSql: String = {
    def cosSql(a: String, b: String): String = {
      def f(p: String) =
        s"list_reduce(list_transform(range(1, 65), i -> $p), (x, y) -> x + y)"
      val dot = f(s"$a[CAST(i AS INT)] * $b[CAST(i AS INT)]")
      val na = f(s"$a[CAST(i AS INT)] * $a[CAST(i AS INT)]")
      val nb = f(s"$b[CAST(i AS INT)] * $b[CAST(i AS INT)]")
      s"CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / sqrt($na * $nb) END"
    }
    val k = 5
    val sb = new StringBuilder
    sb ++= s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings, q
       |  ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), vec_id
       |  LIMIT 20),
       |scored AS MATERIALIZED (SELECT vec_id, v, ${cosSql("v", "qv")} AS rel FROM cand, q),
       |sel1 AS (SELECT vec_id, v, 0.5 * rel - 0.5 * 0.0 AS score
       |  FROM scored ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    for (n <- 2 to k) {
      val prevIds = (1 until n).map(i => s"SELECT vec_id FROM sel$i").mkString(" UNION ALL ")
      val prevSel = (1 until n).map(i => s"SELECT v FROM sel$i").mkString(" UNION ALL ")
      // join + group-by rather than a correlated scalar subquery: DuckDB
      // lambdas cannot capture correlated outer columns
      sb ++= s""",
         |rem$n AS (SELECT * FROM scored WHERE vec_id NOT IN ($prevIds)),
         |div$n AS (
         |  SELECT r.vec_id, max(${cosSql("r.v", "s.v")}) AS div
         |  FROM rem$n r CROSS JOIN ($prevSel) s GROUP BY r.vec_id),
         |sel$n AS (
         |  SELECT r.vec_id, r.v, 0.5 * r.rel - 0.5 * d.div AS score
         |  FROM rem$n r JOIN div$n d ON r.vec_id = d.vec_id
         |  ORDER BY score DESC, r.vec_id LIMIT 1)""".stripMargin
    }
    sb ++= (1 to k).map(n =>
        s"SELECT CAST($n AS INT) AS rank, vec_id, round(score, 6) AS mmr_score FROM sel$n")
      .mkString("\nSELECT rank, vec_id, mmr_score FROM (\n", "\nUNION ALL\n", "\n) ORDER BY rank")
    sb.toString
  }

  // ---- Generated oracles for the hash/LSH pipelines --------------------
  // The Spark side uses rolling-polynomial hashes and seeded constants
  // precisely so these oracles can replay the IDENTICAL arithmetic in
  // DuckDB: same shingle/token hashes, same permutations, same banding,
  // same pair expansion — an exact-match check of the whole LSH pipeline,
  // not just a row count.

  val HP = 2147483647L // 2^31-1, mirrors HashExpressions.P
  // Band-bucket cap replayed in the oracle CTEs (QUALIFY) so the Spark
  // side's over-full-bucket drop can never cause a spurious mismatch.
  val MaxBucket = operators.Dedup.DefaultMaxBucketSize

  /** DuckDB rolling polynomial over the chars of `s` — twin of
    * HashExpressions.shinglePolyEval / Dedup's aggregate(...) form.
    * (list_reduce starts from the first element; Spark's aggregate starts
    * from 0, and (0*B + c1) % p == c1, so the folds coincide.) */
  def duckPoly(s: String, base: Long): String =
    s"list_reduce(list_transform(range(1, length($s) + 1), " +
      s"j -> CAST(unicode(substring($s, CAST(j AS INT), 1)) AS BIGINT)), " +
      s"(a, c) -> (a * $base + c) % $HP)"

  /** Full-corpus near-dup input: every document plus a 7-chars-shorter twin
    * (same construction as q20/q21's Spark side). */
  val nearDupCorpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id,
      |  substring(text, 1, greatest(length(text) - 7, 1)) AS text
      |FROM documents""".stripMargin

  /** The corpus→signatures→bands→candidate-pairs CTE chain shared by the
    * minhash-pairs and cluster-dedup oracles. */
  def minhashPairCtes: String = minhashPairCtesFor(nearDupCorpusSql)

  /** [[minhashPairCtes]] over an arbitrary corpus SELECT — the q143
    * recall gate runs the same signature/band replay on a bounded
    * slice. */
  def minhashPairCtesFor(corpusSql: String): String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val (as, bs) = graft.plans.HashExpressions.minhashCoeffs(64)
    val winHash = "list_reduce(list_transform(range(i, i + 5), " +
      "j -> CAST(unicode(substring(text, CAST(j AS INT), 1)) AS BIGINT)), " +
      s"(a, c) -> (a * $b1 + c) % $HP)"
    val sig = (0 until 64)
      .map(k => s"list_min(list_transform(hashes, h -> (h * ${as(k)} + ${bs(k)}) % $HP))")
      .mkString("[", ",\n    ", "]")
    s"""corpus AS ($corpusSql),
       |hs AS (
       |  SELECT doc_id, CASE WHEN length(text) < 5
       |    THEN [${duckPoly("text", b1)}]
       |    ELSE list_distinct(list_transform(range(1, length(text) - 3), i -> $winHash))
       |    END AS hashes
       |  FROM corpus WHERE length(text) > 0),
       |sigs AS (SELECT doc_id, $sig AS sig FROM hs),
       |banded0 AS (
       |  SELECT doc_id, sig, b,
       |    list_reduce(list_transform(range(b * 8 + 1, b * 8 + 9), k -> sig[CAST(k AS INT)]),
       |      (a, v) -> (a * $b1 + v) % $HP) AS band_hash
       |  FROM sigs, unnest(range(0, 8)) AS t(b)),
       |banded AS (
       |  SELECT * FROM banded0
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash) <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |    greatest(x.doc_id, y.doc_id) AS doc_b,
       |    list_count(list_filter(range(1, 65),
       |      i -> x.sig[CAST(i AS INT)] = y.sig[CAST(i AS INT)])) / 64.0 AS est_jaccard
       |  FROM banded x JOIN banded y
       |    ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)""".stripMargin
  }

  def minhashOracleSql: String =
    s"""WITH $minhashPairCtes
       |SELECT doc_a, doc_b, est_jaccard FROM pairs
       |WHERE est_jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  /** Replays q143: the q20 signature/band arithmetic AND the q142
    * brute-force exact Jaccard, both over the bounded near-dup corpus,
    * folded to the single recall/precision stats row. */
  def lshRecallOracleSql: String = {
    val boundedCorpus =
      """SELECT doc_id, text FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id,
        |  substring(text, 1, greatest(length(text) - 7, 1)) AS text
        |FROM documents WHERE doc_id < 300""".stripMargin
    s"""WITH ${minhashPairCtesFor(boundedCorpus)},
       |lsh AS (SELECT doc_a, doc_b FROM pairs WHERE est_jaccard >= 0.8),
       |g AS (
       |  SELECT DISTINCT doc_id, substring(text, CAST(s AS INT) + 1, 5) AS tok
       |  FROM corpus, unnest(range(0, length(text) - 4, 1)) AS t(s)
       |  WHERE length(text) >= 5
       |  UNION
       |  SELECT doc_id, text AS tok FROM corpus WHERE length(text) < 5),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS nc
       |  FROM g a JOIN g b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ex AS (SELECT doc_a, doc_b FROM pr
       |  JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
       |  WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.8),
       |hit AS (SELECT ex.doc_a, ex.doc_b FROM ex JOIN lsh USING (doc_a, doc_b))
       |SELECT (SELECT count(*) FROM ex) AS n_exact,
       |  (SELECT count(*) FROM lsh) AS n_lsh,
       |  (SELECT count(*) FROM hit) AS n_hit,
       |  CAST((SELECT count(*) FROM hit) AS DOUBLE) /
       |    (SELECT count(*) FROM ex) AS recall,
       |  CAST((SELECT count(*) FROM hit) AS DOUBLE) /
       |    (SELECT count(*) FROM lsh) AS precision""".stripMargin
  }

  /** Incremental-dedup oracle: signatures/bands for the stored corpus and
    * the 50-doc new batch (same arithmetic as [[minhashPairCtes]]), joined
    * on the band bucket — no bucket cap, matching the probe operator. */
  def incrementalDedupOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val (as, bs) = graft.plans.HashExpressions.minhashCoeffs(64)
    val winHash = "list_reduce(list_transform(range(i, i + 5), " +
      "j -> CAST(unicode(substring(text, CAST(j AS INT), 1)) AS BIGINT)), " +
      s"(a, c) -> (a * $b1 + c) % $HP)"
    val sig = (0 until 64)
      .map(k => s"list_min(list_transform(hashes, h -> (h * ${as(k)} + ${bs(k)}) % $HP))")
      .mkString("[", ",\n    ", "]")
    def side(src: String, p: String): String =
      s"""hs_$p AS (
         |  SELECT doc_id, CASE WHEN length(text) < 5
         |    THEN [${duckPoly("text", b1)}]
         |    ELSE list_distinct(list_transform(range(1, length(text) - 3), i -> $winHash))
         |    END AS hashes
         |  FROM $src WHERE length(text) > 0),
         |sigs_$p AS (SELECT doc_id, $sig AS sig FROM hs_$p),
         |banded_$p AS (
         |  SELECT doc_id, sig, b,
         |    list_reduce(list_transform(range(b * 8 + 1, b * 8 + 9), k -> sig[CAST(k AS INT)]),
         |      (a, v) -> (a * $b1 + v) % $HP) AS band_hash
         |  FROM sigs_$p, unnest(range(0, 8)) AS t(b))""".stripMargin
    s"""WITH newd AS (
       |  SELECT doc_id + 1000000 AS doc_id,
       |    substring(text, 1, greatest(length(text) - 7, 1)) AS text
       |  FROM documents WHERE doc_id < 50),
       |${side("documents", "st")},
       |${side("newd", "nw")}
       |, capped_st AS (
       |  SELECT doc_id, sig, b, band_hash FROM banded_st
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash)
       |    <= ${graft.operators.Dedup.DefaultMaxBucketSize})
       |SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS stored_id,
       |  list_count(list_filter(range(1, 65),
       |    i -> n.sig[CAST(i AS INT)] = s.sig[CAST(i AS INT)])) / 64.0 AS est_jaccard
       |FROM banded_nw n JOIN capped_st s
       |  ON n.b = s.b AND n.band_hash = s.band_hash
       |WHERE list_count(list_filter(range(1, 65),
       |    i -> n.sig[CAST(i AS INT)] = s.sig[CAST(i AS INT)])) / 64.0 >= 0.8
       |ORDER BY new_id, stored_id""".stripMargin
  }

  /** PQ oracle: replay encode (per-subspace struct-sort argmin over the
    * same seeded codebook literals, list_reduce first-element init ≡ the
    * Spark 0D fold) and ADC scoring (the query's distance table recomputed
    * from the same literals, summed left-to-right like the Spark
    * `aggregate(sequence(...))` fold). */
  /** Shared DuckDB replay of the PQ (64, m=4, ksub=4) arithmetic: per-
    * subspace squared-L2 vs the seeded codebook literals. Returns the
    * per-subspace distance on slice `s` vs centroid `c` of `vecExpr`. */
  lazy val pqCb = operators.Quantization.pqCodebook(64, 4, 4)
  def pqSliceDistSql(vecExpr: String, s: Int, c: Int): String = {
    val lits = pqCb(s)(c).mkString("[", ", ", "]")
    val x = s"CAST($vecExpr[CAST(${s * 16} + i AS INT)] AS DOUBLE)"
    s"list_reduce(list_transform(range(1, 17), i -> " +
      s"($x - ($lits)[CAST(i AS INT)]) * ($x - ($lits)[CAST(i AS INT)])), (a, v) -> a + v)"
  }
  /** `code0..code3 AS ...` select-list for PQ-encoding `vecExpr`. */
  def pqCodeColsSql(vecExpr: String): String = {
    def codeExpr(s: Int): String = {
      val structs = (0 until 4)
        .map(c => s"struct_pack(d := ${pqSliceDistSql(vecExpr, s, c)}, c := $c)")
        .mkString(", ")
      s"((list_sort([$structs]))[1]).c"
    }
    (0 until 4).map(s => s"${codeExpr(s)} AS code$s").mkString(",\n    ")
  }
  /** ADC sum over `code0..code3` against the query's distance table. */
  def pqAdcSql: String = {
    def tList(s: Int): String =
      (0 until 4).map(c => pqSliceDistSql("qv", s, c)).mkString("[", ", ", "]")
    (0 until 4).map(s => s"(${tList(s)})[code$s + 1]").mkString(" + ")
  }

  def pqOracleSql: String = {
    val adc = pqAdcSql
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3),
       |coded AS (SELECT e.vec_id,
       |    ${pqCodeColsSql("e.embedding")},
       |    qv
       |  FROM embeddings e, q)
       |SELECT vec_id, round($adc, 6) AS adc_dist
       |FROM coded ORDER BY $adc, vec_id LIMIT 10""".stripMargin
  }

  /** q180: q54's assign/probe CTEs composed with q124's code/ADC replay,
    * then the exact-cosine rerank of the ADC shortlist. */
  def ivfpqOracleSql: String = {
    val adc = pqAdcSql
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5),
       |$codebookCte,
       |$assignCte,
       |probes AS (SELECT cid FROM c, q ORDER BY list_distance(cv, qv), cid LIMIT 2),
       |cell AS (
       |  SELECT e.vec_id, e.embedding, a.centroid_id FROM embeddings e
       |  JOIN assign a ON e.vec_id = a.vec_id
       |  WHERE a.centroid_id IN (SELECT cid FROM probes)),
       |coded AS (SELECT cell.vec_id, cell.centroid_id, cell.embedding,
       |    ${pqCodeColsSql("cell.embedding")},
       |    qv
       |  FROM cell, q),
       |short AS (SELECT vec_id, centroid_id, embedding, qv,
       |    round($adc, 6) AS adc_dist
       |  FROM coded ORDER BY $adc, vec_id LIMIT 12)
       |SELECT vec_id, centroid_id, adc_dist,
       |  round(1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS distance
       |FROM short
       |ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), vec_id
       |LIMIT 6""".stripMargin
  }

  /** Cluster-dedup oracle: transitive closure over the near-dup pairs via a
    * recursive CTE; each node's representative is the minimum doc_id
    * reachable in its component — exactly what iterative min-label
    * propagation converges to on the Spark side. */
  /** q151: the q56 cluster replay (same pair CTEs + transitive reach),
    * then split = keyHash_base999983(cluster rep) mod 10 over the FULL
    * corpus (singletons represent themselves), aggregated per split with
    * the global straddle audit. */
  def splitAssignOracleSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs WHERE est_jaccard >= 0.8
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs WHERE est_jaccard >= 0.8),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |labels AS (SELECT s AS doc_id, least(s, min(d)) AS rep
       |  FROM reach GROUP BY s),
       |j AS (SELECT c.doc_id, coalesce(l.rep, c.doc_id) AS rep,
       |    length(c.text) AS len
       |  FROM corpus c LEFT JOIN labels l USING (doc_id)),
       |sh0 AS (SELECT doc_id, rep, len, (rep * 999983) % 2147483647 AS h FROM j),
       |sh1 AS (SELECT doc_id, rep, len,
       |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM sh0),
       |sh2 AS (SELECT doc_id, rep, len,
       |    (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM sh1),
       |sp AS (SELECT doc_id, rep, len,
       |    CASE WHEN h % 10 < 8 THEN 'train'
       |         WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM sh2),
       |str AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_straddle FROM (
       |  SELECT rep FROM sp GROUP BY rep HAVING COUNT(DISTINCT split) > 1))
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
       |  CAST(SUM(len) AS BIGINT) AS n_chars, n_straddle
       |FROM sp, str GROUP BY split, n_straddle ORDER BY split""".stripMargin

  /** q155: the q56 cluster replay, then per-cluster size/chars with the
    * representative's chars via arg_min, histogrammed by cluster size. */
  def dedupReportOracleSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs WHERE est_jaccard >= 0.8
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs WHERE est_jaccard >= 0.8),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |labels AS (SELECT s AS doc_id, least(s, min(d)) AS rep
       |  FROM reach GROUP BY s),
       |j AS (SELECT c.doc_id, coalesce(l.rep, c.doc_id) AS rep,
       |    length(c.text) AS len
       |  FROM corpus c LEFT JOIN labels l USING (doc_id)),
       |pc AS (SELECT rep, COUNT(*) AS cluster_size,
       |    CAST(SUM(len) AS BIGINT) AS chars_total,
       |    CAST(arg_min(len, doc_id) AS BIGINT) AS chars_rep
       |  FROM j GROUP BY rep)
       |SELECT cluster_size, COUNT(*) AS n_clusters,
       |  CAST(SUM(chars_total) AS BIGINT) AS chars_total,
       |  CAST(SUM(chars_total - chars_rep) AS BIGINT) AS chars_savable
       |FROM pc GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** Shared CTE chain for q158/q159: the q100 classifier-margin replay
    * and the q71 Gopher gate, joined into `scored(doc_id, margin,
    * quality_pass)`. */
  def scoredMarginCtes: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val mix = graft.plans.HashExpressions.Mix
    val tokenHash = s"(${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}) % $HP"
    s"""WITH ths AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |    t -> $tokenHash) AS th
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    (th[CAST(i AS INT) + 1] * $b2 + th[CAST(i AS INT) + 2]) % $HP AS gh
       |  FROM ths, unnest(range(0, greatest(len(th) - 1, 0))) AS u(i)),
       |h0 AS (SELECT doc_id, (gh * $b1) % $HP AS h FROM grams),
       |h1 AS (SELECT doc_id, (xor(h, h >> 16) * $mix) % $HP AS h FROM h0),
       |h2 AS (SELECT doc_id, (xor(h, h >> 13) * $mix) % $HP AS h FROM h1),
       |cagg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_feats,
       |    CAST(SUM(h % 1001 - 500) AS BIGINT) AS raw_margin
       |  FROM h2 GROUP BY doc_id),
       |marg AS (SELECT d.doc_id,
       |    CASE WHEN coalesce(a.n_feats, 0) = 0 THEN 0.0
       |      ELSE CAST(a.raw_margin AS DOUBLE) / (a.n_feats * 1000) END AS margin
       |  FROM documents d LEFT JOIN cagg a USING (doc_id)),
       |gt AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |gm AS (
       |  SELECT doc_id,
       |    CAST(len(t) AS INT) AS n_words,
       |    CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS mean_word_len,
       |    CAST(len(list_filter(t, x -> x IN ('a','the','of','to','and','in','is','on','for','it'))) AS DOUBLE) / len(t) AS stopword_frac,
       |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS unique_frac
       |  FROM gt),
       |scored AS (SELECT m.doc_id, m.margin,
       |    (q.n_words >= 30 AND q.mean_word_len BETWEEN 4.0 AND 5.0
       |     AND q.stopword_frac >= 0.03 AND q.unique_frac >= 0.35) AS quality_pass
       |  FROM marg m JOIN gm q USING (doc_id))""".stripMargin
  }

  /** Replays q158: distinct-score tallies, cumulative negatives below,
    * doubled rank-sum `u2`, one final division. */
  def classifierAucOracleSql: String =
    s"""$scoredMarginCtes,
       |bys AS (SELECT margin AS s,
       |    CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(SUM(CASE WHEN quality_pass THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM scored GROUP BY margin),
       |cum AS (SELECT np, nn,
       |    coalesce(SUM(nn) OVER (ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_nn
       |  FROM bys)
       |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
       |  CAST(SUM(np * (2 * cum_nn + nn)) AS BIGINT) AS u2,
       |  CAST(SUM(np * (2 * cum_nn + nn)) AS DOUBLE) / (2 * SUM(np) * SUM(nn)) AS auc
       |FROM cum""".stripMargin

  /** Replays q159: the fixed [-0.5, 0.5] 10-bin float binning expression
    * verbatim, then per-bin integer tallies. */
  def calibrationOracleSql: String =
    s"""$scoredMarginCtes
       |SELECT CAST(least(greatest(CAST(floor((margin + 0.5) * 10) AS INT), 0), 9) AS INT) AS bin,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |  CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS frac_pos,
       |  MIN(margin) AS min_score, MAX(margin) AS max_score
       |FROM scored GROUP BY 1 ORDER BY bin""".stripMargin

  /** Replays q160: the scramble-hash chain of `doc_id·131 + s` per
    * shard, argmax by (hash DESC, s), for 16 and 17 shards. */
  def shardMovesOracleSql: String = {
    val mix = graft.plans.HashExpressions.Mix
    def assign(n: Int, name: String): String =
      s"""p$name AS (SELECT doc_id, CAST(s AS INT) AS s,
         |    ((CAST(doc_id AS BIGINT) * 131 + s) * 1000003) % $HP AS h
         |  FROM documents, unnest(range(0, $n)) AS r$name(s)),
         |q$name AS (SELECT doc_id, s, (xor(h, h >> 16) * $mix) % $HP AS h FROM p$name),
         |w$name AS (SELECT doc_id, s, (xor(h, h >> 13) * $mix) % $HP AS h FROM q$name),
         |a$name AS (SELECT doc_id, s AS shard FROM (
         |    SELECT doc_id, s,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s) AS rn
         |    FROM w$name) WHERE rn = 1)""".stripMargin
    s"""WITH ${assign(16, "c")},
       |${assign(17, "n")}
       |SELECT c.shard, CAST(COUNT(*) AS BIGINT) AS n_keys,
       |  CAST(SUM(CASE WHEN c.shard <> n.shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       |  CAST(SUM(CASE WHEN c.shard <> n.shard THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS moved_frac
       |FROM ac c JOIN an n USING (doc_id)
       |GROUP BY c.shard ORDER BY c.shard""".stripMargin
  }

  /** Replays q164: the q158 scored CTEs plus the q26 fingerprint with a
    * duplicate-count window, rolled up per source with a decimal-exact
    * margin mean. */
  def domainReportOracleSql: String =
    s"""$scoredMarginCtes,
       |fp AS (SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, length(text) + 1),
       |        i -> CAST(ord(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
       |  FROM documents),
       |fpn AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY fp) AS fpn FROM fp),
       |j AS (SELECT d.source, d.n_chars, s.margin, s.quality_pass, f.fpn
       |  FROM documents d JOIN scored s USING (doc_id) JOIN fpn f USING (doc_id))
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pass_rate,
       |  CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_rate,
       |  CAST(SUM(CAST(margin AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*) AS mean_margin
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** Replays q165: the near-dup corpus → per-char code points → k-gram
    * polynomial hashes (k=8) → min of each w=16 window → distinct
    * fingerprints → stop-fp cap (2..50 docs) → shared-fp pair counts.
    * Identical mod-p arithmetic to [[Winnowing.fingerprints]]; DuckDB's
    * first-element `list_reduce` init is made explicit with a prepended
    * 0 (0·31 + c₁ ≡ c₁). */
  def winnowingOracleSql: String =
    s"""WITH corpus AS ($nearDupCorpusSql),
       |codes AS (
       |  SELECT doc_id, list_transform(range(1, length(text) + 1),
       |    i -> CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
       |  FROM corpus WHERE length(text) >= 23),
       |khash AS (
       |  SELECT doc_id, list_transform(range(1, len(cs) - 6),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(cs, i, i + 7)),
       |      (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
       |  FROM codes),
       |fps AS (
       |  SELECT DISTINCT doc_id, fp
       |  FROM khash, unnest(list_distinct(list_transform(range(1, len(hs) - 14),
       |    t -> list_aggregate(list_slice(hs, t, t + 15), 'min')))) AS u(fp)),
       |bounded AS (
       |  SELECT doc_id, fp FROM fps
       |  QUALIFY COUNT(*) OVER (PARTITION BY fp) BETWEEN 2 AND 50)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM bounded x JOIN bounded y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 4
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Replays q166: the q20 LSH pair CTEs, survivors joined back to their
    * texts and confirmed with DuckDB's own Levenshtein. */
  def editVerifiedOracleSql: String =
    s"""WITH $minhashPairCtes,
       |ver AS (
       |  SELECT p.doc_a, p.doc_b, p.est_jaccard,
       |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       |    1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
       |      / greatest(length(a.text), length(b.text)) AS edit_sim
       |  FROM pairs p
       |  JOIN corpus a ON p.doc_a = a.doc_id
       |  JOIN corpus b ON p.doc_b = b.doc_id
       |  WHERE p.est_jaccard >= 0.8)
       |SELECT doc_a, doc_b, est_jaccard, lev, edit_sim,
       |  edit_sim >= 0.9 AS verified
       |FROM ver ORDER BY doc_a, doc_b""".stripMargin

  /** Replays q167: the q103 IVF/exact CTE chain keeping ranks, then the
    * rational-discount DCG (L = lcm(1..3) = 6, gain 4−rank, integer
    * weight 6//r) and one final division. */
  def ndcgOracleSql: String =
    s"""WITH $codebookCte,
      |$assignedCte,
      |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |  FROM embeddings WHERE vec_id < 5),
      |probe AS (SELECT query_id, qv, cid FROM (
      |    SELECT q.query_id, q.qv, c.cid,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY list_distance(qv, c.cv), c.cid) AS rn
      |    FROM q, c) WHERE rn <= 2),
      |approx AS (SELECT query_id, vec_id, rk FROM (
      |    SELECT p.query_id, a.vec_id,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY 1.0 - list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), p.qv),
      |          a.vec_id) AS rk
      |    FROM a JOIN probe p ON a.centroid_id = p.cid) WHERE rk <= 3),
      |exact AS (SELECT query_id, vec_id, rk FROM (
      |    SELECT q.query_id, e.vec_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv),
      |          e.vec_id) AS rk
      |    FROM embeddings e, q) WHERE rk <= 3),
      |rel AS (SELECT query_id, vec_id, CAST(4 - rk AS BIGINT) AS rel FROM exact),
      |dcg AS (SELECT ap.query_id,
      |    CAST(SUM(coalesce(r.rel, 0) * (6 // ap.rk)) AS BIGINT) AS dcg_num
      |  FROM approx ap LEFT JOIN rel r USING (query_id, vec_id)
      |  GROUP BY ap.query_id),
      |idcg AS (SELECT query_id,
      |    CAST(SUM(rel * (6 // (4 - rel))) AS BIGINT) AS idcg_num
      |  FROM rel GROUP BY query_id)
      |SELECT i.query_id, coalesce(d.dcg_num, 0) AS dcg_num, i.idcg_num,
      |  CAST(coalesce(d.dcg_num, 0) AS DOUBLE) / i.idcg_num AS ndcg
      |FROM idcg i LEFT JOIN dcg d USING (query_id) ORDER BY i.query_id""".stripMargin

  /** Replays q168: the q158 scored CTEs plus the classifier label
    * (raw_margin > 0, 0-feature docs labelled false via the left join),
    * folded to the 2×2 contingency table and the exact-integer κ. */
  def raterKappaOracleSql: String = {
    val chance = "(n_both + n_a_only) * (n_both + n_b_only) + " +
      "(n_b_only + n_neither) * (n_a_only + n_neither)"
    s"""$scoredMarginCtes,
       |lbl AS (SELECT d.doc_id, coalesce(a.raw_margin, 0) > 0 AS label
       |  FROM documents d LEFT JOIN cagg a USING (doc_id)),
       |j AS (SELECT l.label, s.quality_pass
       |  FROM lbl l JOIN scored s USING (doc_id)),
       |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(CASE WHEN label AND quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |  CAST(SUM(CASE WHEN label AND NOT quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
       |  CAST(SUM(CASE WHEN NOT label AND quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
       |  CAST(SUM(CASE WHEN NOT label AND NOT quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
       |  FROM j)
       |SELECT n, n_both, n_a_only, n_b_only, n_neither,
       |  CAST(n_both + n_neither AS DOUBLE) / n AS po,
       |  CAST($chance AS DOUBLE) / (n * n) AS pe,
       |  CAST(n * (n_both + n_neither) - ($chance) AS DOUBLE)
       |    / (n * n - ($chance)) AS kappa
       |FROM agg""".stripMargin
  }

  /** Replays q169 for n = 1..3: token n-grams joined with spaces,
    * counted total and distinct per source. */
  def distinctNgramsOracleSql: String = {
    val per = (1 to 3).map { n =>
      s"""SELECT source, CAST($n AS INT) AS n,
         |  CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
         |FROM (SELECT source, unnest(list_transform(
         |    range(1, greatest(len(t) - ${n - 1}, 0) + 1),
         |    i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))) AS g
         |  FROM toks)
         |GROUP BY source""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT source, list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |    x -> x <> '') AS t
       |  FROM documents)
       |SELECT source, n, n_total, n_distinct,
       |  CAST(n_distinct AS DOUBLE) / n_total AS distinct_ratio
       |FROM ($per)
       |ORDER BY source, n""".stripMargin
  }

  /** Replays q172: greedy k-center unrolled CTE-per-pick (the q19 MMR
    * oracle pattern), with the cosine fold replayed in the same
    * index order and √na·√nb denominator as CosineDistanceExpr. */
  def kcenterOracleSql: String = {
    def fold(p: String) =
      s"list_reduce(list_transform(range(1, 65), i -> $p), (x, y) -> x + y)"
    def cosDist(a: String, b: String): String = {
      val dot = fold(s"$a[CAST(i AS INT)] * $b[CAST(i AS INT)]")
      val na = fold(s"$a[CAST(i AS INT)] * $a[CAST(i AS INT)]")
      val nb = fold(s"$b[CAST(i AS INT)] * $b[CAST(i AS INT)]")
      s"CASE WHEN sqrt($na) * sqrt($nb) = 0 THEN 1.0 " +
        s"ELSE 1.0 - $dot / (sqrt($na) * sqrt($nb)) END"
    }
    val k = 6
    val sb = new StringBuilder
    sb ++= """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sel1 AS (SELECT vec_id, v, 0.0 AS d FROM emb
      |  WHERE vec_id = (SELECT min(vec_id) FROM emb))""".stripMargin
    for (n <- 2 to k) {
      val prevIds = (1 until n).map(i => s"SELECT vec_id FROM sel$i").mkString(" UNION ALL ")
      val prevSel = (1 until n).map(i => s"SELECT v FROM sel$i").mkString(" UNION ALL ")
      sb ++= s""",
         |rem$n AS (SELECT * FROM emb WHERE vec_id NOT IN ($prevIds)),
         |d$n AS (SELECT r.vec_id, min(${cosDist("r.v", "s.v")}) AS d
         |  FROM rem$n r CROSS JOIN ($prevSel) s GROUP BY r.vec_id),
         |sel$n AS (SELECT r.vec_id, r.v, d.d
         |  FROM rem$n r JOIN d$n d ON r.vec_id = d.vec_id
         |  ORDER BY d.d DESC, r.vec_id LIMIT 1)""".stripMargin
    }
    sb ++= (1 to k).map(n =>
        s"SELECT CAST($n AS INT) AS sel_rank, vec_id, round(d, 6) AS dist FROM sel$n")
      .mkString("\nSELECT sel_rank, vec_id, dist FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY sel_rank")
    sb.toString
  }

  /** Replays q161: the q101 graph canonicalized to a < b, degree-sum
    * wedges, and the (a,b)⋈(b,c)⋈(a,c) triangle join. */
  def knnTrianglesOracleSql: String =
    s"""$knnEdgesPrefixSql,
       |und AS (SELECT DISTINCT least(id, nbr_id) AS a, greatest(id, nbr_id) AS b
       |  FROM g0 WHERE id <> nbr_id),
       |degu AS (SELECT v, COUNT(*) AS deg FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
       |wt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM degu),
       |ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und),
       |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       |  FROM und e1 JOIN und e2 ON e1.b = e2.a
       |    JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b)
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |  CAST(3 * n_triangles AS DOUBLE) / n_wedges AS transitivity
       |FROM wt, ec, tc""".stripMargin

  /** The q56/q311 recursive-clustering CTE chain ending in a
    * `clusters(doc_id, cluster_rep)` CTE, reusable by downstream
    * cluster-consuming oracles (q339). */
  def dedupClustersCtes: String =
    s"""$minhashPairCtes,
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs WHERE est_jaccard >= 0.8
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs WHERE est_jaccard >= 0.8),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |clusters AS (
       |  SELECT s AS doc_id, least(s, min(d)) AS cluster_rep
       |  FROM reach GROUP BY s)""".stripMargin

  def dedupClustersOracleSql: String =
    s"""WITH RECURSIVE $dedupClustersCtes
       |SELECT doc_id, cluster_rep FROM clusters ORDER BY doc_id""".stripMargin

  /** Replays q339: the cluster chain, the q305 hash chain on doc_id for
    * the 10-bucket split (buckets 8-9 = test), per-cluster fold counts. */
  def splitLeakageOracleSql: String =
    s"""WITH RECURSIVE $dedupClustersCtes,
       |l0 AS (SELECT doc_id, cluster_rep,
       |    (doc_id * 1000003) % 2147483647 AS h FROM clusters),
       |l1 AS (SELECT doc_id, cluster_rep,
       |    (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM l0),
       |l2 AS (SELECT doc_id, cluster_rep,
       |    ((xor(h, h >> 13) * 73244475) % 2147483647) % 10 AS fold FROM l1)
       |SELECT cluster_rep, count(*) AS n_members,
       |  CAST(SUM(CASE WHEN fold >= 8 THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
       |  CAST(SUM(CASE WHEN fold >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |  (SUM(CASE WHEN fold >= 8 THEN 0 ELSE 1 END) > 0
       |    AND SUM(CASE WHEN fold >= 8 THEN 1 ELSE 0 END) > 0) AS leaky
       |FROM l2 GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin

  /** [[minhashPairCtesFor]] with SUFFIXED CTE names so two corpora's
    * full signature→band→pair chains can coexist in one WITH clause
    * (q220 runs the old and new snapshots side by side). */
  def minhashPairCtesSfx(corpusSql: String, sfx: String): String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val (as, bs) = graft.plans.HashExpressions.minhashCoeffs(64)
    val winHash = "list_reduce(list_transform(range(i, i + 5), " +
      "j -> CAST(unicode(substring(text, CAST(j AS INT), 1)) AS BIGINT)), " +
      s"(a, c) -> (a * $b1 + c) % $HP)"
    val sig = (0 until 64)
      .map(k => s"list_min(list_transform(hashes, h -> (h * ${as(k)} + ${bs(k)}) % $HP))")
      .mkString("[", ",\n    ", "]")
    s"""corpus_$sfx AS ($corpusSql),
       |hs_$sfx AS (
       |  SELECT doc_id, CASE WHEN length(text) < 5
       |    THEN [${duckPoly("text", b1)}]
       |    ELSE list_distinct(list_transform(range(1, length(text) - 3), i -> $winHash))
       |    END AS hashes
       |  FROM corpus_$sfx WHERE length(text) > 0),
       |sigs_$sfx AS (SELECT doc_id, $sig AS sig FROM hs_$sfx),
       |banded0_$sfx AS (
       |  SELECT doc_id, sig, b,
       |    list_reduce(list_transform(range(b * 8 + 1, b * 8 + 9), k -> sig[CAST(k AS INT)]),
       |      (a, v) -> (a * $b1 + v) % $HP) AS band_hash
       |  FROM sigs_$sfx, unnest(range(0, 8)) AS tb_$sfx(b)),
       |banded_$sfx AS (
       |  SELECT * FROM banded0_$sfx
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash) <= $MaxBucket),
       |pairs_$sfx AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |    greatest(x.doc_id, y.doc_id) AS doc_b
       |  FROM banded_$sfx x JOIN banded_$sfx y
       |    ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
       |  WHERE list_count(list_filter(range(1, 65),
       |      i -> x.sig[CAST(i AS INT)] = y.sig[CAST(i AS INT)])) / 64.0 >= 0.8),
       |edges_$sfx AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs_$sfx
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs_$sfx),
       |reach_$sfx(s, d) AS (
       |  SELECT s, d FROM edges_$sfx
       |  UNION
       |  SELECT r.s, e.d FROM reach_$sfx r JOIN edges_$sfx e ON r.d = e.s),
       |cl_$sfx AS (SELECT s AS id, least(s, min(d)) AS cluster_rep
       |  FROM reach_$sfx GROUP BY s)""".stripMargin
  }

  /** Replays q220: old- and new-snapshot cluster chains side by side,
    * membership join (unclustered old members become their own singleton
    * rep), per-new-rep stats, then the split ≻ merged ≻ grown ≻ stable
    * classification exactly as [[operators.Dedup.clusterEvolution]]. */
  def clusterEvolutionOracleSql: String = {
    val oldCorpus =
      """SELECT doc_id, text FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id,
        |  substring(text, 1, greatest(length(text) - 7, 1)) AS text
        |FROM documents WHERE doc_id < 300""".stripMargin
    s"""WITH RECURSIVE ${minhashPairCtesSfx(oldCorpus, "o")},
       |${minhashPairCtesSfx(nearDupCorpusSql, "n")},
       |j AS (SELECT o.id, o.cluster_rep AS old_rep,
       |    coalesce(n.cluster_rep, o.id) AS new_rep
       |  FROM cl_o o LEFT JOIN cl_n n ON o.id = n.id),
       |rs AS (SELECT new_rep,
       |    CAST(count(DISTINCT old_rep) AS BIGINT) AS n_old_in_new,
       |    CAST(count(*) AS BIGINT) AS old_members_in_new
       |  FROM j GROUP BY new_rep),
       |ns AS (SELECT cluster_rep AS new_rep, CAST(count(*) AS BIGINT)
       |    AS new_size FROM cl_n GROUP BY 1),
       |t2 AS (SELECT t.old_rep, t.new_rep, rs.n_old_in_new,
       |    rs.old_members_in_new,
       |    coalesce(ns.new_size, rs.old_members_in_new) AS new_size
       |  FROM (SELECT DISTINCT old_rep, new_rep FROM j) t
       |  JOIN rs ON t.new_rep = rs.new_rep
       |  LEFT JOIN ns ON t.new_rep = ns.new_rep),
       |po AS (SELECT old_rep, CAST(count(*) AS BIGINT) AS n_members
       |  FROM j GROUP BY old_rep),
       |ag AS (SELECT old_rep, CAST(count(*) AS BIGINT) AS n_new_reps,
       |    CAST(max(n_old_in_new) AS BIGINT) AS max_old_in_new,
       |    CAST(SUM(new_size - old_members_in_new) AS BIGINT) AS n_joiners
       |  FROM t2 GROUP BY old_rep)
       |SELECT po.old_rep, po.n_members, ag.n_new_reps, ag.max_old_in_new,
       |  ag.n_joiners,
       |  CASE WHEN ag.n_new_reps > 1 THEN 'split'
       |    WHEN ag.max_old_in_new > 1 THEN 'merged'
       |    WHEN ag.n_joiners > 0 THEN 'grown'
       |    ELSE 'stable' END AS class
       |FROM po JOIN ag USING (old_rep) ORDER BY old_rep""".stripMargin
  }

  /** Replays q209: the q56 cluster CTEs, members joined back to their
    * base-document attributes (id mod 1e6), then survivorship — min id,
    * count, max kept length, and per-field mode with (count DESC, value)
    * tie-break, exactly [[operators.Linkage.goldenRecords]]' min_by
    * struct ordering. */
  def goldenRecordOracleSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs WHERE est_jaccard >= 0.8
       |  UNION
       |  SELECT doc_b AS s, doc_a AS d FROM pairs WHERE est_jaccard >= 0.8),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |cl AS (SELECT s AS id, least(s, min(d)) AS cluster_rep
       |  FROM reach GROUP BY s),
       |attrs AS (SELECT cl.cluster_rep, cl.id, d.lang, d.source,
       |    CAST(length(c.text) AS INT) AS nch
       |  FROM cl JOIN corpus c ON cl.id = c.doc_id
       |  JOIN documents d ON cl.id % 1000000 = d.doc_id),
       |base AS (SELECT cluster_rep AS cluster_id, min(id) AS canonical_id,
       |    CAST(count(*) AS BIGINT) AS n_members, max(nch) AS kept_chars
       |  FROM attrs GROUP BY cluster_rep),
       |mlc AS (SELECT cluster_rep, lang, count(*) AS c
       |  FROM attrs GROUP BY 1, 2),
       |ml AS (SELECT cluster_rep AS cluster_id, lang FROM mlc
       |  QUALIFY row_number() OVER (PARTITION BY cluster_rep
       |    ORDER BY c DESC, lang) = 1),
       |msc AS (SELECT cluster_rep, source, count(*) AS c
       |  FROM attrs GROUP BY 1, 2),
       |ms AS (SELECT cluster_rep AS cluster_id, source FROM msc
       |  QUALIFY row_number() OVER (PARTITION BY cluster_rep
       |    ORDER BY c DESC, source) = 1)
       |SELECT b.cluster_id, b.canonical_id, b.n_members, b.kept_chars,
       |  ml.lang, ms.source
       |FROM base b JOIN ml USING (cluster_id) JOIN ms USING (cluster_id)
       |ORDER BY cluster_id""".stripMargin

  /** Replays q210: the half-prefix corpus, full shared-token ordered-pair
    * counts (no prefix/length pruning — those only drop candidates the
    * verify would reject), containment = shared / |A|. */
  def containmentOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 400
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |    substring(text, 1, greatest(length(text) // 2, 5)) AS text
      |  FROM documents WHERE doc_id < 400),
      |g AS (
      |  SELECT DISTINCT doc_id, substring(text, CAST(s AS INT) + 1, 5) AS tok
      |  FROM corpus, unnest(range(0, length(text) - 4, 1)) AS t(s)
      |  WHERE length(text) >= 5
      |  UNION
      |  SELECT doc_id, text AS tok FROM corpus WHERE length(text) < 5),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS BIGINT) AS nc
      |  FROM g a JOIN g b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(nc AS DOUBLE) / sa.n AS containment
      |FROM pr JOIN sz sa ON doc_a = sa.doc_id
      |WHERE CAST(nc AS DOUBLE) / sa.n >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Duplicated-span oracle: replay of [[operators.Dedup.dupSpans]] at
    * n = 8 — identical token two-polynomial hashes (reduced mod p), the
    * identical window fold, the same ≥2-occurrences gate, and the same
    * gaps-and-islands merge. list_reduce's first-element init equals the
    * Spark fold's (0*B + x1) % p == x1 (every th value is already < p). */
  def dupSpansOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val tokenHash = s"(${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}) % $HP"
    s"""WITH corpus AS ($nearDupCorpusSql),
       |ths AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |    t -> $tokenHash) AS th
       |  FROM corpus),
       |grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    list_reduce(list_transform(range(CAST(i AS INT) + 1, CAST(i AS INT) + 9),
       |      j -> th[CAST(j AS INT)]), (a, c) -> (a * $b2 + c) % $HP) AS gh
       |  FROM ths, unnest(range(0, greatest(len(th) - 7, 0))) AS u(i)),
       |dpos AS (
       |  SELECT doc_id, pos FROM grams
       |  QUALIFY COUNT(*) OVER (PARTITION BY gh) >= 2),
       |isl AS (
       |  SELECT doc_id, pos,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dpos)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
       |  MAX(pos) - MIN(pos) + 8 AS span_tokens, COUNT(*) AS n_grams
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }

  /** Rare-bigram oracle: replay of TextQuality.rareBigramStats — same
    * token hashes as [[dupSpansOracleSql]], window size 2, corpus-count
    * window, per-doc integer rollup; rare_frac is one double division of
    * two exact integers on both sides. */
  def rareBigramsOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val tokenHash = s"(${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}) % $HP"
    s"""WITH ths AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |    t -> $tokenHash) AS th
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    (th[CAST(i AS INT) + 1] * $b2 + th[CAST(i AS INT) + 2]) % $HP AS gh
       |  FROM ths, unnest(range(0, greatest(len(th) - 1, 0))) AS u(i)),
       |cnt AS (
       |  SELECT doc_id, COUNT(*) OVER (PARTITION BY gh) AS c FROM grams)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |  CAST(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS rare_frac,
       |  MIN(c) AS min_count
       |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** BM25 oracle (q98 scan path and q106 index-serving path — the scorer
    * is shared, so both produce bit-identical top-k). ln's last ulp is not
    * cross-engine safe: contributions sum in exact decimal, round(,6). */
  /** Dirichlet query-likelihood oracle (q313), shared with the q314 RBO
    * oracle's `ql` CTE — same decimal-sum + round-6 ln discipline as
    * [[bm25OracleSql]]. */
  def queryLikelihoodOracleSql: String =
    """WITH docs AS (SELECT doc_id AS id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |dl AS (SELECT id, len(t) AS dl, t FROM docs),
      |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS c_tokens FROM dl),
      |tf AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
      |    SELECT id, dl, unnest(t) AS term FROM dl)
      |  WHERE term IN ('spark', 'join', 'vector', 'window')
      |  GROUP BY id, dl, term),
      |cf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
      |scored AS (SELECT id, dl,
      |    ln(1.0 + CAST(tf * c_tokens AS DOUBLE) / (1000.0 * cf)) AS contrib
      |  FROM tf JOIN cf USING (term), stats)
      |SELECT id,
      |  round(CAST(SUM(CAST(contrib AS DECIMAL(27,15)))
      |    + CAST(ln(1000.0 / (dl + 1000.0)) * 4 AS DECIMAL(27,15))
      |    AS DOUBLE), 6) AS score,
      |  COUNT(*) AS n_matched
      |FROM scored GROUP BY id, dl
      |ORDER BY score DESC, id LIMIT 20""".stripMargin

  def bm25OracleSql: String =
    """WITH docs AS (SELECT doc_id AS id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |dl AS (SELECT id, len(t) AS dl, t FROM docs),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |tf AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
      |    SELECT id, dl, unnest(t) AS term FROM dl)
      |  WHERE term IN ('spark', 'join', 'vector', 'window')
      |  GROUP BY id, dl, term),
      |dfq AS (SELECT term, COUNT(*) AS term_df FROM tf GROUP BY term),
      |scored AS (SELECT id,
      |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
      |      ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
      |      AS contrib
      |  FROM tf JOIN dfq USING (term), stats)
      |SELECT id,
      |  round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE), 6) AS score,
      |  COUNT(*) AS n_matched
      |FROM scored GROUP BY id
      |ORDER BY score DESC, id LIMIT 20""".stripMargin

  /** Training-export oracle: the q117 composite replayed as one chained
    * CTE pipeline — Gopher gate (q71's expression), classifier gate
    * (q100's hash chain), keep-first dedup (q12's md5 window), per-source
    * hash cap (q96's scramble), per-lang packing cumsum (q85's window). */
  def trainingExportOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val mix = graft.plans.HashExpressions.Mix
    val tokenHash = s"(${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}) % $HP"
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents),
       |gpass AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, CAST(len(t) AS INT) AS n_words,
       |      CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS mwl,
       |      CAST(len(list_filter(t, x -> x IN ('a','the','of','to','and','in','is','on','for','it'))) AS DOUBLE) / len(t) AS swf,
       |      CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uf
       |    FROM toks)
       |  WHERE n_words >= 30 AND mwl BETWEEN 4.0 AND 5.0
       |    AND swf >= 0.03 AND uf >= 0.35),
       |ths AS (
       |  SELECT d.doc_id, list_transform(
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |    t -> $tokenHash) AS th
       |  FROM documents d JOIN gpass USING (doc_id)),
       |grams AS (
       |  SELECT doc_id,
       |    (th[CAST(i AS INT) + 1] * $b2 + th[CAST(i AS INT) + 2]) % $HP AS gh
       |  FROM ths, unnest(range(0, greatest(len(th) - 1, 0))) AS u(i)),
       |ch0 AS (SELECT doc_id, (gh * $b1) % $HP AS h FROM grams),
       |ch1 AS (SELECT doc_id, (xor(h, h >> 16) * $mix) % $HP AS h FROM ch0),
       |ch2 AS (SELECT doc_id, (xor(h, h >> 13) * $mix) % $HP AS h FROM ch1),
       |ckeep AS (
       |  SELECT doc_id FROM ch2 GROUP BY doc_id
       |  HAVING CAST(SUM(h % 1001 - 500) AS BIGINT) > 0),
       |dd AS (
       |  SELECT doc_id FROM (
       |    SELECT d.doc_id,
       |      row_number() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id) AS rn
       |    FROM documents d JOIN ckeep USING (doc_id))
       |  WHERE rn = 1),
       |kh0 AS (SELECT doc_id, (doc_id * 1000003) % $HP AS h FROM documents JOIN dd USING (doc_id)),
       |kh1 AS (SELECT doc_id, (xor(h, h >> 16) * $mix) % $HP AS h FROM kh0),
       |kh2 AS (SELECT doc_id, (xor(h, h >> 13) * $mix) % $HP AS h FROM kh1),
       |capped AS (
       |  SELECT doc_id FROM (
       |    SELECT d.doc_id,
       |      row_number() OVER (PARTITION BY d.source ORDER BY kh2.h, d.doc_id) AS rk
       |    FROM documents d JOIN kh2 USING (doc_id))
       |  WHERE rk <= 20),
       |tok2 AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |    CAST(len(list_filter(regexp_split_to_array(d.text, '\\s+'), x -> x <> '')) AS INT) AS tokens
       |  FROM documents d JOIN capped USING (doc_id)),
       |nz AS (SELECT * FROM tok2 WHERE tokens > 0),
       |p AS (SELECT doc_id, lang, source, tokens,
       |    COALESCE(SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
       |  FROM nz)
       |SELECT doc_id, lang, source, tokens, CAST(s // 2000 AS INT) AS pack_id,
       |  ((s + tokens - 1) // 2000) > (s // 2000) AS spans_boundary
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** CMS heavy-hitter oracle (q74 and its shard-merge twin q105 — the
    * merged grid is bit-identical to the single-pass one, so both replay
    * against the same SQL). */
  def cmsHeavyHittersOracleSql: String =
    """WITH keys AS (SELECT l_partkey AS key FROM lineitem),
      |ch0 AS (SELECT key, (key * 1000003) % 2147483647 AS a0,
      |    (key * 999983) % 2147483647 AS b0 FROM keys),
      |ch1 AS (SELECT key, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
      |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1 FROM ch0),
      |ch2 AS (SELECT key, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
      |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2 FROM ch1),
      |cells AS (SELECT d, (h1 + d * h2) % 1024 AS pos, COUNT(*) AS c
      |  FROM ch2, unnest(range(0, 4)) AS t(d) GROUP BY d, pos),
      |top AS (SELECT key, COUNT(*) AS true_cnt FROM keys GROUP BY key
      |  ORDER BY true_cnt DESC, key LIMIT 10),
      |th0 AS (SELECT key, true_cnt, (key * 1000003) % 2147483647 AS a0,
      |    (key * 999983) % 2147483647 AS b0 FROM top),
      |th1 AS (SELECT key, true_cnt, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
      |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1 FROM th0),
      |th2 AS (SELECT key, true_cnt, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
      |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2 FROM th1),
      |tpos AS (SELECT key, true_cnt, d, (h1 + d * h2) % 1024 AS pos
      |  FROM th2, unnest(range(0, 4)) AS t(d))
      |SELECT key, true_cnt, MIN(COALESCE(c, CAST(0 AS BIGINT))) AS cms_est
      |FROM tpos LEFT JOIN cells USING (d, pos)
      |GROUP BY key, true_cnt ORDER BY true_cnt DESC, key""".stripMargin

  /** Classifier oracle: replay of TextQuality.classifierScore — the same
    * positional bigram hashes as [[rareBigramsOracleSql]], then the shared
    * xorshift-multiply scramble (Sketches.keyHash) as weight source; every
    * number is integer arithmetic except the final margin division. */
  def classifierOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val mix = graft.plans.HashExpressions.Mix
    val tokenHash = s"(${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}) % $HP"
    s"""WITH ths AS (
       |  SELECT doc_id, list_transform(
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |    t -> $tokenHash) AS th
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |    (th[CAST(i AS INT) + 1] * $b2 + th[CAST(i AS INT) + 2]) % $HP AS gh
       |  FROM ths, unnest(range(0, greatest(len(th) - 1, 0))) AS u(i)),
       |h0 AS (SELECT doc_id, (gh * $b1) % $HP AS h FROM grams),
       |h1 AS (SELECT doc_id, (xor(h, h >> 16) * $mix) % $HP AS h FROM h0),
       |h2 AS (SELECT doc_id, (xor(h, h >> 13) * $mix) % $HP AS h FROM h1),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_feats,
       |    CAST(SUM(h % 1001 - 500) AS BIGINT) AS raw_margin
       |  FROM h2 GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(a.n_feats, 0) AS n_feats,
       |  CAST(coalesce(a.raw_margin, 0) AS BIGINT) AS raw_margin,
       |  CASE WHEN coalesce(a.n_feats, 0) = 0 THEN 0.0
       |    ELSE CAST(a.raw_margin AS DOUBLE) / (a.n_feats * 1000) END AS margin,
       |  coalesce(a.raw_margin, 0) > 0 AS label
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  def simhashOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val toks = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"
    val tokenHash = s"${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}"
    s"""WITH corpus AS ($nearDupCorpusSql),
       |ths AS (
       |  SELECT doc_id, list_transform($toks, t -> $tokenHash) AS th
       |  FROM corpus WHERE length(text) > 0),
       |shs AS (
       |  SELECT doc_id, CAST(list_reduce(list_transform(range(0, 64), j ->
       |      CASE WHEN 2 * len(list_filter(th, h -> ((h >> CAST(j AS INT)) & 1) = 1)) > len(th)
       |        THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END),
       |    (a, v) -> a + v) AS BIGINT) AS sh
       |  FROM ths),
       |banded0 AS (
       |  SELECT doc_id, sh, b, (sh >> CAST(b * 16 AS INT)) & 65535 AS band_hash
       |  FROM shs, unnest(range(0, 4)) AS t(b)),
       |banded AS (
       |  SELECT * FROM banded0
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash) <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |    greatest(x.doc_id, y.doc_id) AS doc_b,
       |    CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Perceptual-hash oracle: replay of the stub decode (first-64-byte
    * pixels, double-divide-then-cast-FLOAT — verified exact for all 256
    * byte values), the double-fold mean, the aHash bit vote, and the
    * SimHash-style band/pair machinery. */
  def phashOracleSql: String = {
    val px = "list_transform(range(1, 65), i -> CASE WHEN i <= length(text) " +
      "THEN CAST(CAST(unicode(substring(text, CAST(i AS INT), 1)) AS DOUBLE) / 255.0 AS FLOAT) " +
      "ELSE CAST(0.0 AS FLOAT) END)"
    s"""WITH ascii_docs AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE NOT regexp_matches(text, '[^\\x00-\\x7F]')),
       |corpus AS (
       |  SELECT doc_id, text FROM ascii_docs
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'X' || substring(text, 2) AS text
       |  FROM ascii_docs),
       |px AS (SELECT doc_id, $px AS pxl FROM corpus),
       |mh AS (SELECT doc_id, pxl,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(pxl, v -> CAST(v AS DOUBLE))), (a, b) -> a + b) / 64 AS m
       |  FROM px),
       |ah AS (SELECT doc_id, CAST(list_reduce(list_transform(range(1, 64), j ->
       |      CASE WHEN CAST(pxl[CAST(j AS INT)] AS DOUBLE) > m
       |        THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) ELSE CAST(0 AS BIGINT) END),
       |    (a, v) -> a + v) AS BIGINT) AS sh
       |  FROM mh),
       |banded0 AS (
       |  SELECT doc_id, sh, b, (sh >> CAST(b * 16 AS INT)) & 65535 AS band_hash
       |  FROM ah, unnest(range(0, 4)) AS t(b)),
       |banded AS (
       |  SELECT * FROM banded0
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash) <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |    greatest(x.doc_id, y.doc_id) AS doc_b,
       |    CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Unrolls q130's BPE learn loop: per round, adjacent-pair counts over
    * the chr(31)-joined symbol strings, argmax with (count DESC, a, b)
    * ties, then a greedy leftmost-non-overlapping `replace` — identical
    * semantics in both engines. */
  /** Shared CTE prefix replaying `Bpe.wordCounts` + 3 `learnMerges` rounds:
    * defines `wc`, `w0`, and per-round `p{r}`/`b{r}`/`w{r}` — `w3` is the
    * fully-merged word table, `b1..b3` the learned merges. */
  def bpePrefixSql: String = {
    val rounds = (1 to 3).map { r =>
      s"""p$r AS (SELECT sy[i] AS a, sy[i + 1] AS b,
         |    CAST(sum(freq) AS BIGINT) AS pair_count
         |  FROM (SELECT string_split(w, chr(31)) AS sy, freq FROM w${r - 1}) s,
         |    unnest(range(1, len(sy))) t(i)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, pair_count FROM p$r
         |  ORDER BY pair_count DESC, a, b LIMIT 1),
         |w$r AS (SELECT replace(w, a || chr(31) || b, a || b) AS w, freq
         |  FROM w${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""wc AS (SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
       |    FROM documents) u
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY word),
       |w0 AS (SELECT array_to_string(string_split(word, ''), chr(31)) AS w, freq
       |  FROM wc),
       |$rounds""".stripMargin
  }

  /** Replays q205: the q130 learn chain (b1..b3) applied to a PER-LANG
    * word table, then the fertility rollup — tokens/word and
    * chars/token per language. */
  def tokenizerFertilityOracleSql: String =
    s"""WITH $bpePrefixSql,
       |wl AS (SELECT lang, word, count(*) AS freq FROM (
       |    SELECT lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
       |    FROM documents) u
       |  WHERE regexp_matches(word, '^[a-z]+$$') GROUP BY lang, word),
       |a0 AS (SELECT lang, word, freq,
       |    array_to_string(string_split(word, ''), chr(31)) AS w FROM wl),
       |a1 AS (SELECT lang, word, freq,
       |    replace(w, a || chr(31) || b, a || b) AS w FROM a0, b1),
       |a2 AS (SELECT lang, word, freq,
       |    replace(w, a || chr(31) || b, a || b) AS w FROM a1, b2),
       |a3 AS (SELECT lang, word, freq,
       |    replace(w, a || chr(31) || b, a || b) AS w FROM a2, b3),
       |f AS (SELECT lang, freq,
       |    CAST(len(string_split(w, chr(31))) AS INT) AS ntok,
       |    length(word) AS nchr
       |  FROM a3)
       |SELECT lang, CAST(SUM(freq) AS BIGINT) AS n_words,
       |  CAST(SUM(freq * ntok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(freq * nchr) AS BIGINT) AS n_chars,
       |  CAST(SUM(freq * ntok) AS DOUBLE) / SUM(freq) AS tokens_per_word,
       |  CAST(SUM(freq * nchr) AS DOUBLE) / SUM(freq * ntok) AS chars_per_token
       |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  def bpeOracleSql: String = {
    val out = (1 to 3).map(r =>
      s"SELECT CAST($r AS INT) AS rank, a AS sym_a, b AS sym_b, pair_count FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH $bpePrefixSql
       |$out
       |ORDER BY rank""".stripMargin
  }

  /** Replays q133: the merged word table `w3` IS `applyMerges(wc, merges)`
    * (the separator-joined symbol string is a bijection with the word — no
    * two words collapse), so tokenization is just splitting `w3.w`. */
  def bpeEncodeOracleSql: String =
    s"""WITH $bpePrefixSql,
       |tok AS (SELECT unnest(string_split(w, chr(31))) AS token, w, freq
       |  FROM w3)
       |SELECT token, count(DISTINCT w) AS n_words,
       |  CAST(sum(freq) AS BIGINT) AS occurrences
       |FROM tok GROUP BY token
       |ORDER BY occurrences DESC, token LIMIT 20""".stripMargin

  /** Replays q134: the q100 classifier's gram-hash pipeline (ths→grams→
    * scramble) bucketed mod 64; fixed-point importance ratios
    * ((t+1)·10^6 // (r+1)) summed per doc as exact BIGINTs; top-25% by
    * (weight DESC, doc_id) with floor semantics — all integer arithmetic,
    * featureless docs kept at weight 0 via the LEFT JOIN. */
  def dsirOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val mix = graft.plans.HashExpressions.Mix
    val tokenHash = s"(${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}) % $HP"
    s"""WITH ths AS (
       |  SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_t,
       |    list_transform(
       |      list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
       |      t -> $tokenHash) AS th
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, is_t,
       |    (th[CAST(i AS INT) + 1] * $b2 + th[CAST(i AS INT) + 2]) % $HP AS gh
       |  FROM ths, unnest(range(0, greatest(len(th) - 1, 0))) AS u(i)),
       |h0 AS (SELECT doc_id, is_t, (gh * $b1) % $HP AS h FROM grams),
       |h1 AS (SELECT doc_id, is_t, (xor(h, h >> 16) * $mix) % $HP AS h FROM h0),
       |h2 AS (SELECT doc_id, is_t, (xor(h, h >> 13) * $mix) % $HP AS h FROM h1),
       |bks AS (SELECT doc_id, is_t, h % 64 AS b FROM h2),
       |cnt AS (SELECT b, count(*) AS raw_cnt, sum(is_t) AS t_cnt
       |  FROM bks GROUP BY b),
       |rat AS (SELECT b,
       |    CAST(((t_cnt + 1) * 1000000) // (raw_cnt + 1) AS BIGINT) AS r
       |  FROM cnt),
       |dw AS (SELECT doc_id, CAST(count(*) AS INT) AS n_feats,
       |    CAST(sum(r) AS BIGINT) AS weight
       |  FROM bks JOIN rat USING (b) GROUP BY doc_id),
       |alldocs AS (SELECT d.doc_id, coalesce(dw.n_feats, 0) AS n_feats,
       |    CAST(coalesce(dw.weight, 0) AS BIGINT) AS weight
       |  FROM documents d LEFT JOIN dw USING (doc_id)),
       |rk AS (SELECT doc_id, n_feats, weight,
       |    CAST(row_number() OVER (ORDER BY weight DESC, doc_id) AS INT) AS rank,
       |    count(*) OVER () AS total
       |  FROM alldocs)
       |SELECT doc_id, n_feats, weight, rank,
       |  rank * 100 <= total * 25 AS selected
       |FROM rk ORDER BY doc_id""".stripMargin
  }

  /** Replays q386: 12-token pseudo-sentences, the DSIR hashed-bigram
    * bucket space, and the n-cancelled centroid cosine
    * Σcnt·sumcnt / (√Σcnt²·√Σsumcnt²). */
  def extractiveSummaryOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val mix = graft.plans.HashExpressions.Mix
    val tokenHash = s"(${duckPoly("t", b1)} * 2147483648 + ${duckPoly("t", b2)}) % $HP"
    s"""WITH tk AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
       |  FROM documents WHERE doc_id < 200),
       |ln AS (SELECT doc_id, CAST(i AS INT) AS line_idx,
       |    t[(CAST(i AS INT) * 12 + 1):(CAST(i AS INT) * 12 + 12)] AS lt
       |  FROM tk, unnest(range(0, CASE WHEN len(t) = 0 THEN 0
       |    ELSE (len(t) - 1) // 12 + 1 END)) AS u(i)),
       |th AS (SELECT doc_id, line_idx,
       |    list_transform(lt, t -> $tokenHash) AS hs FROM ln),
       |g AS (SELECT doc_id, line_idx,
       |    (hs[CAST(j AS INT)] * $b2 + hs[CAST(j AS INT) + 1]) % $HP AS gh
       |  FROM th, unnest(range(1, len(hs))) AS v(j)),
       |h0 AS (SELECT doc_id, line_idx, (gh * $b1) % $HP AS h FROM g),
       |h1 AS (SELECT doc_id, line_idx,
       |    (xor(h, h >> 16) * $mix) % $HP AS h FROM h0),
       |h2 AS (SELECT doc_id, line_idx,
       |    (xor(h, h >> 13) * $mix) % $HP AS h FROM h1),
       |bk AS (SELECT doc_id, line_idx, h % 64 AS b FROM h2),
       |sct AS (SELECT doc_id, line_idx, b, count(*) AS cnt
       |  FROM bk GROUP BY doc_id, line_idx, b),
       |ctr AS (SELECT doc_id, b, CAST(SUM(cnt) AS BIGINT) AS sumcnt
       |  FROM sct GROUP BY doc_id, b),
       |dt AS (SELECT s.doc_id, s.line_idx,
       |    CAST(SUM(s.cnt * c.sumcnt) AS BIGINT) AS dot,
       |    CAST(SUM(s.cnt * s.cnt) AS BIGINT) AS ss,
       |    CAST(SUM(s.cnt) AS BIGINT) AS n_grams
       |  FROM sct s JOIN ctr c USING (doc_id, b)
       |  GROUP BY s.doc_id, s.line_idx),
       |cs AS (SELECT doc_id, CAST(SUM(sumcnt * sumcnt) AS BIGINT) AS cc
       |  FROM ctr GROUP BY doc_id),
       |sc AS (SELECT dt.doc_id, dt.line_idx, dt.n_grams,
       |    CAST(dot AS DOUBLE) /
       |      (sqrt(CAST(ss AS DOUBLE)) * sqrt(CAST(cs.cc AS DOUBLE))) AS score
       |  FROM dt JOIN cs USING (doc_id) WHERE ss > 0 AND cs.cc > 0),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, line_idx) AS rank FROM sc),
       |txt AS (SELECT doc_id, line_idx, array_to_string(lt, ' ') AS line
       |  FROM ln)
       |SELECT r.doc_id, CAST(r.rank AS INT) AS rank, r.line_idx,
       |  r.n_grams, round(r.score, 6) AS score, t.line
       |FROM rk r JOIN txt t USING (doc_id, line_idx)
       |WHERE r.rank <= 2 ORDER BY doc_id, rank""".stripMargin
  }

  /** Replays q389: the q159 bin CTE, then iso(i) = max_{j≤i} min_{k≥i}
    * of the pooled rate over [j,k] — range sums as prefix-sum
    * differences, each avg ONE double division. */
  def isotonicOracleSql: String =
    s"""$scoredMarginCtes,
       |bn AS (SELECT CAST(least(greatest(
       |      CAST(floor((margin + 0.5) * 10) AS INT), 0), 9) AS INT) AS bin,
       |    count(*) AS n,
       |    CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pos
       |  FROM scored GROUP BY 1),
       |cumt AS (SELECT bin, n, pos,
       |    SUM(n) OVER (ORDER BY bin) AS cn,
       |    SUM(pos) OVER (ORDER BY bin) AS cp FROM bn),
       |jx AS (SELECT bin AS j, cn - n AS cnj, cp - pos AS cpj FROM cumt),
       |kx AS (SELECT bin AS k, cn AS cnk, cp AS cpk FROM cumt),
       |rg AS (SELECT j, k,
       |    CAST(cpk - cpj AS DOUBLE) / (cnk - cnj) AS avg
       |  FROM jx JOIN kx ON j <= k),
       |mn AS (SELECT b.bin AS i, rg.j, min(avg) AS minavg
       |  FROM bn b JOIN rg ON rg.j <= b.bin AND b.bin <= rg.k
       |  GROUP BY b.bin, rg.j),
       |iso AS (SELECT i, max(minavg) AS iso FROM mn GROUP BY i)
       |SELECT b.bin, b.n, b.pos AS n_pos,
       |  CAST(b.pos AS DOUBLE) / b.n AS frac_pos, round(iso.iso, 6) AS iso
       |FROM bn b JOIN iso ON b.bin = iso.i ORDER BY bin""".stripMargin

  /** Replays q390: ring positions keyHash(node·131 + v), assignment by
    * min cyclic distance (tie → node id), for 4 and 5 nodes. */
  def ringOracleSql: String = {
    val mix = graft.plans.HashExpressions.Mix
    val b1 = graft.plans.HashExpressions.PolyBase1
    def positions(n: Int, name: String): String =
      s"""${name}0 AS (SELECT m, ((m * 131 + v) * $b1) % $HP AS h
         |  FROM range(0, $n) t(m), range(0, 8) u(v)),
         |${name}1 AS (SELECT m, (xor(h, h >> 16) * $mix) % $HP AS h FROM ${name}0),
         |${name}p AS (SELECT m, (xor(h, h >> 13) * $mix) % $HP AS h FROM ${name}1)""".stripMargin
    def assign(posCte: String, name: String): String =
      s"""$name AS (SELECT doc_id, m AS node FROM (
         |    SELECT k.doc_id, p.m,
         |      row_number() OVER (PARTITION BY k.doc_id
         |        ORDER BY ((p.h - k.kp) % $HP + $HP) % $HP, p.m) AS rn
         |    FROM ks k, $posCte p) WHERE rn = 1)""".stripMargin
    s"""WITH k0 AS (SELECT doc_id, (doc_id * $b1) % $HP AS h FROM documents),
       |k1 AS (SELECT doc_id, (xor(h, h >> 16) * $mix) % $HP AS h FROM k0),
       |ks AS (SELECT doc_id, (xor(h, h >> 13) * $mix) % $HP AS kp FROM k1),
       |${positions(4, "pa")},
       |${positions(5, "pb")},
       |${assign("pap", "a4")},
       |${assign("pbp", "a5")}
       |SELECT CAST(a4.node AS INT) AS node,
       |  CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(SUM(CASE WHEN a4.node <> a5.node THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_moved,
       |  CAST(SUM(CASE WHEN a4.node <> a5.node THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS moved_frac
       |FROM a4 JOIN a5 USING (doc_id)
       |GROUP BY a4.node ORDER BY node""".stripMargin
  }

  /** Replays q399: ONE joint cube over the 4 label columns, then each
    * pair's contingency/margins/χ² derived from the cube; per-cell
    * n²/(r·c) doubles decimal-accumulate. */
  def cramersVOracleSql: String = {
    val cols = Seq("l_returnflag" -> "a1", "l_linestatus" -> "a2",
      "l_linenumber" -> "a3", "l_quantity" -> "a4")
    def pairBlock(a: (String, String), b: (String, String)): String =
      s"""SELECT '${a._1}' AS col_a, '${b._1}' AS col_b, n, r, c,
         |  round(n * e, 6) AS chi2,
         |  CASE WHEN least(r - 1, c - 1) > 0
         |    THEN round(sqrt(e / least(r - 1, c - 1)), 6) END AS cramers_v
         |FROM (
         |  SELECT n, r, c,
         |    greatest(CAST(0.0 AS DOUBLE), s - 1.0) AS e
         |  FROM (
         |    SELECT CAST(SUM(n_ab) AS BIGINT) AS n,
         |      CAST(COUNT(DISTINCT x) AS BIGINT) AS r,
         |      CAST(COUNT(DISTINCT y) AS BIGINT) AS c,
         |      CAST(SUM(CAST(CAST(n_ab * n_ab AS DOUBLE) / (ra * cb)
         |        AS DECIMAL(38,18))) AS DOUBLE) AS s
         |    FROM (
         |      SELECT x, y, n_ab,
         |        CAST(SUM(n_ab) OVER (PARTITION BY x) AS BIGINT) AS ra,
         |        CAST(SUM(n_ab) OVER (PARTITION BY y) AS BIGINT) AS cb
         |      FROM (SELECT ${a._2} AS x, ${b._2} AS y,
         |          CAST(SUM(nn) AS BIGINT) AS n_ab
         |        FROM cube0 GROUP BY 1, 2))))""".stripMargin
    val blocks = (for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield pairBlock(cols(i), cols(j))).mkString("\nUNION ALL\n")
    s"""WITH cube0 AS (SELECT ${cols.map { case (c, al) => s"$c AS $al" }
        .mkString(", ")},
       |    CAST(count(*) AS BIGINT) AS nn
       |  FROM lineitem GROUP BY 1, 2, 3, 4)
       |$blocks
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Shared CTE chain for q401/q402: the q350 deterministic permutation
    * machinery, grouped by event type; `pg` holds one row per group
    * with the exact (n_extreme, n_perms) rational p-value. */
  def permByGroupCtes: String = {
    val mix = graft.plans.HashExpressions.Mix
    val b1 = graft.plans.HashExpressions.PolyBase1
    s"""WITH pe AS (SELECT event_type AS g, user_id,
       |    CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL),
       |h0 AS (SELECT g, v, (user_id * $b1) % $HP AS h FROM pe),
       |h1 AS (SELECT g, v, (xor(h, h >> 16) * $mix) % $HP AS h FROM h0),
       |h2 AS (SELECT g, v, (xor(h, h >> 13) * $mix) % $HP AS h FROM h1),
       |ex AS (SELECT g, v, i AS k,
       |    ((h + i * $mix) % $HP) % 2 = 0 AS arm
       |  FROM h2, unnest(range(0, 65)) AS u(i)),
       |byk AS (SELECT g, k,
       |    SUM(CASE WHEN arm THEN CAST(v AS DECIMAL(38,0)) END) AS svt,
       |    CAST(SUM(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |    SUM(CASE WHEN NOT arm THEN CAST(v AS DECIMAL(38,0)) END) AS svc,
       |    CAST(SUM(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS nc
       |  FROM ex GROUP BY g, k),
       |dd AS (SELECT g, k,
       |    CAST(svt AS DOUBLE) / nt - CAST(svc AS DOUBLE) / nc AS diff
       |  FROM byk WHERE nt > 0 AND nc > 0),
       |oo AS (SELECT g, diff AS d0 FROM dd WHERE k = 0),
       |pg AS (SELECT dd.g, round(max(d0), 6) AS diff_obs,
       |    count(*) AS n_perms,
       |    CAST(SUM(CASE WHEN abs(diff) >= abs(d0) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_extreme,
       |    round(CAST(SUM(CASE WHEN abs(diff) >= abs(d0) THEN 1 ELSE 0
       |      END) + 1 AS DOUBLE) / (count(*) + 1), 6) AS p_value
       |  FROM dd JOIN oo ON dd.g = oo.g WHERE k > 0 GROUP BY dd.g)"""
      .stripMargin
  }

  /** Replays q403: the q159 bin CTE → bin-midpoint frame, then 12
    * unrolled gradient steps; every step's sums decimal-accumulate and
    * the algebraic sigmoid keeps the tree libm-free. */
  def sigmoidCalibrationOracleSql: String = {
    def sig(a: String, b: String): String =
      s"(0.5 + 0.5 * ($a * x + $b) / (1.0 + abs($a * x + $b)) - pi)"
    def ds(a: String, b: String): String =
      s"(0.5 / ((1.0 + abs($a * x + $b)) * (1.0 + abs($a * x + $b))))"
    def stepCte(k: Int): String = {
      val (a, b) = ("a", "b")
      s"""it$k AS (SELECT
         |  max(a) - 2.0 * (CAST(SUM(CAST(n * 2.0 * ${sig(a, b)} *
         |    ${ds(a, b)} * x AS DECIMAL(38,18))) AS DOUBLE) / SUM(n)) AS a,
         |  max(b) - 2.0 * (CAST(SUM(CAST(n * 2.0 * ${sig(a, b)} *
         |    ${ds(a, b)} AS DECIMAL(38,18))) AS DOUBLE) / SUM(n)) AS b
         |  FROM xb, it${k - 1})""".stripMargin
    }
    def mse(a: String, b: String): String =
      s"""round(CAST(SUM(CAST(n * ${sig(a, b)} * ${sig(a, b)}
         |    AS DECIMAL(38,18))) AS DOUBLE) / SUM(n), 9)""".stripMargin
    s"""$scoredMarginCtes,
       |bn AS (SELECT CAST(least(greatest(
       |      CAST(floor((margin + 0.5) * 10) AS INT), 0), 9) AS INT) AS bin,
       |    count(*) AS n,
       |    CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
       |      AS pos
       |  FROM scored GROUP BY 1),
       |xb AS (SELECT (CAST(bin AS DOUBLE) + 0.5) / 10.0 - 0.5 AS x,
       |    CAST(n AS BIGINT) AS n, CAST(pos AS DOUBLE) / n AS pi
       |  FROM bn),
       |it0 AS (SELECT CAST(1.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS b),
       |${(1 to 12).map(stepCte).mkString(",\n")}
       |SELECT CAST(count(*) AS BIGINT) AS n_bins,
       |  CAST(SUM(n) AS BIGINT) AS n,
       |  round(max(a), 9) AS a, round(max(b), 9) AS b,
       |  ${mse("1.0", "0.0")} AS mse_before,
       |  ${mse("a", "b")} AS mse_after
       |FROM xb, it12""".stripMargin
  }

  /** Replays q404: the q255 skip audit plus the Hilbert layout — the
    * 4 rotation levels unrolled as chained SELECTs with per-step
    * column names (x3..x0) so no lateral-alias resolution ambiguity. */
  def hilbertSkippingOracleSql: String = {
    def step(i: Int): String = {
      val s = 1L << i
      val p = i + 1
      val rx = s"(CASE WHEN (x$p & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y$p & $s) > 0 THEN 1 ELSE 0 END)"
      s"""h$i AS (SELECT px, sy, l_orderkey, l_linenumber,
         |  d$p + ${s * s} * xor(3 * $rx, $ry) AS d$i,
         |  CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1
         |    THEN ${s - 1} - y$p ELSE y$p END ELSE x$p END AS x$i,
         |  CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1
         |    THEN ${s - 1} - x$p ELSE x$p END ELSE y$p END AS y$i
         |  FROM h$p)""".stripMargin
    }
    s"""WITH b AS (SELECT l_partkey % 16 AS px, l_suppkey % 16 AS sy,
       |    l_orderkey, l_linenumber FROM lineitem),
       |lx AS (SELECT px, sy, (row_number() OVER (ORDER BY px, sy,
       |    l_orderkey, l_linenumber) - 1) // 200 AS f FROM b),
       |lf AS (SELECT f, min(px) AS xmn, max(px) AS xmx, min(sy) AS ymn,
       |    max(sy) AS ymx, count(*) AS nr FROM lx GROUP BY f),
       |zb AS (SELECT px, sy, l_orderkey, l_linenumber,
       |    list_sum(list_transform(range(0, 4),
       |      i -> (((px >> i) & 1) << (2*i)) +
       |        (((sy >> i) & 1) << (2*i+1)))) AS zv FROM b),
       |zx AS (SELECT px, sy, (row_number() OVER (ORDER BY zv,
       |    l_orderkey, l_linenumber) - 1) // 200 AS f FROM zb),
       |zf AS (SELECT f, min(px) AS xmn, max(px) AS xmx, min(sy) AS ymn,
       |    max(sy) AS ymx, count(*) AS nr FROM zx GROUP BY f),
       |h4 AS (SELECT px, sy, l_orderkey, l_linenumber,
       |    CAST(0 AS BIGINT) AS d4, CAST(px AS BIGINT) AS x4,
       |    CAST(sy AS BIGINT) AS y4 FROM b),
       |${(3 to 0 by -1).map(step).mkString(",\n")},
       |hx AS (SELECT px, sy, (row_number() OVER (ORDER BY d0,
       |    l_orderkey, l_linenumber) - 1) // 200 AS f FROM h0),
       |hf AS (SELECT f, min(px) AS xmn, max(px) AS xmx, min(sy) AS ymn,
       |    max(sy) AS ymx, count(*) AS nr FROM hx GROUP BY f),
       |u AS (SELECT 'x_then_y' AS layout, xmn, xmx, ymn, ymx, nr FROM lf
       |  UNION ALL SELECT 'zorder', xmn, xmx, ymn, ymx, nr FROM zf
       |  UNION ALL SELECT 'hilbert', xmn, xmx, ymn, ymx, nr FROM hf),
       |sk AS (SELECT layout, nr,
       |    xmx < 4 OR xmn > 7 OR ymx < 8 OR ymn > 11 AS s
       |  FROM u)
       |SELECT layout, count(*) AS n_files,
       |  CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_skippable,
       |  CAST(SUM(CASE WHEN s THEN nr ELSE 0 END) AS BIGINT)
       |    AS rows_skipped,
       |  CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
       |    AS file_skip_frac
       |FROM sk GROUP BY layout ORDER BY layout""".stripMargin
  }

  /** Replays q407: the UCB1 fold as a recursive CTE — pick computed
    * once in a subquery per step (forced arms days 1-3, then argmax of
    * mean + sqrt(2·⌊log2 T⌋/n), ties to the smaller arm). */
  def ucb1OracleSql: String = {
    def u(s: String, n: String): String =
      s"(it.$s / it.$n + sqrt(CAST(2.0 AS DOUBLE) * " +
        s"(length(bin(it.t)) - 1) / it.$n))"
    val pick =
      s"""CASE WHEN it.t + 1 = 2 THEN 1 WHEN it.t + 1 = 3 THEN 2
         |  WHEN ${u("s0", "n0")} >= ${u("s1", "n1")}
         |    AND ${u("s0", "n0")} >= ${u("s2", "n2")} THEN 0
         |  WHEN ${u("s1", "n1")} >= ${u("s2", "n2")} THEN 1
         |  ELSE 2 END""".stripMargin
    s"""WITH RECURSIVE pe AS (SELECT event_type AS g,
       |    CAST(ts AS DATE) AS day, user_id % 3 AS arm,
       |    CAST(round(value * 100) AS BIGINT) AS v
       |  FROM events WHERE value IS NOT NULL),
       |ba AS (SELECT g, day, arm, CAST(SUM(v) AS BIGINT) AS sv,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM pe GROUP BY 1, 2, 3),
       |wd AS (SELECT g, day,
       |    CAST(SUM(CASE WHEN arm = 0 THEN sv END) AS BIGINT) AS sv0,
       |    CAST(SUM(CASE WHEN arm = 0 THEN cnt END) AS BIGINT) AS c0,
       |    CAST(SUM(CASE WHEN arm = 1 THEN sv END) AS BIGINT) AS sv1,
       |    CAST(SUM(CASE WHEN arm = 1 THEN cnt END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN arm = 2 THEN sv END) AS BIGINT) AS sv2,
       |    CAST(SUM(CASE WHEN arm = 2 THEN cnt END) AS BIGINT) AS c2
       |  FROM ba GROUP BY 1, 2),
       |rr AS (SELECT g,
       |    CAST(row_number() OVER (PARTITION BY g ORDER BY day)
       |      AS BIGINT) AS t,
       |    CASE WHEN c0 > 0 THEN CAST(sv0 AS DOUBLE) / c0 / 10000.0
       |      ELSE 0.0 END AS r0,
       |    CASE WHEN c1 > 0 THEN CAST(sv1 AS DOUBLE) / c1 / 10000.0
       |      ELSE 0.0 END AS r1,
       |    CASE WHEN c2 > 0 THEN CAST(sv2 AS DOUBLE) / c2 / 10000.0
       |      ELSE 0.0 END AS r2
       |  FROM wd),
       |tots AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(SUM(CAST(r0 AS DECIMAL(38,18))) AS DOUBLE) AS tot0,
       |    CAST(SUM(CAST(r1 AS DECIMAL(38,18))) AS DOUBLE) AS tot1,
       |    CAST(SUM(CAST(r2 AS DECIMAL(38,18))) AS DOUBLE) AS tot2
       |  FROM rr GROUP BY g),
       |it AS (
       |  SELECT g, CAST(1 AS BIGINT) AS t, CAST(1 AS BIGINT) AS n0,
       |    r0 AS s0, CAST(0 AS BIGINT) AS n1, CAST(0.0 AS DOUBLE) AS s1,
       |    CAST(0 AS BIGINT) AS n2, CAST(0.0 AS DOUBLE) AS s2, r0 AS cum
       |  FROM rr WHERE t = 1
       |  UNION ALL
       |  SELECT z.g, z.t + 1,
       |    z.n0 + CASE WHEN z.pick = 0 THEN 1 ELSE 0 END,
       |    z.s0 + CASE WHEN z.pick = 0 THEN z.r0 ELSE 0.0 END,
       |    z.n1 + CASE WHEN z.pick = 1 THEN 1 ELSE 0 END,
       |    z.s1 + CASE WHEN z.pick = 1 THEN z.r1 ELSE 0.0 END,
       |    z.n2 + CASE WHEN z.pick = 2 THEN 1 ELSE 0 END,
       |    z.s2 + CASE WHEN z.pick = 2 THEN z.r2 ELSE 0.0 END,
       |    z.cum + CASE WHEN z.pick = 0 THEN z.r0
       |      WHEN z.pick = 1 THEN z.r1 ELSE z.r2 END
       |  FROM (SELECT it.g, it.t, it.n0, it.s0, it.n1, it.s1, it.n2,
       |      it.s2, it.cum, rr.r0, rr.r1, rr.r2, $pick AS pick
       |    FROM it JOIN rr ON rr.g = it.g AND rr.t = it.t + 1) z)
       |SELECT it.g AS event_type, tots.n_days,
       |  it.n0 AS n_pulls_0, it.n1 AS n_pulls_1, it.n2 AS n_pulls_2,
       |  round(it.cum, 6) AS cum_reward,
       |  round(greatest(tot0, tot1, tot2), 6) AS best_fixed,
       |  round(greatest(tot0, tot1, tot2) - it.cum, 6) AS regret
       |FROM it JOIN tots ON it.g = tots.g
       |WHERE it.t = tots.n_days ORDER BY event_type""".stripMargin
  }

  /** Replays q418: the kNN edge prefix symmetrized, two bounded-walk
    * UNION recursions (dedup keeps them n·maxHops-sized; min depth =
    * BFS distance), farthest = (max d, min node). */
  def diameterSweepOracleSql: String = {
    def walk(name: String, seed: String): String =
      s"""$name AS ($seed
         |  UNION
         |  SELECT und.b, $name.d + 1 FROM $name
         |  JOIN und ON und.a = $name.node WHERE $name.d < 8),
         |d_$name AS (SELECT node, CAST(min(d) AS INT) AS d FROM $name
         |  GROUP BY node),
         |s_$name AS (SELECT CAST(count(*) AS BIGINT) AS n_reached,
         |  max(d) AS ecc FROM d_$name),
         |f_$name AS (SELECT node FROM d_$name, s_$name WHERE d = ecc
         |  ORDER BY node LIMIT 1)""".stripMargin
    s"""${knnEdgesPrefixSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |und AS (SELECT id AS a, nbr_id AS b FROM g0
       |  UNION SELECT nbr_id, id FROM g0),
       |${walk("w1", "SELECT CAST(0 AS BIGINT) AS node, 0 AS d")},
       |${walk("w2", "SELECT node, 0 AS d FROM f_w1")}
       |SELECT CAST(1 AS INT) AS sweep, CAST(0 AS BIGINT) AS source,
       |  f_w1.node AS farthest, s_w1.ecc, s_w1.n_reached
       |FROM f_w1, s_w1
       |UNION ALL
       |SELECT CAST(2 AS INT), f_w1.node, f_w2.node, s_w2.ecc,
       |  s_w2.n_reached
       |FROM f_w1, f_w2, s_w2
       |ORDER BY sweep""".stripMargin
  }

  /** Replays q419: symmetrized kNN edges, degree colors, 3 WL rounds
    * via the scalar polynomial fold (list_reduce-safe), per-round
    * color-class curve. */
  def wlRefinementOracleSql: String = {
    val b1 = graft.plans.HashExpressions.PolyBase1
    def round(r: Int): String =
      s"""c$r AS (SELECT z.id, list_reduce(list_prepend(o.color, z.ns),
         |    (a, x) -> (a * $b1 + x) % $HP) AS color
         |  FROM (SELECT und.a AS id, list(cp.color ORDER BY cp.color)
         |      AS ns
         |    FROM und JOIN c${r - 1} cp ON und.b = cp.id
         |    GROUP BY und.a) z
         |  JOIN c${r - 1} o ON z.id = o.id)""".stripMargin
    def summary(r: Int): String =
      s"""s$r AS (SELECT CAST($r AS INT) AS round,
         |  CAST(count(*) AS BIGINT) AS n_colors,
         |  CAST(max(n) AS BIGINT) AS largest_class,
         |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS singletons
         |  FROM (SELECT color, count(*) AS n FROM c$r GROUP BY color))"""
        .stripMargin
    s"""$knnEdgesPrefixSql,
       |und AS (SELECT id AS a, nbr_id AS b FROM g0
       |  UNION SELECT nbr_id, id FROM g0),
       |c0 AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS color
       |  FROM und GROUP BY a),
       |${(1 to 3).map(round).mkString(",\n")},
       |${(0 to 3).map(summary).mkString(",\n")}
       |SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
       |ORDER BY round""".stripMargin
  }

  /** The q422/q428 Brandes CTE chain for one source, all CTE names
    * suffixed: forward BFS levels with exact σ path counts, then the
    * per-level dependency backprop. Ends with `allc$sfx` and
    * `info$sfx`. */
  def brandesChainSql(sfx: String, source: Long,
                              maxD: Int): String = {
    def fwd(h: Int): String =
      s"""l$h$sfx AS MATERIALIZED (SELECT und.b AS node, $h AS dist,
         |    CAST(SUM(l${h - 1}$sfx.sigma) AS BIGINT) AS sigma
         |  FROM l${h - 1}$sfx JOIN und ON und.a = l${h - 1}$sfx.node
         |  WHERE und.b NOT IN (SELECT node FROM v${h - 1}$sfx)
         |  GROUP BY und.b),
         |v$h$sfx AS MATERIALIZED (SELECT node FROM v${h - 1}$sfx
         |  UNION SELECT node FROM l$h$sfx)""".stripMargin
    def bwd(h: Int): String =
      s"""d$h$sfx AS MATERIALIZED (SELECT lh.node,
         |    coalesce(f.dd, CAST(0.0 AS DOUBLE)) AS delta
         |  FROM (SELECT node, sigma FROM info$sfx WHERE dist = $h) lh
         |  LEFT JOIN (
         |    SELECT u.node, CAST(SUM(CAST(
         |        (CAST(u.sigma AS DOUBLE) / x.sv) * (1.0 + x.dv)
         |        AS DECIMAL(38,18))) AS DOUBLE) AS dd
         |    FROM (SELECT node, sigma FROM info$sfx WHERE dist = $h) u
         |    JOIN und ON und.a = u.node
         |    JOIN (SELECT i.node AS b, i.sigma AS sv, dd0.delta AS dv
         |        FROM info$sfx i JOIN d${h + 1}$sfx dd0
         |          ON i.node = dd0.node
         |        WHERE i.dist = ${h + 1}) x ON und.b = x.b
         |    GROUP BY u.node) f ON lh.node = f.node)""".stripMargin
    s"""l0$sfx AS MATERIALIZED (SELECT CAST($source AS BIGINT) AS node,
       |  0 AS dist, CAST(1 AS BIGINT) AS sigma),
       |v0$sfx AS (SELECT node FROM l0$sfx),
       |${(1 to maxD).map(fwd).mkString(",\n")},
       |info$sfx AS MATERIALIZED (${(0 to maxD)
        .map(h => s"SELECT * FROM l$h$sfx").mkString("\n  UNION ALL ")}),
       |d$maxD$sfx AS (SELECT node, CAST(0.0 AS DOUBLE) AS delta
       |  FROM l$maxD$sfx),
       |${((maxD - 1) to 0 by -1).map(bwd).mkString(",\n")},
       |allc$sfx AS (${(0 to maxD).map(h => s"SELECT * FROM d$h$sfx")
        .mkString("\n  UNION ALL ")})""".stripMargin
  }

  /** Replays q422: one Brandes chain from source 0, top-20 by δ. */
  def brandesOracleSql: String =
    s"""$knnEdgesPrefixSql,
       |und AS MATERIALIZED (SELECT id AS a, nbr_id AS b FROM g0
       |  UNION SELECT nbr_id, id FROM g0),
       |${brandesChainSql("", 0L, 6)}
       |SELECT CAST(rk AS INT) AS rank, node, dist, sigma,
       |  round(delta, 6) AS delta
       |FROM (SELECT info.node, dist, sigma, delta,
       |    row_number() OVER (ORDER BY delta DESC, info.node) AS rk
       |  FROM info JOIN allc ON info.node = allc.node)
       |WHERE rk <= 20 ORDER BY rank""".stripMargin

  /** Replays q428: three Brandes chains, per-node decimal-mean over
    * the FIXED pivot count, top-20. */
  def sampledBetweennessOracleSql: String = {
    val sources = Seq(0L, 7L, 13L)
    val chains = sources.zipWithIndex
      .map { case (s, i) => brandesChainSql(s"s$i", s, 6) }
      .mkString(",\n")
    val unionAll = sources.indices
      .map(i => s"SELECT node, delta FROM allcs$i")
      .mkString("\n  UNION ALL ")
    s"""$knnEdgesPrefixSql,
       |und AS MATERIALIZED (SELECT id AS a, nbr_id AS b FROM g0
       |  UNION SELECT nbr_id, id FROM g0),
       |$chains,
       |alls AS ($unionAll),
       |ag AS (SELECT node, CAST(count(*) AS BIGINT) AS n_sources_reached,
       |    CAST(SUM(CAST(delta AS DECIMAL(38,18))) AS DOUBLE) /
       |      ${sources.size} AS mean_delta
       |  FROM alls GROUP BY node)
       |SELECT CAST(rk AS INT) AS rank, node, n_sources_reached,
       |  round(mean_delta, 6) AS mean_delta
       |FROM (SELECT *, row_number() OVER (ORDER BY mean_delta DESC,
       |    node) AS rk FROM ag)
       |WHERE rk <= 20 ORDER BY rank""".stripMargin
  }

  /** Replays q425: the q109 lex/dense/fused chain, both top-10 ranks,
    * RBO via the same coefficient literals computed here. */
  def rboOracleSql: String = {
    val depth = 10; val p = 0.9
    val coef = (1 to depth).map { m =>
      m -> (m to depth).map(d => (1 - p) * math.pow(p, d - 1) / d).sum
    }
    val cases = coef.map { case (m, c) =>
      s"WHEN $m THEN CAST($c AS DOUBLE)"
    }.mkString("\n    ")
    s"""WITH lexbase AS ($bm25OracleSql),
       |lex AS (SELECT id, CAST(row_number() OVER (ORDER BY score DESC,
       |    id) AS INT) AS rank FROM lexbase),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
       |  WHERE vec_id = 0),
       |dense AS (SELECT vec_id AS id, rank FROM (
       |    SELECT e.vec_id,
       |      CAST(row_number() OVER (ORDER BY
       |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |          qv), e.vec_id) AS INT) AS rank
       |    FROM embeddings e, q) WHERE rank <= 20),
       |u AS (SELECT id, 1.0 / (60 + rank) AS contrib FROM lex
       |  UNION ALL SELECT id, 1.0 / (60 + rank) FROM dense),
       |fused AS (SELECT id,
       |    CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE)
       |      AS rrf_score
       |  FROM u GROUP BY id ORDER BY rrf_score DESC, id LIMIT 10),
       |l2 AS (SELECT id, CAST(row_number() OVER (ORDER BY rrf_score
       |    DESC, id) AS INT) AS rank FROM fused),
       |jm AS (SELECT CASE greatest(l1.rank, l2.rank)
       |    $cases
       |    END AS cc
       |  FROM (SELECT id, rank FROM lex WHERE rank <= $depth) l1
       |  JOIN (SELECT id, rank FROM l2 WHERE rank <= $depth) l2
       |    ON l1.id = l2.id)
       |SELECT CAST($depth AS INT) AS depth,
       |  CAST(count(*) AS BIGINT) AS n_common,
       |  round(CAST(coalesce(SUM(CAST(cc AS DECIMAL(38,18))),
       |    CAST(0 AS DECIMAL(38,18))) AS DOUBLE), 9) AS rbo_trunc,
       |  round(CAST(coalesce(SUM(CAST(cc AS DECIMAL(38,18))),
       |    CAST(0 AS DECIMAL(38,18))) AS DOUBLE) +
       |    CAST(${math.pow(p, depth)} AS DOUBLE), 9) AS rbo_max
       |FROM jm""".stripMargin
  }

  /** Replays q426: key-level count tables per side, exact cardinality
    * as Σ cntA·cntB, uniform-NDV estimate and q-error. */
  def joinCardinalityOracleSql: String = {
    val joins = Seq(("orders_customer", "orders", "o_custkey",
      "customer", "c_custkey"),
      ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem_orders", "lineitem", "l_orderkey", "orders",
        "o_orderkey"))
    joins.map { case (label, ta, ka, tb, kb) =>
      s"""SELECT '$label' AS join_label, na, nb, ndva, ndvb,
         |  round(CAST(na AS DOUBLE) * nb / greatest(ndva, ndvb), 3)
         |    AS est_rows,
         |  CAST(actual AS BIGINT) AS actual_rows,
         |  round(CASE WHEN CAST(actual AS DOUBLE) > 0 THEN greatest(
         |    CAST(na AS DOUBLE) * nb / greatest(ndva, ndvb) /
         |      CAST(actual AS DOUBLE),
         |    CAST(actual AS DOUBLE) /
         |      (CAST(na AS DOUBLE) * nb / greatest(ndva, ndvb))) END, 6)
         |    AS q_error
         |FROM (
         |  SELECT CAST(SUM(cA) AS BIGINT) AS na,
         |    CAST(count(*) AS BIGINT) AS ndva
         |  FROM (SELECT $ka, count(*) AS cA FROM $ta GROUP BY $ka)),
         |  (SELECT CAST(SUM(cB) AS BIGINT) AS nb,
         |    CAST(count(*) AS BIGINT) AS ndvb
         |  FROM (SELECT $kb, count(*) AS cB FROM $tb GROUP BY $kb)),
         |  (SELECT coalesce(SUM(CAST(cA AS HUGEINT) * cB),
         |      CAST(0 AS HUGEINT)) AS actual
         |  FROM (SELECT $ka AS k, count(*) AS cA FROM $ta GROUP BY $ka) x
         |  JOIN (SELECT $kb AS k, count(*) AS cB FROM $tb GROUP BY $kb) y
         |    ON x.k = y.k)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY join_label"
  }

  /** Replays q427: the scrambled-hash position family, distinct
    * position set, exploded probe join, all-k membership count. */
  def bloomFprOracleSql: String = {
    val mix = graft.plans.HashExpressions.Mix
    val b1 = graft.plans.HashExpressions.PolyBase1
    val m = 65536; val k = 3
    def hashChain(src: String): String =
      s"""h0 AS (SELECT k, (k * $b1) % $HP AS h FROM $src),
         |h1 AS (SELECT k, (xor(h, h >> 16) * $mix) % $HP AS h FROM h0),
         |h2 AS (SELECT k, (xor(h, h >> 13) * $mix) % $HP AS h FROM h1)"""
        .stripMargin
    s"""WITH mem AS (SELECT DISTINCT o_orderkey AS k FROM orders
       |  WHERE o_orderkey % 7 = 0),
       |prb AS (SELECT DISTINCT o_orderkey AS k FROM orders
       |  WHERE o_orderkey % 7 <> 0),
       |allk AS (SELECT k FROM mem UNION ALL SELECT k FROM prb),
       |${hashChain("allk")},
       |pos AS (SELECT k, ((h + i * $mix) % $HP) % $m AS pos
       |  FROM h2, unnest(range(0, $k)) AS u(i)),
       |pset AS (SELECT DISTINCT pos FROM pos
       |  WHERE k IN (SELECT k FROM mem)),
       |bits AS (SELECT CAST(count(*) AS BIGINT) AS bits_set FROM pset),
       |fp AS (SELECT CAST(count(*) AS BIGINT) AS n_false_pos FROM (
       |    SELECT p.k FROM pos p JOIN pset USING (pos)
       |    WHERE p.k IN (SELECT k FROM prb)
       |    GROUP BY p.k HAVING count(*) = $k)),
       |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_members FROM mem),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM prb)
       |SELECT n_members, CAST($m AS INT) AS m_bits,
       |  CAST($k AS INT) AS k_hashes, bits_set,
       |  round(CAST(bits_set AS DOUBLE) / $m, 6) AS fill_ratio,
       |  n_probes, n_false_pos,
       |  round(CAST(n_false_pos AS DOUBLE) / n_probes, 6) AS fpr,
       |  round(CAST(bits_set AS DOUBLE) / $m *
       |    (CAST(bits_set AS DOUBLE) / $m) *
       |    (CAST(bits_set AS DOUBLE) / $m), 6) AS theo_fpr
       |FROM nm, bits, np, fp""".stripMargin
  }

  /** Replays q420: the q20 signature chain over the 3-variant corpus,
    * wedge join on the symmetrized adjacency, left-join closure. */
  def matchTransitivityOracleSql: String = {
    val corpus3 =
      """SELECT doc_id, text FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id,
        |  substring(text, 1, greatest(length(text) - 7, 1)) AS text
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 2000000 AS doc_id,
        |  substring(text, 1, greatest(length(text) - 14, 1)) AS text
        |FROM documents""".stripMargin
    s"""WITH ${minhashPairCtesFor(corpus3)},
       |e AS (SELECT DISTINCT doc_a AS lo, doc_b AS hi FROM pairs
       |  WHERE est_jaccard >= 0.8),
       |adj AS (SELECT lo AS m, hi AS x FROM e
       |  UNION ALL SELECT hi, lo FROM e),
       |wd AS (SELECT l.x AS x, r.x AS y FROM adj l JOIN adj r
       |  ON l.m = r.m WHERE l.x < r.x),
       |cl AS (SELECT wd.x, wd.y,
       |    CASE WHEN e.lo IS NOT NULL THEN 1 ELSE 0 END AS c
       |  FROM wd LEFT JOIN e ON wd.x = e.lo AND wd.y = e.hi),
       |wagg AS (SELECT CAST(count(*) AS BIGINT) AS n_wedges,
       |    CAST(coalesce(SUM(c), 0) AS BIGINT) AS n_closed FROM cl),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM e)
       |SELECT n_pairs, n_wedges, n_closed,
       |  n_wedges - n_closed AS n_violations,
       |  round(CASE WHEN n_wedges > 0
       |    THEN CAST(n_closed AS DOUBLE) / n_wedges END, 6)
       |    AS closure_ratio
       |FROM wagg, np""".stripMargin
  }

  /** Replays q437: American Soundex as a pure-SQL chain. The mapping
    * string is commons-codec's US English table (H/W excluded from the
    * tail BEFORE coding — the "non-separating" American rule, which is
    * what Spark's builtin implements; verified letter-for-letter against
    * `soundex()` over this corpus's whole vocabulary). Run collapse must
    * precede zero-stripping (vowels separate duplicate codes) and is
    * spelled per digit class because DuckDB's RE2 lacks backreferences. */
  def soundexOracleSql: String = {
    val collapse = (0 to 6).foldLeft("codes") { (acc, d) =>
      s"regexp_replace($acc, '$d$d+', '$d', 'g')"
    }
    s"""WITH v AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(
       |      lower(text), '[^a-z]+'), x -> x <> '')) AS w FROM documents
       |  UNION ALL
       |  SELECT unnest(list_filter(regexp_split_to_array(
       |      lower(p_name), '[^a-z]+'), x -> x <> '')) FROM part
       |  UNION ALL
       |  SELECT unnest(list_filter(regexp_split_to_array(
       |      lower(p_type), '[^a-z]+'), x -> x <> '')) FROM part),
       |w AS (SELECT DISTINCT w FROM v),
       |m AS (SELECT w, upper(substr(w, 1, 1)) AS f,
       |    translate(upper(substr(w, 1, 1)) ||
       |        translate(upper(substr(w, 2)), 'HW', ''),
       |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
       |      '01230120022455012623010202') AS codes
       |  FROM w),
       |c AS (SELECT w, f, $collapse AS coll FROM m),
       |k AS (SELECT w, substr(rpad(f ||
       |    replace(substr(coll, 2), '0', ''), 4, '0'), 1, 4) AS sdx
       |  FROM c)
       |SELECT sdx, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
       |  string_agg(w, ',' ORDER BY w) AS members
       |FROM k GROUP BY sdx
       |ORDER BY n_words DESC, sdx""".stripMargin
  }

  /** Replays q436: per-lag shifted self-join over the daily frame,
    * exact moments into the closed-form Pearson. */
  def acfOracleSql: String = {
    def block(lag: Int): String =
      s"""SELECT g AS event_type, CAST($lag AS INT) AS lag,
         |  n AS n_pairs,
         |  round(CASE WHEN nn * CAST(sxx AS DOUBLE) -
         |      CAST(sx AS DOUBLE) * sx > 0
         |    AND nn * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy > 0
         |    THEN (nn * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) /
         |      (sqrt(nn * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) *
         |       sqrt(nn * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
         |  END, 6) AS acf
         |FROM (SELECT a.g, CAST(count(*) AS BIGINT) AS n, count(*) AS nn,
         |    CAST(SUM(a.v) AS BIGINT) AS sx, CAST(SUM(b.v) AS BIGINT)
         |      AS sy,
         |    SUM(CAST(a.v AS HUGEINT) * a.v) AS sxx,
         |    SUM(CAST(b.v AS HUGEINT) * b.v) AS syy,
         |    SUM(CAST(a.v AS HUGEINT) * b.v) AS sxy
         |  FROM d a JOIN d b ON a.g = b.g AND b.t = a.t + $lag
         |  GROUP BY a.g) s
         |WHERE n > 2""".stripMargin
    s"""WITH d AS (SELECT event_type AS g,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
       |      AS BIGINT) AS t,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM events GROUP BY 1, 2)
       |${(1 to 7).map(block).mkString("\nUNION ALL\n")}
       |ORDER BY event_type, lag""".stripMargin
  }

  /** Replays q415: one window pass computes all five columns' change
    * indicators; per-column stats unpivot via UNION ALL. */
  def encodingAdvisorOracleSql: String = {
    val cols = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "l_quantity", "l_partkey")
    val chg = cols.map { c =>
      s"""CASE WHEN lag($c) OVER o IS NULL OR lag($c) OVER o <> $c
         |      THEN 1 ELSE 0 END AS chg_$c""".stripMargin
    }.mkString(",\n    ")
    val ag = cols.map { c =>
      s"""CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv_$c,
         |    CAST(SUM(chg_$c) AS BIGINT) AS runs_$c""".stripMargin
    }.mkString(",\n    ")
    val rows = cols.map { c =>
      s"""SELECT '$c' AS col_name, n, ndv_$c AS ndv, runs_$c AS runs,
         |  CASE WHEN ndv_$c <= 1 THEN 0
         |    ELSE CAST(length(bin(ndv_$c - 1)) AS BIGINT) END AS dict_bits,
         |  round(CAST(n AS DOUBLE) / runs_$c, 6) AS avg_run_len,
         |  ndv_$c * 100 <= n AS dict_recommended
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w AS (SELECT ${cols.mkString(", ")},
       |    $chg
       |  FROM lineitem
       |  WINDOW o AS (ORDER BY l_orderkey, l_linenumber)),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    $ag
       |  FROM w)
       |$rows
       |ORDER BY col_name""".stripMargin
  }

  /** Replays q410: the SPRT log-constants are computed ONCE here in
    * Scala and embedded as round-trip double literals in BOTH engines
    * (the Spark side embeds the same values via lit) — the
    * data-dependent arithmetic is multiply/add only. */
  def sprtOracleSql: String = {
    val l1 = math.log(0.55 / 0.45); val l0 = math.log(0.45 / 0.55)
    val a = math.log(0.95 / 0.05); val b = math.log(0.05 / 0.95)
    s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k
       |  FROM events GROUP BY 1, 2),
       |c AS (SELECT event_type,
       |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
       |      AS BIGINT) AS i,
       |    CAST(SUM(CAST(k * CAST($l1 AS DOUBLE) +
       |        (n - k) * CAST($l0 AS DOUBLE) AS DECIMAL(38,18)))
       |      OVER (PARTITION BY event_type ORDER BY day
       |        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS llr
       |  FROM d),
       |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       |    round(arg_max(llr, i), 6) AS llr_final,
       |    min(CASE WHEN llr >= CAST($a AS DOUBLE) THEN i END) AS day_h1,
       |    min(CASE WHEN llr <= CAST($b AS DOUBLE) THEN i END) AS day_h0
       |  FROM c GROUP BY 1)
       |SELECT event_type, n_days, llr_final, day_h1, day_h0,
       |  CASE WHEN day_h1 IS NULL AND day_h0 IS NULL THEN 'continue'
       |    WHEN day_h0 IS NULL OR (day_h1 IS NOT NULL
       |      AND day_h1 < day_h0) THEN 'accept_h1'
       |    ELSE 'accept_h0' END AS decision
       |FROM g ORDER BY event_type""".stripMargin
  }

  /** Replays q411: the q318 transition/value-iteration chain once for
    * the baseline and once per removed channel (suffixed CTEs), each
    * conversion read against the first-touch distribution. */
  def removalAttributionOracleSql: String = {
    val channels = Seq("click", "error", "signup", "view")
    def chain(sfx: String, where: String): String = {
      def r(k: Int, prev: String): String =
        s"""r$k$sfx AS (SELECT st.s, CASE WHEN st.s = 'purchase'
           |    THEN 1.0 ELSE COALESCE(f.vn, 0.0) END AS v
           |  FROM st LEFT JOIN (SELECT m$sfx.s, CAST(SUM(CAST(
           |      (CAST(m$sfx.n AS DOUBLE) / m$sfx.tot) * v.v
           |      AS DECIMAL(27,15))) AS DOUBLE) AS vn
           |    FROM m$sfx JOIN $prev v ON m$sfx.t = v.s
           |    GROUP BY m$sfx.s) f ON st.s = f.s)""".stripMargin
      // tot comes from m0 (unfiltered) — removal does NOT renormalize
      s"""m$sfx AS (SELECT * FROM m0$where),
         |r0$sfx AS (SELECT s, CASE WHEN s = 'purchase' THEN 1.0
         |  ELSE 0.0 END AS v FROM st),
         |${(1 to 4).map(k => r(k, s"r${k - 1}$sfx")).mkString(",\n")},
         |rr$sfx AS (SELECT s AS state, round(v, 6) AS v FROM r4$sfx),
         |cv$sfx AS (SELECT CAST(SUM(CAST(fn * coalesce(rr$sfx.v,
         |      CASE WHEN f0.ftype = 'purchase' THEN 1.0 ELSE 0.0 END)
         |      AS DECIMAL(38,18))) AS DOUBLE) / SUM(fn) AS p
         |  FROM f0 LEFT JOIN rr$sfx ON f0.ftype = rr$sfx.state)"""
        .stripMargin
    }
    val variants = chain("b", "") + ",\n" + channels.zipWithIndex.map {
      case (c, i) =>
        chain(s"x$i", s" WHERE s <> '$c' AND t <> '$c'")
    }.mkString(",\n")
    val union = channels.zipWithIndex.map { case (c, i) =>
      s"SELECT '$c' AS channel, p FROM cvx$i"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
       |    event_type FROM events),
       |l AS (SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts,
       |      event_id) AS from_type,
       |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id)) AS gap_us,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts,
       |      event_id) AS rn
       |  FROM e),
       |p AS (SELECT from_type, event_type AS to_type,
       |    CAST(count(*) AS BIGINT) AS n FROM l
       |  WHERE from_type IS NOT NULL AND gap_us <= 1800000000
       |  GROUP BY 1, 2),
       |f0 AS (SELECT event_type AS ftype, CAST(count(*) AS BIGINT) AS fn
       |  FROM l WHERE rn = 1 GROUP BY 1),
       |m0 AS (SELECT from_type AS s, to_type AS t, n,
       |    SUM(n) OVER (PARTITION BY from_type) AS tot FROM p),
       |st AS (SELECT DISTINCT s FROM
       |  (SELECT s FROM m0 UNION ALL SELECT t FROM m0)),
       |$variants,
       |u AS ($union),
       |ef AS (SELECT channel, u.p AS p_without, cvb.p AS p_base,
       |    CASE WHEN cvb.p > 0 THEN greatest(CAST(0.0 AS DOUBLE),
       |      1.0 - u.p / cvb.p) END AS effect
       |  FROM u, cvb),
       |tt AS (SELECT *, CAST(SUM(CAST(effect AS DECIMAL(38,18)))
       |      OVER () AS DOUBLE) AS tot
       |  FROM ef)
       |SELECT channel, round(p_base, 6) AS p_base,
       |  round(p_without, 6) AS p_without,
       |  round(effect, 6) AS removal_effect,
       |  round(CASE WHEN tot > 0 THEN effect / tot END, 6) AS attr_share
       |FROM tt ORDER BY channel""".stripMargin
  }

  /** Replays q408: 6 IPF rounds as chained CTEs, margin sums
    * decimal-accumulated per step. */
  def ipfRakeOracleSql: String = {
    def rowStep(k: Int, from: String): String =
      s"""i${k}r AS (SELECT r, c, n, tr, tc,
         |    w * (tr / CAST(SUM(CAST(w AS DECIMAL(38,18)))
         |      OVER (PARTITION BY r) AS DOUBLE)) AS w
         |  FROM $from)""".stripMargin
    def colStep(k: Int): String =
      s"""i${k}c AS (SELECT r, c, n, tr, tc,
         |    w * (tc / CAST(SUM(CAST(w AS DECIMAL(38,18)))
         |      OVER (PARTITION BY c) AS DOUBLE)) AS w
         |  FROM i${k}r)""".stripMargin
    val steps = (1 to 6).map { k =>
      rowStep(k, if (k == 1) "i0" else s"i${k - 1}c") + ",\n" + colStep(k)
    }.mkString(",\n")
    s"""WITH cells AS (SELECT source AS r, lang AS c,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1, 2),
       |dims AS (SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
       |    CAST(COUNT(DISTINCT c) AS BIGINT) AS nc,
       |    CAST(SUM(n) AS BIGINT) AS nt FROM cells),
       |i0 AS (SELECT r, c, n, CAST(nt AS DOUBLE) / nr AS tr,
       |    CAST(nt AS DOUBLE) / nc AS tc, CAST(n AS DOUBLE) AS w
       |  FROM cells, dims),
       |$steps
       |SELECT r AS source, c AS lang, n, round(w, 6) AS weight,
       |  round(w / n, 6) AS rake_factor
       |FROM i6c ORDER BY source, lang""".stripMargin
  }

  /** Replays q409: the q130 learn chain, the k = 0..3 stage tables with
    * the word preserved, lossless-reassembly and tokens/word rollup. */
  def bpeRoundtripOracleSql: String =
    s"""WITH $bpePrefixSql,
       |c0 AS (SELECT word, freq,
       |    array_to_string(string_split(word, ''), chr(31)) AS w FROM wc),
       |c1 AS (SELECT word, freq,
       |    replace(w, a || chr(31) || b, a || b) AS w FROM c0, b1),
       |c2 AS (SELECT word, freq,
       |    replace(w, a || chr(31) || b, a || b) AS w FROM c1, b2),
       |c3 AS (SELECT word, freq,
       |    replace(w, a || chr(31) || b, a || b) AS w FROM c2, b3),
       |m AS (SELECT 0 AS n_merges, word, freq, w FROM c0
       |  UNION ALL SELECT 1, word, freq, w FROM c1
       |  UNION ALL SELECT 2, word, freq, w FROM c2
       |  UNION ALL SELECT 3, word, freq, w FROM c3)
       |SELECT n_merges, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(SUM(CASE WHEN replace(w, chr(31), '') = word THEN 1
       |    ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
       |  CAST(SUM(freq * len(string_split(w, chr(31)))) AS BIGINT)
       |    AS total_tokens,
       |  CAST(SUM(freq * len(string_split(w, chr(31)))) AS DOUBLE)
       |    / SUM(freq) AS tokens_per_word
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Replays q400: exact BIGINT prefix sums, the OLS SSE identity as
    * one double tree per side, rank by (sse_split, k). */
  def segmentedTrendOracleSql: String = {
    def sse(n: String, sx: String, sy: String, sxx: String, sxy: String,
            syy: String): String =
      s"""greatest(CAST(0.0 AS DOUBLE),
         |  CASE WHEN CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) * ($sx) / ($n) > 0
         |    THEN CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) * ($sy) / ($n)
         |      - (CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) * ($sy) / ($n))
         |        * (CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) * ($sy) / ($n))
         |        / (CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) * ($sx) / ($n))
         |    ELSE CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) * ($sy) / ($n)
         |  END)""".stripMargin
    val left = sse("i", "sx", "sy", "sxx", "sxy", "syy")
    val right = sse("tn - i", "tsx - sx", "tsy - sy", "tsxx - sxx",
      "tsxy - sxy", "tsyy - syy")
    val single = sse("tn", "tsx", "tsy", "tsxx", "tsxy", "tsyy")
    s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |p AS (SELECT event_type, CAST(row_number() OVER (
       |      PARTITION BY event_type ORDER BY day) AS BIGINT) AS i, y
       |  FROM d),
       |c AS (SELECT event_type, i,
       |    CAST(SUM(i) OVER w AS BIGINT) AS sx,
       |    CAST(SUM(y) OVER w AS BIGINT) AS sy,
       |    CAST(SUM(i * i) OVER w AS BIGINT) AS sxx,
       |    CAST(SUM(i * y) OVER w AS BIGINT) AS sxy,
       |    CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
       |    CAST(MAX(i) OVER wa AS BIGINT) AS tn,
       |    CAST(SUM(i) OVER wa AS BIGINT) AS tsx,
       |    CAST(SUM(y) OVER wa AS BIGINT) AS tsy,
       |    CAST(SUM(i * i) OVER wa AS BIGINT) AS tsxx,
       |    CAST(SUM(i * y) OVER wa AS BIGINT) AS tsxy,
       |    CAST(SUM(y * y) OVER wa AS BIGINT) AS tsyy
       |  FROM p
       |  WINDOW w AS (PARTITION BY event_type ORDER BY i
       |      ROWS UNBOUNDED PRECEDING),
       |    wa AS (PARTITION BY event_type)),
       |s AS (SELECT event_type, i, tn,
       |    $left AS sse_left,
       |    $right AS sse_right,
       |    $single AS sse_single
       |  FROM c WHERE i >= 5 AND i <= tn - 5),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY sse_left + sse_right, i) AS rn
       |  FROM s)
       |SELECT event_type, tn AS n, i AS best_k,
       |  round(sse_left, 6) AS sse_left,
       |  round(sse_right, 6) AS sse_right,
       |  round(sse_single, 6) AS sse_single,
       |  round(CASE WHEN sse_single > 0 THEN greatest(CAST(0.0 AS DOUBLE),
       |    (sse_single - (sse_left + sse_right)) / sse_single) END, 6)
       |    AS drop_ratio
       |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin
  }

  /** Replays q388: the q158/q159 scored CTEs, gates paired per doc, the
    * discordant-count χ². */
  def mcnemarOracleSql: String =
    s"""$scoredMarginCtes,
       |pc AS (SELECT doc_id, quality_pass, margin > 0 AS cls_pass
       |  FROM scored),
       |ag AS (SELECT count(*) AS n,
       |    CAST(SUM(CASE WHEN quality_pass AND cls_pass THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_both,
       |    CAST(SUM(CASE WHEN quality_pass AND NOT cls_pass THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_gopher_only,
       |    CAST(SUM(CASE WHEN NOT quality_pass AND cls_pass THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_cls_only,
       |    CAST(SUM(CASE WHEN NOT quality_pass AND NOT cls_pass THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_neither
       |  FROM pc)
       |SELECT n, n_both, n_gopher_only, n_cls_only, n_neither,
       |  CASE WHEN n_gopher_only + n_cls_only > 0 THEN
       |    round(CAST((n_gopher_only - n_cls_only) *
       |      (n_gopher_only - n_cls_only) AS DOUBLE)
       |      / (n_gopher_only + n_cls_only), 6) END AS mcnemar_chi2
       |FROM ag""".stripMargin

  /** The canonical 8-centroid codebook `c` (cid, cv): the first 8 vectors
    * by id, the oracle twin of [[QueryHelpers.codebook]]. The CTE
    * fragments below are stripped already, so a caller's stripMargin
    * leaves them as they are. */
  val codebookCte: String =
    """c AS (SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
      |  FROM embeddings WHERE vec_id < 8)""".stripMargin

  /** Nearest-centroid assignment `a` (vec_id, embedding, centroid_id)
    * over [[codebookCte]], distance ties to the smaller cid — the inline
    * twin of Similarity.assignNearestCentroid. */
  val assignedCte: String =
    """a AS (SELECT vec_id, embedding, centroid_id FROM (
      |    SELECT e.vec_id, e.embedding, c.cid AS centroid_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
      |    FROM embeddings e, c) WHERE rn = 1)""".stripMargin

  /** [[assignedCte]] without the embedding, as `assign` (vec_id,
    * centroid_id): the IVF-probe oracles' cell map. */
  val assignCte: String =
    """assign AS (
      |  SELECT vec_id, centroid_id FROM (
      |    SELECT e.vec_id, c.cid AS centroid_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
      |    FROM embeddings e, c) WHERE rn = 1)""".stripMargin

  /** Within-cell pairs `p` (id, nbr_id, cosine distance) over the
    * assignment `a`: the candidate set of every bucket-local kNN
    * oracle. */
  val cellPairsCte: String =
    """p AS (SELECT l.vec_id AS id, r.vec_id AS nbr_id,
      |    1.0 - list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
      |      CAST(r.embedding AS DOUBLE[])) AS distance
      |  FROM a l JOIN a r ON l.centroid_id = r.centroid_id
      |    AND l.vec_id <> r.vec_id)""".stripMargin

  /** Shared CTE prefix replaying the q101 kNN-graph build: `g0` is the
    * top-3-per-node edge list (id, nbr_id) over the 8-centroid map-side
    * assignment, plus `nodes`/`nn`/`dg` (node set, node count,
    * out-degrees) for the PageRank oracles. */
  def knnEdgesPrefixSql: String =
    s"""WITH $codebookCte,
      |$assignedCte,
      |$cellPairsCte,
      |g0 AS (SELECT id, nbr_id FROM (
      |    SELECT id, nbr_id,
      |      row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS rk
      |    FROM p) WHERE rk <= 3),
      |nodes AS (SELECT DISTINCT id FROM (
      |    SELECT id FROM g0 UNION ALL SELECT nbr_id FROM g0)),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |dg AS (SELECT id AS src, count(*) AS deg FROM g0 GROUP BY id)""".stripMargin

  /** Replays q458: one bounded-walk BFS chain per probe node on the
    * q418 kNN edge set, min-depth dedup, then the decimal-accumulated
    * harmonic sum and the within-component closeness. */
  def harmonicCentralityOracleSql: String = {
    def walk(seed: Long): String =
      s"""w$seed AS (SELECT CAST($seed AS BIGINT) AS node, 0 AS d
         |  UNION
         |  SELECT und.b, w$seed.d + 1 FROM w$seed
         |  JOIN und ON und.a = w$seed.node WHERE w$seed.d < 8),
         |d_w$seed AS (SELECT node, CAST(min(d) AS INT) AS d FROM w$seed
         |  GROUP BY node),
         |a_w$seed AS (SELECT CAST(count(*) AS BIGINT) AS n_reached,
         |  max(d) AS ecc, CAST(SUM(d) AS BIGINT) AS sum_d,
         |  CAST(SUM(CAST(CAST(1 AS DOUBLE) / d AS DECIMAL(38,18)))
         |    AS DOUBLE) AS h
         |  FROM d_w$seed WHERE d > 0)""".stripMargin
    def row(seed: Long): String =
      s"""SELECT CAST($seed AS BIGINT) AS source, n_reached, ecc,
         |  round(h, 6) AS harmonic,
         |  CASE WHEN sum_d > 0 THEN
         |    round(CAST(n_reached AS DOUBLE) / sum_d, 6) END AS closeness
         |FROM a_w$seed""".stripMargin
    s"""${knnEdgesPrefixSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |und AS (SELECT id AS a, nbr_id AS b FROM g0
       |  UNION SELECT nbr_id, id FROM g0),
       |${Seq(0L, 1L, 2L).map(walk).mkString(",\n")}
       |${Seq(0L, 1L, 2L).map(row).mkString("\nUNION ALL\n")}
       |ORDER BY source""".stripMargin
  }

  /** Replays q461: the additive Holt-Winters fold as a recursive CTE
    * carrying (l, b, sse, s0..s6); every smoothing constant is dyadic
    * and every expression tree matches the Spark fold, so the replay is
    * bit-identical (the q394 discipline with seasonal state). */
  def holtWintersOracleSql: String = {
    // position of the INCOMING row (index it.t + 1, 0-based) is it.t % 7
    val sold = "CASE it.t % 7 WHEN 0 THEN it.s0 WHEN 1 THEN it.s1 " +
      "WHEN 2 THEN it.s2 WHEN 3 THEN it.s3 WHEN 4 THEN it.s4 " +
      "WHEN 5 THEN it.s5 ELSE it.s6 END"
    val lp = s"0.5 * (r.y - ($sold)) + 0.5 * (it.l + it.b)"
    val sUpdCols = (0 until 7).map(k =>
      s"""    CASE WHEN it.t % 7 = $k THEN
         |      0.25 * (r.y - ($lp)) + 0.75 * ($sold)
         |      ELSE it.s$k END""".stripMargin).mkString(",\n")
    val sNext = "CASE nn.n_obs % 7 WHEN 0 THEN it.s0 WHEN 1 THEN it.s1 " +
      "WHEN 2 THEN it.s2 WHEN 3 THEN it.s3 WHEN 4 THEN it.s4 " +
      "WHEN 5 THEN it.s5 ELSE it.s6 END"
    s"""WITH RECURSIVE d AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS DOUBLE) AS y
       |  FROM events GROUP BY 1, 2),
       |r AS (SELECT event_type, row_number() OVER (
       |    PARTITION BY event_type ORDER BY day) AS t, y FROM d),
       |nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs
       |  FROM r GROUP BY 1),
       |it AS (
       |  SELECT event_type, 1 AS t, y AS l, CAST(0.0 AS DOUBLE) AS b,
       |    CAST(0.0 AS DOUBLE) AS sse,
       |    ${(0 until 7).map(k => s"CAST(0.0 AS DOUBLE) AS s$k")
                .mkString(", ")}
       |  FROM r WHERE t = 1
       |  UNION ALL
       |  SELECT it.event_type, it.t + 1,
       |    $lp,
       |    0.25 * (($lp) - it.l) + 0.75 * it.b,
       |    it.sse + (r.y - (it.l + it.b + ($sold)))
       |      * (r.y - (it.l + it.b + ($sold))),
       |$sUpdCols
       |  FROM it JOIN r ON r.event_type = it.event_type
       |    AND r.t = it.t + 1)
       |SELECT it.event_type, nn.n_obs, it.l AS level, it.b AS trend,
       |  $sNext AS s_next,
       |  it.l + it.b + ($sNext) AS forecast_next,
       |  greatest(it.s0, it.s1, it.s2, it.s3, it.s4, it.s5, it.s6) -
       |    least(it.s0, it.s1, it.s2, it.s3, it.s4, it.s5, it.s6)
       |    AS seas_amplitude,
       |  CASE WHEN nn.n_obs > 1 THEN it.sse / (nn.n_obs - 1) END AS mse
       |FROM it JOIN nn USING (event_type)
       |WHERE it.t = nn.n_obs ORDER BY event_type""".stripMargin
  }

  /** Replays q466: regenerate the PCM by formula, apply the period-6
    * Goertzel weights u = [1,1,0,−1,−1,0] as CASE lookups — all BIGINT. */
  def goertzelOracleSql: String = {
    def u(e: String): String =
      s"CASE CAST(($e) % 6 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 1 " +
        "WHEN 2 THEN 0 WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END"
    s"""WITH nn AS (SELECT doc_id, 128 + doc_id % 64 AS n FROM documents),
       |x AS (SELECT doc_id, n, CAST(i AS BIGINT) AS i,
       |    ((doc_id * 31 + i * 17) % 4096) // 4 - 512 +
       |      CASE WHEN doc_id % 3 = 0 THEN
       |        CASE CAST(i % 6 AS INT) WHEN 0 THEN 1000 WHEN 1 THEN 1000
       |          WHEN 2 THEN 0 WHEN 3 THEN -1000 WHEN 4 THEN -1000
       |          ELSE 0 END
       |      ELSE 0 END AS x
       |  FROM nn, unnest(range(0, n)) AS r(i)),
       |g AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
       |    CAST(SUM(x * (${u("n - 1 - i")})) AS BIGINT) AS s1,
       |    CAST(SUM(CASE WHEN i <= n - 2 THEN
       |      x * (${u("n - 2 - i")}) ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(SUM(x * x) AS BIGINT) AS energy
       |  FROM x GROUP BY doc_id),
       |fin AS (SELECT doc_id, n_samples, s1, s2,
       |    s1 * s1 + s2 * s2 - s1 * s2 AS p_tone, energy,
       |    CASE WHEN energy > 0 THEN
       |      round(CAST(s1 * s1 + s2 * s2 - s1 * s2 AS DOUBLE) /
       |        CAST(n_samples * energy AS DOUBLE), 6) END AS tone_share
       |  FROM g)
       |SELECT doc_id, n_samples, s1, s2, p_tone, energy, tone_share,
       |  tone_share > 0.05 AS is_tonal
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** Replays q467: interior-pixel Sobel/Laplacian from the closed-form
    * pixel formula (PNG is lossless, so decoded pixels == the formula). */
  def imageGradientsOracleSql: String = {
    def p(dx: Int, dy: Int): String = {
      def off(v: String, d: Int): String =
        if (d == 0) v else if (d > 0) s"($v + $d)" else s"($v - ${-d})"
      s"((${off("x", dx)} * 7 + ${off("y", dy)} * 13 + doc_id * 31) % 256)"
    }
    val gx = s"(${p(1, -1)} + 2 * ${p(1, 0)} + ${p(1, 1)}) - " +
      s"(${p(-1, -1)} + 2 * ${p(-1, 0)} + ${p(-1, 1)})"
    val gy = s"(${p(-1, 1)} + 2 * ${p(0, 1)} + ${p(1, 1)}) - " +
      s"(${p(-1, -1)} + 2 * ${p(0, -1)} + ${p(1, -1)})"
    val l = s"4 * ${p(0, 0)} - ${p(-1, 0)} - ${p(1, 0)} - " +
      s"${p(0, -1)} - ${p(0, 1)}"
    s"""WITH px AS (SELECT doc_id, CAST(x AS BIGINT) AS x,
       |    CAST(y AS BIGINT) AS y
       |  FROM documents, unnest(range(1, 15)) AS rx(x),
       |    unnest(range(1, 15)) AS ry(y)),
       |v AS (SELECT doc_id, $gx AS gx, $gy AS gy, $l AS l FROM px),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_interior,
       |    CAST(SUM(gx * gx + gy * gy) AS BIGINT) AS ee,
       |    CAST(SUM(l) AS BIGINT) AS ls,
       |    CAST(SUM(l * l) AS BIGINT) AS lq
       |  FROM v GROUP BY doc_id)
       |SELECT doc_id, n_interior, ee AS edge_energy,
       |  round(CAST(ee AS DOUBLE) / n_interior, 6) AS mean_grad_sq,
       |  round((CAST(lq AS DOUBLE) - CAST(ls AS DOUBLE) * ls /
       |    n_interior) / n_interior, 6) AS lap_var
       |FROM a ORDER BY doc_id""".stripMargin
  }

  /** Replays q468: q20's signature/band replay for the estimates plus
    * q143's shared-gram exact Jaccard, err = est − exact with absent
    * exact coalesced to 0, folded to the calibration stats row. */
  def minhashCalibrationOracleSql: String = {
    val boundedCorpus =
      """SELECT doc_id, text FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id,
        |  substring(text, 1, greatest(length(text) - 7, 1)) AS text
        |FROM documents WHERE doc_id < 300""".stripMargin
    s"""WITH ${minhashPairCtesFor(boundedCorpus)},
       |lsh AS (SELECT doc_a, doc_b, est_jaccard FROM pairs
       |  WHERE est_jaccard >= 0.5),
       |g AS (
       |  SELECT DISTINCT doc_id, substring(text, CAST(s AS INT) + 1, 5) AS tok
       |  FROM corpus, unnest(range(0, length(text) - 4, 1)) AS t(s)
       |  WHERE length(text) >= 5
       |  UNION
       |  SELECT doc_id, text AS tok FROM corpus WHERE length(text) < 5),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS nc
       |  FROM g a JOIN g b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ej AS (SELECT doc_a, doc_b,
       |    CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) AS jaccard
       |  FROM pr JOIN sz sa ON doc_a = sa.doc_id
       |  JOIN sz sb ON doc_b = sb.doc_id),
       |e AS (SELECT lsh.est_jaccard -
       |    coalesce(ej.jaccard, CAST(0 AS DOUBLE)) AS err
       |  FROM lsh LEFT JOIN ej USING (doc_a, doc_b))
       |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  round(CAST(SUM(CAST(err AS DECIMAL(38,18))) AS DOUBLE)
       |    / count(*), 6) AS mean_err,
       |  round(CAST(SUM(CAST(abs(err) AS DECIMAL(38,18))) AS DOUBLE)
       |    / count(*), 6) AS mae,
       |  round(sqrt(CAST(SUM(CAST(err * err AS DECIMAL(38,18)))
       |    AS DOUBLE) / count(*)), 6) AS rmse,
       |  round(CAST(SUM(CASE WHEN abs(err) <= 0.015625 THEN 1 ELSE 0
       |    END) AS DOUBLE) / count(*), 6) AS share_within_granule
       |FROM e""".stripMargin
  }

  /** Replays q469 for one column: dictionary bytes + front-coding
    * savings, prefix length via the monotone-indicator list count. */
  def stringEncodingColSql(c: String): String =
    s"""SELECT '$c' AS col_name, n, raw_bytes, ndv, dict_bytes,
       |  front_saved_bytes,
       |  round(CAST(dict_bytes AS DOUBLE) / raw_bytes, 6) AS dict_ratio,
       |  round(CAST(dict_bytes - front_saved_bytes AS DOUBLE)
       |    / dict_bytes, 6) AS front_ratio
       |FROM
       |  (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(length(v)) AS BIGINT) AS raw_bytes
       |  FROM (SELECT CAST($c AS VARCHAR) AS v FROM part
       |    WHERE $c IS NOT NULL)),
       |  (SELECT CAST(count(*) AS BIGINT) AS ndv,
       |    CAST(SUM(length(v)) AS BIGINT) AS dict_bytes,
       |    CAST(SUM(cp) AS BIGINT) AS front_saved_bytes
       |  FROM (SELECT v, CASE WHEN pv IS NULL OR
       |      least(length(v), length(pv)) < 1 THEN 0
       |    ELSE list_count(list_filter(
       |      range(1, least(length(v), length(pv)) + 1),
       |      k -> substring(v, 1, CAST(k AS INT))
       |        = substring(pv, 1, CAST(k AS INT)))) END AS cp
       |  FROM (SELECT v, lag(v) OVER (ORDER BY v) AS pv FROM
       |    (SELECT DISTINCT CAST($c AS VARCHAR) AS v FROM part
       |      WHERE $c IS NOT NULL))))""".stripMargin

  /** Replays q470: the q98 BM25 chain once per query (shared corpus
    * stats), LIMIT 10, then the per-query score-list shape stats. */
  def qppOracleSql(queries: Seq[(String, Seq[String])],
                           k: Int): String = {
    def chain(sfx: String, terms: Seq[String]): String = {
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""tf_$sfx AS (SELECT id, dl, term, COUNT(*) AS tf FROM (
         |    SELECT id, dl, unnest(t) AS term FROM dl)
         |  WHERE term IN ($inList)
         |  GROUP BY id, dl, term),
         |dfq_$sfx AS (SELECT term, COUNT(*) AS term_df FROM tf_$sfx
         |  GROUP BY term),
         |sc_$sfx AS (SELECT id,
         |    ln((n_docs - term_df + 0.5) / (term_df + 0.5) + 1.0) *
         |      ((tf * (1.2 + 1.0)) / (tf + 1.2 *
         |        (1.0 - 0.75 + 0.75 * dl / avgdl))) AS contrib
         |  FROM tf_$sfx JOIN dfq_$sfx USING (term), stats),
         |top_$sfx AS (SELECT score FROM (SELECT id,
         |    round(CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE),
         |      6) AS score
         |  FROM sc_$sfx GROUP BY id
         |  ORDER BY score DESC, id LIMIT $k)),
         |st_$sfx AS (SELECT '$sfx' AS query,
         |    CAST(count(*) AS BIGINT) AS n_hits,
         |    max(score) AS top1,
         |    max(CASE WHEN r = 2 THEN score END) AS top2,
         |    CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE) AS s,
         |    CAST(SUM(CAST(score * score AS DECIMAL(38,18))) AS DOUBLE)
         |      AS sq
         |  FROM (SELECT score, row_number() OVER (ORDER BY score DESC)
         |    AS r FROM top_$sfx))""".stripMargin
    }
    val union = queries.map { case (n, _) =>
      s"SELECT * FROM st_$n" }.mkString("\nUNION ALL\n")
    s"""WITH docs AS (SELECT doc_id AS id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> x <> '') AS t
       |  FROM documents),
       |dl AS (SELECT id, len(t) AS dl, t FROM docs),
       |stats AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |${queries.map { case (n, ts) => chain(n, ts) }.mkString(",\n")}
       |SELECT query, n_hits, top1, top2,
       |  CASE WHEN top2 IS NOT NULL THEN round(top1 - top2, 6) END
       |    AS gap,
       |  round(s / n_hits, 6) AS mean_score,
       |  CASE WHEN (sq - s * s / n_hits) / n_hits > 0 THEN
       |    round(sqrt((sq - s * s / n_hits) / n_hits), 6) END
       |    AS sd_score,
       |  CASE WHEN (sq - s * s / n_hits) / n_hits > 0 THEN
       |    round((top1 - s / n_hits) /
       |      sqrt((sq - s * s / n_hits) / n_hits), 6) END AS clarity
       |FROM ($union) ORDER BY query""".stripMargin
  }

  /** One fixed-point power-iteration round per call: `s{r}` folds each
    * node's `pr div deg` share onto its out-neighbors (BIGINT sum, cast
    * back from DuckDB's HUGEINT), `r{r}` re-mixes with the teleport term
    * `newPr` — identical integer arithmetic to [[GraphAnalytics]]. */
  def prRoundSql(r: Int, newPr: String): String =
    s"""s$r AS (SELECT g.nbr_id AS id, CAST(sum(r${r - 1}.pr // d.deg) AS BIGINT) AS insum
       |  FROM g0 g JOIN dg d ON g.id = d.src JOIN r${r - 1} ON g.id = r${r - 1}.id
       |  GROUP BY g.nbr_id),
       |r$r AS (SELECT b.id, b.base, CAST($newPr AS BIGINT) AS pr
       |  FROM b LEFT JOIN s$r s USING (id))""".stripMargin

  /** Replays q240: the word co-occurrence graph (distinct unordered
    * within-2 pairs → both directions over a row_number dictionary), then
    * the SAME three [[prRoundSql]] fixed-point rounds as q136. */
  def textRankOracleSql: String = {
    val rounds = (1 to 3).map(r =>
      prRoundSql(r, "(15 * b.base) // 100 + (85 * coalesce(s.insum, 0)) // 100"))
      .mkString(",\n")
    s"""WITH toks AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> x <> '') AS t
       |  FROM documents),
       |pos AS (SELECT doc_id, j AS pos, t[j] AS term
       |  FROM toks, unnest(range(1, len(t) + 1)) AS r(j)),
       |up AS (SELECT DISTINCT least(a.term, b.term) AS w1,
       |    greatest(a.term, b.term) AS w2
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
       |    AND b.pos > a.pos AND b.pos <= a.pos + 2
       |    AND a.term <> b.term),
       |dict AS (SELECT term,
       |    CAST(row_number() OVER (ORDER BY term) AS BIGINT) AS wid
       |  FROM (SELECT w1 AS term FROM up UNION SELECT w2 FROM up)),
       |g0 AS (SELECT d1.wid AS id, d2.wid AS nbr_id
       |  FROM up JOIN dict d1 ON up.w1 = d1.term
       |    JOIN dict d2 ON up.w2 = d2.term
       |  UNION ALL
       |  SELECT d2.wid AS id, d1.wid AS nbr_id
       |  FROM up JOIN dict d1 ON up.w1 = d1.term
       |    JOIN dict d2 ON up.w2 = d2.term),
       |nodes AS (SELECT DISTINCT id FROM (
       |    SELECT id FROM g0 UNION ALL SELECT nbr_id FROM g0)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |dg AS (SELECT id AS src, count(*) AS deg FROM g0 GROUP BY id),
       |b AS (SELECT id, CAST(1000000000000 // n AS BIGINT) AS base
       |  FROM nodes, nn),
       |r0 AS (SELECT id, base, base AS pr FROM b),
       |$rounds
       |SELECT d.term, pr,
       |  CAST(row_number() OVER (ORDER BY pr DESC, r3.id) AS INT) AS rk
       |FROM r3 JOIN dict d ON r3.id = d.wid ORDER BY rk""".stripMargin
  }

  /** Replays q192: the q101 kNN graph canonicalized to undirected a<b
    * edges, then 2 synchronous k=4 peel rounds — each round a degree
    * count over the surviving edges, a `deg >= 4` node filter, and an
    * edge filter to surviving endpoints; output is the last round's
    * survivors with that round's degree. */
  def kCoreOracleSql: String = {
    def round(r: Int): String =
      s"""d$r AS (SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM u${r - 1} UNION ALL SELECT b FROM u${r - 1})
         |  GROUP BY v),
         |k$r AS (SELECT v, deg FROM d$r WHERE deg >= 4),
         |u$r AS (SELECT a, b FROM u${r - 1}
         |  WHERE a IN (SELECT v FROM k$r) AND b IN (SELECT v FROM k$r))""".stripMargin
    s"""$knnEdgesPrefixSql,
       |u0 AS (SELECT DISTINCT least(id, nbr_id) AS a, greatest(id, nbr_id) AS b
       |  FROM g0 WHERE id <> nbr_id),
       |${round(1)},
       |${round(2)}
       |SELECT v AS vec_id, CAST(deg AS BIGINT) AS deg
       |FROM k2 ORDER BY vec_id""".stripMargin
  }

  /** Replays q136: uniform fixed-point start mass, 3 rounds of
    * `(15·base)//100 + (85·insum)//100`, final rank ordered ties-to-id. */
  def pageRankOracleSql: String = {
    val rounds = (1 to 3).map(r =>
      prRoundSql(r, "(15 * b.base) // 100 + (85 * coalesce(s.insum, 0)) // 100"))
      .mkString(",\n")
    s"""$knnEdgesPrefixSql,
       |b AS (SELECT id, CAST(1000000000000 // n AS BIGINT) AS base FROM nodes, nn),
       |r0 AS (SELECT id, base, base AS pr FROM b),
       |$rounds
       |SELECT id AS vec_id, pr,
       |  CAST(row_number() OVER (ORDER BY pr DESC, id) AS INT) AS rk
       |FROM r3 ORDER BY rk""".stripMargin
  }

  /** Replays q137: the 15% teleport mass split across the 5 seeds, then
    * 3 diffusion rounds `base + (85·insum)//100`; only reached nodes
    * (pr > 0) are returned. */
  def pprOracleSql: String = {
    val rounds = (1 to 3).map(r =>
      prRoundSql(r, "b.base + (85 * coalesce(s.insum, 0)) // 100"))
      .mkString(",\n")
    s"""$knnEdgesPrefixSql,
       |seeds AS (SELECT DISTINCT vec_id AS id FROM embeddings WHERE vec_id < 5),
       |ns AS (SELECT count(*) AS ns FROM seeds),
       |b AS (SELECT n.id, CASE WHEN s.id IS NOT NULL
       |    THEN CAST(((15 * 1000000000000) // 100) // ns AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS base
       |  FROM nodes n LEFT JOIN seeds s ON n.id = s.id, ns),
       |r0 AS (SELECT id, base, base AS pr FROM b),
       |$rounds
       |SELECT id AS vec_id, base AS teleport, pr
       |FROM r3 WHERE pr > 0 ORDER BY vec_id""".stripMargin
  }

  /** Replays q138: the q135 assignment CTE keeps the vectors; train/eval
    * split by `vec_id % 17`, cell-scoped pairs at cosine ≥ 0.35 (the
    * `1.0 - (1.0 - sim)` double-rounding replay), per-train hit count +
    * exact max cosine + witness (highest cosine, ties to smaller eval
    * id); clean docs kept with zero hits. */
  def semanticContaminationOracleSql: String =
    s"""WITH $codebookCte,
      |a0 AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
      |    c.cid AS centroid_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
      |  FROM embeddings e, c),
      |a AS (SELECT vec_id, v, centroid_id FROM a0 WHERE rn = 1),
      |t AS (SELECT * FROM a WHERE vec_id % 17 <> 3),
      |ev AS (SELECT * FROM a WHERE vec_id % 17 = 3),
      |h AS (SELECT t.vec_id AS id, ev.vec_id AS eid,
      |    1.0 - (1.0 - list_cosine_similarity(t.v, ev.v)) AS cos
      |  FROM t JOIN ev ON t.centroid_id = ev.centroid_id
      |  WHERE 1.0 - (1.0 - list_cosine_similarity(t.v, ev.v)) >= 0.35),
      |s AS (SELECT id, CAST(count(*) AS BIGINT) AS n_eval_hits,
      |    max(cos) AS max_cosine
      |  FROM h GROUP BY id),
      |w AS (SELECT id, eid FROM (
      |    SELECT id, eid,
      |      row_number() OVER (PARTITION BY id ORDER BY cos DESC, eid) AS rn
      |    FROM h) WHERE rn = 1)
      |SELECT t.vec_id, t.centroid_id,
      |  CAST(coalesce(s.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
      |  round(s.max_cosine, 6) AS max_cosine, w.eid AS witness_eid,
      |  s.id IS NOT NULL AS contaminated
      |FROM t LEFT JOIN s ON t.vec_id = s.id LEFT JOIN w ON t.vec_id = w.id
      |ORDER BY t.vec_id""".stripMargin

  /** Replays q139: the q101 graph, seed labels clamped, two synchronous
    * majority-vote rounds (count DESC, label ASC ties); a node with no
    * labeled in-neighbor keeps its previous label (or stays NULL). */
  def labelPropagationOracleSql: String = {
    def round(r: Int): String =
      s"""v$r AS (SELECT g.nbr_id AS dst, l.label, count(*) AS n
         |  FROM g0 g JOIN l${r - 1} l ON g.id = l.id
         |  WHERE l.label IS NOT NULL GROUP BY g.nbr_id, l.label),
         |b$r AS (SELECT dst, label AS vote FROM (
         |    SELECT dst, label,
         |      row_number() OVER (PARTITION BY dst ORDER BY n DESC, label) AS rn
         |    FROM v$r) WHERE rn = 1),
         |l$r AS (SELECT l.id, l.seed,
         |    coalesce(l.seed, b.vote, l.label) AS label
         |  FROM l${r - 1} l LEFT JOIN b$r b ON l.id = b.dst)""".stripMargin
    s"""$knnEdgesPrefixSql,
       |seeds AS (SELECT DISTINCT vec_id AS id, CAST(label AS INT) AS seed
       |  FROM embeddings WHERE vec_id < 200),
       |l0 AS (SELECT n.id, s.seed, s.seed AS label
       |  FROM nodes n LEFT JOIN seeds s USING (id)),
       |${round(1)},
       |${round(2)}
       |SELECT id AS vec_id, label,
       |  CASE WHEN seed IS NOT NULL THEN 'seed'
       |    WHEN label IS NOT NULL THEN 'propagated'
       |    ELSE 'unlabeled' END AS origin
       |FROM l2 ORDER BY vec_id""".stripMargin
  }

  /** Replays q135: the q35 assignment CTE scopes pairs to cells; the
    * `1.0 - (1.0 - sim)` form replays Spark's cosine double rounding
    * (q36), and the loser of each >= 0.35 pair is the member closer to
    * its centroid (tie: larger id) — cap mirrored like the LSH oracles. */
  def semanticDedupOracleSql: String =
    s"""WITH $codebookCte,
       |a0 AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
       |    c.cid AS centroid_id,
       |    list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS centroid_dist,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
       |  FROM embeddings e, c),
       |a AS (SELECT vec_id, v, centroid_id, centroid_dist FROM a0 WHERE rn = 1),
       |ac AS (SELECT * FROM a
       |  QUALIFY COUNT(*) OVER (PARTITION BY centroid_id) <= $MaxBucket),
       |losers AS (SELECT DISTINCT
       |    CASE WHEN x.centroid_dist < y.centroid_dist THEN x.vec_id
       |      WHEN x.centroid_dist > y.centroid_dist THEN y.vec_id
       |      ELSE greatest(x.vec_id, y.vec_id) END AS lid
       |  FROM ac x JOIN ac y
       |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
       |  WHERE 1.0 - (1.0 - list_cosine_similarity(x.v, y.v)) >= 0.35)
       |SELECT a.vec_id, a.centroid_id,
       |  round(a.centroid_dist, 6) AS centroid_dist,
       |  l.lid IS NULL AS kept
       |FROM a LEFT JOIN losers l ON a.vec_id = l.lid
       |ORDER BY a.vec_id""".stripMargin

  /** Replays q126's full real-codec pipeline arithmetically: GIF is
    * lossless for gray, so generator pixels → integer 2×2 pool → aHash63 →
    * the same 4×16-band Hamming join as the q113 oracle. */
  def imageNearDupOracleSql: String =
    s"""WITH px AS (
       |  SELECT doc_id, i % 16 AS x, i // 16 AS y,
       |    ((((i % 16) * 7 + (i // 16) * 13 + (doc_id % 20) * 31) % 256
       |      + CASE WHEN (i % 16) = doc_id % 16 AND (i // 16) = (doc_id // 16) % 16
       |          THEN 1 + doc_id % 7 ELSE 0 END) % 256) AS v
       |  FROM documents, unnest(range(0, 256)) t(i) WHERE doc_id < 400),
       |blocks AS (
       |  SELECT doc_id, (y // 2) * 8 + (x // 2) AS j, sum(v) // 4 AS bv
       |  FROM px GROUP BY doc_id, (y // 2) * 8 + (x // 2)),
       |m AS (SELECT doc_id, sum(bv) / 64.0 AS mean FROM blocks GROUP BY doc_id),
       |h AS (SELECT b.doc_id,
       |    CAST(sum(CASE WHEN b.j < 63 AND CAST(b.bv AS DOUBLE) > m.mean
       |      THEN (CAST(1 AS BIGINT) << CAST(b.j AS INT)) ELSE 0 END) AS BIGINT) AS sh
       |  FROM blocks b JOIN m ON b.doc_id = m.doc_id GROUP BY b.doc_id),
       |banded0 AS (
       |  SELECT doc_id, sh, b, (sh >> CAST(b * 16 AS INT)) & 65535 AS band_hash
       |  FROM h, unnest(range(0, 4)) AS t(b)),
       |banded AS (
       |  SELECT * FROM banded0
       |  QUALIFY COUNT(*) OVER (PARTITION BY b, band_hash) <= $MaxBucket),
       |pairs AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |    greatest(x.doc_id, y.doc_id) AS doc_b,
       |    CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
       |  FROM banded x JOIN banded y
       |    ON x.b = y.b AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  /** Hyperplane sign-bit code of DOUBLE[] column `v`, replayed with
    * Spark's association: left fold in array order (list_reduce's
    * first-element init == aggregate's 0.0+p1). */
  def hyperplaneBitsSql(v: String, nBits: Int): String = {
    val planes = operators.Similarity.hyperplanePlanes(64, nBits)
    planes.zipWithIndex.map { case (plane, b) =>
      val lits = plane.mkString("[", ", ", "]")
      s"CASE WHEN list_reduce(list_transform(range(1, 65), " +
        s"i -> $v[CAST(i AS INT)] * ($lits)[CAST(i AS INT)]), (a, c) -> a + c) >= 0 " +
        s"THEN ${1L << b} ELSE 0 END"
    }.mkString("(", "\n    + ", ")")
  }

  /** Replays q219: per declared (table, lhs, rhs) candidate, distinct
    * pairs → per-lhs rhs counts → class/violation/max rollup, unioned. */
  def fdAuditOracleSql: String = {
    val cands = Seq(("orders", "o_orderkey", "o_custkey"),
      ("orders", "o_custkey", "o_orderpriority"),
      ("lineitem", "l_orderkey", "l_suppkey"),
      ("lineitem", "l_partkey", "l_suppkey"))
    cands.map { case (t, l, r) =>
      s"""SELECT '$l' AS lhs_col, '$r' AS rhs_col,
         |  CAST(count(*) AS BIGINT) AS n_classes,
         |  CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  CAST(MAX(nr) AS BIGINT) AS max_rhs_per_class,
         |  SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT l, CAST(count(*) AS BIGINT) AS nr
         |  FROM (SELECT DISTINCT $l AS l, $r AS r FROM $t) GROUP BY l)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY lhs_col, rhs_col")
  }

  /** Replays q214: hyperplane sign-cells over the embedding corpus, core
    * cells at minPts = 10, components of the Hamming-1 core-cell graph
    * via a recursive reach (≤ 64 nodes), labels = least cell in the
    * component; isolated core cells label themselves; non-core cells are
    * NULL-cluster noise. */
  def gridDbscanOracleSql: String = {
    val bits = hyperplaneBitsSql("v", 6)
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, CAST($bits AS BIGINT) AS cell FROM e),
       |cc AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_pts
       |  FROM b GROUP BY cell),
       |core AS (SELECT cell FROM cc WHERE n_pts >= 10),
       |edges AS (SELECT a.cell AS s, b2.cell AS d
       |  FROM core a JOIN core b2 ON bit_count(xor(a.cell, b2.cell)) = 1),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s),
       |lab AS (SELECT c.cell,
       |    least(c.cell, coalesce(m.md, c.cell)) AS cluster
       |  FROM core c LEFT JOIN
       |    (SELECT s, min(d) AS md FROM reach GROUP BY s) m ON c.cell = m.s)
       |SELECT b.vec_id AS id, b.cell, cc.n_pts,
       |  lab.cluster IS NOT NULL AS is_core, lab.cluster
       |FROM b JOIN cc USING (cell) LEFT JOIN lab ON b.cell = lab.cell
       |ORDER BY id""".stripMargin
  }

  /** Replays q224: the query row's sub-vectors come from the table (the
    * Spark side folds the same values in as literals — float→double is
    * exact, so the products coincide); 8×8 dots as fixed-order
    * list_reduce folds, Σ of per-query-slice maxima, top-10 by the
    * unrounded score. */
  def maxSimOracleSql: String = {
    def dot(ds: Int, qs: Int): String =
      s"list_reduce(list_transform(range(1, 9), " +
        s"i -> v[${ds * 8} + CAST(i AS INT)] * qv[${qs * 8} + CAST(i AS INT)]), " +
        "(a, c) -> a + c)"
    val score = (0 until 8).map { qs =>
      "greatest(" + (0 until 8).map(ds => dot(ds, qs)).mkString(",\n      ") + ")"
    }.mkString("(", ")\n    + (", ")")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings)
       |SELECT vec_id, round(s, 6) AS maxsim FROM (
       |  SELECT vec_id, $score AS s
       |  FROM e, q ORDER BY s DESC, vec_id LIMIT 10)""".stripMargin
  }

  def embeddingNearDupOracleSql: String = {
    val bits = hyperplaneBitsSql("v", 4)
    // 1.0 - (1.0 - sim) replays the Spark side's double rounding exactly
    val cosine = "1.0 - (1.0 - list_cosine_similarity(x.v, y.v))"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b0 AS (SELECT vec_id, v, $bits AS bucket FROM e),
       |b AS (SELECT * FROM b0
       |  QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= $MaxBucket)
       |SELECT least(x.vec_id, y.vec_id) AS doc_a,
       |  greatest(x.vec_id, y.vec_id) AS doc_b,
       |  round($cosine, 6) AS cosine
       |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |WHERE $cosine >= 0.25
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Replays q328: the 8 seeded Gaussian planes as literals (identical
    * to the Spark expression's), the same 0-seeded left-fold dot
    * products, true and 1/sqrt(8)-rescaled projected euclidean distances
    * rounded to 6 before the ratio. */
  def jlDistortionOracleSql: String = {
    val planes = operators.Similarity.hyperplanePlanes(64, 8)
    val projs = planes.map { plane =>
      val lits = plane.mkString("[", ", ", "]")
      s"list_reduce(list_transform(range(1, 65), " +
        s"i -> v[CAST(i AS INT)] * ($lits)[CAST(i AS INT)]), (a, c) -> a + c)"
    }.mkString("list_value(\n    ", ",\n    ", ")")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 40),
       |p AS (SELECT vec_id, v, $projs AS pj FROM e),
       |pr AS (SELECT x.vec_id AS a, y.vec_id AS b,
       |    round(sqrt(list_reduce(list_transform(range(1, 65),
       |      i -> (x.v[CAST(i AS INT)] - y.v[CAST(i AS INT)])
       |        * (x.v[CAST(i AS INT)] - y.v[CAST(i AS INT)])),
       |      (acc, c) -> acc + c)), 6) AS d_true,
       |    round(sqrt(list_reduce(list_transform(range(1, 9),
       |      i -> (x.pj[CAST(i AS INT)] - y.pj[CAST(i AS INT)])
       |        * (x.pj[CAST(i AS INT)] - y.pj[CAST(i AS INT)])),
       |      (acc, c) -> acc + c) / 8), 6) AS d_proj
       |  FROM p x JOIN p y ON x.vec_id < y.vec_id)
       |SELECT a, b, d_true, d_proj,
       |  CASE WHEN d_true > 0 THEN round(d_proj / d_true, 6) END AS ratio
       |FROM pr ORDER BY a, b""".stripMargin
  }

  /** Replays q333: the winnowing per-step k-gram fold, cut positions
    * where hash % 32 = 0 (1-based i=2.. ⇔ Spark pos=1..), segments from
    * the prepended start list, then the shared-distinct-chunk audit. */
  def cdcChunksOracleSql: String =
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 150
      |  UNION ALL SELECT doc_id + 3000, 'inserted preamble ' || text
      |  FROM documents WHERE doc_id < 150),
      |codes AS (SELECT doc_id, text, length(text) AS n,
      |    list_transform(range(1, length(text) + 1),
      |      i -> CAST(unicode(substring(text, CAST(i AS INT), 1)) AS BIGINT)) AS cs
      |  FROM corpus WHERE length(text) >= 1),
      |khash AS (SELECT doc_id, text, n,
      |    list_transform(range(1, len(cs) - 6),
      |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(cs, i, i + 7)),
      |        (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
      |  FROM codes),
      |st AS (SELECT doc_id, text, n,
      |    list_prepend(CAST(1 AS BIGINT),
      |      list_filter(range(2, len(hs) + 1), i -> hs[CAST(i AS INT)] % 32 = 0)) AS ss
      |  FROM khash),
      |ch AS (SELECT doc_id,
      |    substring(text, CAST(ss[CAST(i AS INT)] AS INT),
      |      CAST(COALESCE(ss[CAST(i + 1 AS INT)], n + 1) - ss[CAST(i AS INT)] AS INT)) AS chunk
      |  FROM st, unnest(range(1, len(ss) + 1)) AS u(i)),
      |a AS (SELECT DISTINCT doc_id, chunk FROM ch WHERE doc_id < 3000),
      |b AS (SELECT DISTINCT doc_id - 3000 AS doc_id, chunk FROM ch
      |  WHERE doc_id >= 3000),
      |na AS (SELECT doc_id, count(*) AS n_chunks_orig FROM a GROUP BY doc_id),
      |nb AS (SELECT doc_id, count(*) AS n_chunks_twin FROM b GROUP BY doc_id),
      |sh AS (SELECT a.doc_id, count(*) AS n_shared
      |  FROM a JOIN b USING (doc_id, chunk) GROUP BY a.doc_id)
      |SELECT na.doc_id, n_chunks_orig, n_chunks_twin,
      |  COALESCE(n_shared, 0) AS n_shared,
      |  CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_chunks_orig AS shared_frac
      |FROM na JOIN nb USING (doc_id) LEFT JOIN sh USING (doc_id)
      |ORDER BY doc_id""".stripMargin
}
