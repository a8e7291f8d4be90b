package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Record linkage (entity resolution): block, score, keep best match.
  *
  * A training-data curation pipeline links records that describe the same
  * entity across sources (author pages, product listings, near-identical
  * profiles) before dedup can merge them. The scalable shape is always the
  * same three steps: (1) candidates from an equi-join on a BLOCKING key —
  * never a cross join; at 100 TB the blocking join is an ordinary shuffled
  * hash join and the block size bounds the quadratic term, (2) a cheap
  * similarity score per candidate pair, (3) best-match-per-record via a
  * `min_by` hash aggregate: partial aggregation collapses candidates
  * map-side inside the block partitions, so the only post-join shuffle
  * carries one row per (partition, left id) — a sort-window alternative
  * would shuffle and sort EVERY scored candidate.
  *
  * The score is character-trigram Jaccard over the same rolling-polynomial
  * hashes the dedup family uses (graft_shingle_polyhashes), so the DuckDB
  * oracle replays the identical arithmetic.
  */
object Linkage {

  /** Best right-side match per left row among same-block candidates with
    * trigram Jaccard ≥ threshold. Output: (l_id, matched_id, jaccard).
    * Both name columns must be non-empty with length ≥ shingle size. */
  def bestMatch(left: DataFrame, leftId: String,
                right: DataFrame, rightId: String,
                blockCol: String, nameCol: String,
                threshold: Double): DataFrame = {
    // Arrays are sorted ONCE per row here so the per-pair intersection is
    // a zero-allocation two-pointer merge: a block of size s scores s²
    // pairs but holds only 2s rows, so any per-pair set/collection build
    // (array_intersect, a HashSet) dominates the whole operator.
    def prep(df: DataFrame, id: String, pfx: String) =
      df.select(col(id).as(s"${pfx}_id"), col(blockCol).as(s"${pfx}_blk"),
        sort_array(call_function("graft_shingle_polyhashes",
          col(nameCol), lit(3))).as(s"${pfx}_h"))
    val l = prep(left, leftId, "l")
    val r = prep(right, rightId, "r")
    val inter = call_function("graft_inter_size_sorted", col("l_h"), col("r_h"))
    // ordering struct: highest jaccard first, smallest r_id on ties —
    // struct comparison is lexicographic, so min_by over (-jaccard, r_id)
    // is exactly ROW_NUMBER() OVER (ORDER BY jaccard DESC, r_id) = 1,
    // but runs as a combinable hash aggregate instead of a global sort.
    l.join(r, col("l_blk") === col("r_blk"))
      .withColumn("_inter", inter)
      .withColumn("jaccard",
        col("_inter").cast("double") /
          (size(col("l_h")) + size(col("r_h")) - col("_inter")))
      .filter(col("jaccard") >= threshold)
      .groupBy("l_id")
      .agg(min_by(struct(col("r_id"), col("jaccard")),
        struct(-col("jaccard"), col("r_id"))).as("_best"))
      .select(col("l_id"), col("_best.r_id").as("matched_id"),
        col("_best.jaccard").as("jaccard"))
  }

  /** Golden-record survivorship: collapse each linkage/dedup cluster to
    * ONE canonical record — the step after [[bestMatch]]/
    * [[Dedup.dedupClusters]] that master-data pipelines call "merge &
    * survive". Per cluster: `canonical_id` = smallest member id,
    * `n_members` = cluster size, each categorical field resolves to its
    * MODE (most frequent value, ties to the lexicographically smallest —
    * fully deterministic), and each numeric field in `maxCols` to its MAX
    * (longest text, latest timestamp, etc.).
    *
    * Scale shape: one `groupBy(cluster, value)` count per categorical
    * field (map-side combinable — a million-member cluster ships one row
    * per distinct value per partition, never the members), then a
    * `min_by(struct(-cnt, value))` argmax per cluster; numeric max folds
    * into a single aggregate. No windows, no sorts, no member collection.
    * `records` must carry `clusterCol`; fields not listed survive via the
    * canonical member implicitly (join back on canonical_id if needed). */
  def goldenRecords(records: DataFrame, idCol: String, clusterCol: String,
                    modeCols: Seq[String], maxCols: Seq[String]): DataFrame = {
    val aggs = min(col(idCol)).as("canonical_id") +:
      count(lit(1)).as("n_members") +: maxCols.map(c => max(col(c)).as(c))
    val base = records.groupBy(col(clusterCol).as("cluster_id"))
      .agg(aggs.head, aggs.tail: _*)
    modeCols.foldLeft(base) { (acc, c) =>
      val mode = records
        .groupBy(col(clusterCol).as("cluster_id"), col(c).as("_v"))
        .agg(count(lit(1)).as("_cnt"))
        .groupBy("cluster_id")
        .agg(min_by(col("_v"), struct(-col("_cnt"), col("_v"))).as(c))
      acc.join(mode, "cluster_id")
    }
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo 1995): rank all
    * records by the sort key, pair each record with the next
    * `window − 1` in key order, verify candidates with exact Levenshtein
    * ≤ `maxDist`. The complementary blocking strategy to [[bestMatch]]'s
    * hash blocks — near-identical strings land adjacent even when a typo
    * changes their hash block. Candidate generation is `window − 1`
    * EQUI-joins on rank (never a range join); the global rank is the
    * sort-on-write discipline (range-partition by the key at 100 TB —
    * window-crossing pairs survive because pairing is by rank offset,
    * not by partition). */
  def sortedNeighborhood(df: DataFrame, idCol: String, nameCol: String,
                         window: Int, maxDist: Int): DataFrame = {
    require(window >= 2, "sortedNeighborhood: window must be >= 2")
    val ranked = df
      .select(col(idCol).as("id"), col(nameCol).as("name"))
      .withColumn("r", row_number()
        .over(org.apache.spark.sql.expressions.Window.orderBy("name", "id"))
        .cast("long"))
    val right = ranked.select(col("r").as("r2"), col("id").as("id_b"),
      col("name").as("name_b"))
    (1 until window).map { o =>
      ranked.select(col("id").as("id_a"), col("name").as("name_a"),
        (col("r") + o).as("r2"))
    }.reduce(_ unionByName _)
      .join(right, "r2")
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "name_a", "name_b", "dist")
  }

  /** LOSSLESS edit-distance self-join via positional q-gram count
    * filtering (Gravano et al., VLDB 2001) — the exact sibling of
    * [[sortedNeighborhood]] (which can miss pairs that sort far apart):
    * every pair with Levenshtein distance ≤ `maxDist`, guaranteed.
    *
    * Count-filter principle: one edit operation destroys at most `q`
    * q-grams, so d(a,b) ≤ k implies the multiset q-gram intersection is
    * ≥ max(|a|,|b|) − q + 1 − k·q. Candidates come from an equi-join on
    * (gram, occurrence-index) — the occurrence index makes the join count
    * MULTISET intersection exactly — and only pairs passing the count and
    * length filters pay a `levenshtein` verify. Strings shorter than
    * q·(k+1) (where the bound degenerates to 0 and a pair could share no
    * gram at all) are excluded — route them to a tiny brute-force bucket.
    *
    * Scale shape: shuffles key on (gram, occ) then (pair); common grams
    * fan out, so at 100 TB this runs AFTER blocking (per
    * sorted-neighborhood window or LSH bucket) where the zero-miss
    * guarantee is contractual — never corpus-wide raw. */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
                       maxDist: Int, q: Int = 2): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= q * (maxDist + 1))
    val grams = base.select(col("id"), length(col("s")).as("len"),
        posexplode(expr(
          s"transform(sequence(1, length(s) - ${q - 1}), i -> substring(s, i, $q))"))
          .as(Seq("pos", "gram")))
      .withColumn("occ", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id", "gram").orderBy("pos")))
      .select("id", "len", "gram", "occ")
    val shared = grams.select(col("id").as("id_a"), col("len").as("len_a"),
        col("gram"), col("occ"))
      .join(grams.select(col("id").as("id_b"), col("len").as("len_b"),
        col("gram"), col("occ")), Seq("gram", "occ"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .groupBy("id_a", "id_b", "len_a", "len_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >=
        greatest(col("len_a"), col("len_b")) - (q - 1) - maxDist * q)
    shared
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Blocking-scheme quality against known truth: reduction ratio
    * RR = 1 − |candidates| / C(n,2) (how much comparison work blocking
    * saves) and pairs completeness PC = |candidates ∩ truth| / |truth|
    * (how many true matches survive it) — the two numbers that trade off
    * when choosing a blocking key; a scheme is only as good as its worst
    * of the two. Both pair frames carry canonical (a < b) pairs. Two
    * counts and one join on the (small) truth side. */
  def blockingQuality(candidates: DataFrame, aCol: String, bCol: String,
                      truth: DataFrame, taCol: String, tbCol: String,
                      nRecords: Long): DataFrame = {
    val cand = candidates.select(col(aCol).as("a"), col(bCol).as("b"))
    val tru = truth.select(col(taCol).as("a"), col(tbCol).as("b"))
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    val nt = tru.agg(count(lit(1)).as("n_true"))
    val nf = cand.join(tru, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    val allPairs = nRecords * (nRecords - 1) / 2
    nc.crossJoin(nt).crossJoin(nf)
      .select(col("n_candidates"), col("n_true"), col("n_found"),
        round(lit(1.0) - col("n_candidates").cast("double") / allPairs, 6)
          .as("reduction_ratio"),
        round(col("n_found").cast("double") / col("n_true"), 6)
          .as("pairs_completeness"))
  }

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969) — the
    * statistical backbone of every production ER system: each comparison
    * field contributes log-evidence ln(m/u) on agreement and
    * ln((1−m)/(1−u)) on disagreement, where u (chance-agreement
    * probability of two RANDOM records) is estimated from the field's
    * value distribution as Σ(n_v/N)² and m (agreement probability of
    * true matches) is the supplied prior. A pair's score is the sum over
    * fields — the log-likelihood ratio match/non-match.
    *
    * Scale shape: u needs one tiny aggregate per field (value counts →
    * Σn², decimal-exact) that crossJoin-broadcasts back as a scalar; the
    * pair stream comes from the caller's BLOCKING join (here: equi-join
    * on `blockCol`), so the corpus never goes quadratic. The field-sum
    * uses a fixed left-to-right association so an external engine
    * replays the doubles bit-for-bit. Returns (id_a, id_b, n_agree,
    * score). */
  def fellegiSunter(df: DataFrame, idCol: String, blockCol: String,
                    fields: Seq[String], mProb: Double = 0.95): DataFrame = {
    require(fields.nonEmpty, "fellegiSunter: no comparison fields")
    val n = df.count() // driver scalar: one tiny job, embeds as literal
    val uStats = fields.map { f =>
      df.groupBy(col(f)).agg(count(lit(1)).as("_c"))
        .agg((sum((col("_c") * col("_c")).cast("decimal(38,0)"))
          .cast("double") / (lit(n.toDouble) * n)).as(s"_u_$f"))
    }.reduce(_ crossJoin _)
    val a = df.select(col(blockCol).as("_blk") +: col(idCol).as("id_a") +:
      fields.map(f => col(f).as(s"${f}_a")): _*)
    val b = df.select(col(blockCol).as("_blk") +: col(idCol).as("id_b") +:
      fields.map(f => col(f).as(s"${f}_b")): _*)
    val pairs = a.join(b, Seq("_blk")).filter(col("id_a") < col("id_b"))
      .crossJoin(broadcast(uStats))
    val score = fields.map { f =>
      when(col(s"${f}_a") === col(s"${f}_b"),
        log(lit(mProb) / col(s"_u_$f")))
        .otherwise(log(lit(1.0 - mProb) / (lit(1.0) - col(s"_u_$f"))))
    }.reduce(_ + _) // left fold: fixed association for exact replay
    val nAgree = fields.map(f =>
      when(col(s"${f}_a") === col(s"${f}_b"), 1L).otherwise(0L)).reduce(_ + _)
    pairs.select(col("id_a"), col("id_b"), nAgree.as("n_agree"),
      score.as("score"))
  }

  /** Phonetic blocking table (American Soundex): each distinct word keyed
    * by its 4-char sound code, rolled up into blocks with member lists —
    * step (1) of entity resolution when the variation is SPELLING of the
    * same sound ("smith"/"smyth"), which edit-distance blocking misses at
    * distance budgets that stay selective. Uses Spark's builtin
    * `soundex` (codegen'd, no UDF); the oracle replays the algorithm as
    * a translate → per-digit run-collapse → pad SQL chain (RE2 has no
    * backreferences, so runs collapse one digit class at a time).
    *
    * Scale shape: one distinct + one hash aggregate over the word
    * vocabulary — sub-linear in the corpus (vocabulary-sized). */
  /** Best right-word match per left row by native bigram-Dice
    * similarity, candidates blocked on the first letter. The verifier is
    * [[graft.plans.StringExpressions.BigramDiceExpr]] — a codegen'd
    * scalar, so scoring rides the blocking join's fused loop instead of
    * paying the explode→group sub-pipeline per pair that the SQL form
    * costs. Tie-break: higher dice, then lexicographically first right
    * word. Per-key candidate lists are block-bounded (vocabulary-sized),
    * so the rank window never sees more than a block. */
  def diceBestMatch(left: DataFrame, leftId: String, leftWord: String,
                    right: DataFrame, rightWord: String): DataFrame = {
    val l = left.select(col(leftId).as("l_id"), col(leftWord).as("lw"),
      substring(col(leftWord), 1, 1).as("_blk"))
    val r = right.select(col(rightWord).as("rw"),
      substring(col(rightWord), 1, 1).as("_blk")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_id")
      .orderBy(col("dice").desc, col("rw"))
    l.join(r, Seq("_blk"))
      .withColumn("dice", expr("graft_bigram_dice(lw, rw)"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("l_id"), col("lw"), col("rw").as("best_match"),
        round(col("dice"), 6).as("dice"))
  }

  /** [[diceBestMatch]] with the Jaro-Winkler comparator
    * ([[graft.plans.StringExpressions.JaroWinklerExpr]]): the
    * transposition-tolerant best match — adjacent-swap typos keep JW
    * near 1 where bigram Dice loses both affected bigrams. Same
    * first-letter blocking, same block-bounded rank window; rows whose
    * best candidate scores below `minJw` are dropped (the linkage
    * REJECT band). */
  def jaroWinklerBestMatch(left: DataFrame, leftId: String,
                           leftWord: String, right: DataFrame,
                           rightWord: String,
                           minJw: Double = 0.0): DataFrame = {
    val l = left.select(col(leftId).as("l_id"), col(leftWord).as("lw"),
      substring(col(leftWord), 1, 1).as("_blk"))
    val r = right.select(col(rightWord).as("rw"),
      substring(col(rightWord), 1, 1).as("_blk")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_id")
      .orderBy(col("jw").desc, col("rw"))
    l.join(r, Seq("_blk"))
      .withColumn("jw", expr("graft_jaro_winkler(lw, rw)"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1 && col("jw") >= minJw)
      .select(col("l_id"), col("lw"), col("rw").as("best_match"),
        round(col("jw"), 6).as("jw"))
  }

  /** Phonetic blocking table (American Soundex): each distinct word keyed
    * by its 4-char sound code, rolled up into blocks with member lists —
    * step (1) of entity resolution when the variation is SPELLING of the
    * same sound ("smith"/"smyth"), which edit-distance blocking misses at
    * distance budgets that stay selective. Uses Spark's builtin
    * `soundex` (codegen'd, no UDF); the oracle replays the algorithm as
    * a translate → per-digit run-collapse → pad SQL chain (RE2 has no
    * backreferences, so runs collapse one digit class at a time).
    *
    * Scale shape: one distinct + one hash aggregate over the word
    * vocabulary — sub-linear in the corpus (vocabulary-sized). */
  def phoneticBlocks(words: DataFrame, wordCol: String): DataFrame =
    words.select(col(wordCol).as("w")).filter(col("w") =!= "").distinct()
      .withColumn("sdx", soundex(upper(col("w"))))
      .groupBy("sdx")
      .agg(countDistinct("w").as("n_words"),
        concat_ws(",", sort_array(collect_set("w"))).as("members"))

  /** Fellegi–Sunter with EM-LEARNED parameters (the Splink/fastLink
    * core; Winkler 1988) instead of [[fellegiSunter]]'s assumed m: the
    * blocked pairs collapse to ≤2^K AGREEMENT-PATTERN counts (K =
    * comparison fields), and `iters` EM rounds run on that tiny table —
    * E-step: w(pattern) = π·Πm / (π·Πm + (1−π)·Πu); M-step: π, m_k,
    * u_k re-estimated from w-weighted pattern counts. The corpus is
    * touched ONCE (pattern aggregation); EM cost is independent of
    * data size — the property that makes learned linkage viable at
    * 100 TB.
    *
    * Starts are fixed literals (π=0.1, m=0.9, u=0.1); every E/M step
    * is a fixed double expression tree over the exact pattern counts
    * (products left-fold in field order), so `iters` rounds replay
    * engine-identically. Returns one row per field:
    * (field, m, u, agree_weight = m/u, pi) — agree_weight is the
    * evidence ratio a field agreement contributes. */
  def fellegiSunterEm(df: DataFrame, idCol: String, blockCol: String,
                      fields: Seq[String], iters: Int = 3): DataFrame = {
    require(fields.nonEmpty && fields.size <= 6 && iters >= 1,
      "need 1..6 fields and iters >= 1")
    val k = fields.size
    val a = df.select(col(blockCol).as("_blk") +: col(idCol).as("id_a") +:
      fields.map(f => col(f).as(s"${f}_a")): _*)
    val b = df.select(col(blockCol).as("_blk") +: col(idCol).as("id_b") +:
      fields.map(f => col(f).as(s"${f}_b")): _*)
    val bits = fields.zipWithIndex.map { case (f, i) =>
      when(col(s"${f}_a") === col(s"${f}_b"), 1L).otherwise(0L).as(s"a$i")
    }
    val patterns = a.join(b, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .select(bits: _*)
      .groupBy((0 until k).map(i => col(s"a$i")): _*)
      .agg(count(lit(1)).as("c"))
    // params as a 1-row frame: pi, m_0..m_{k-1}, u_0..u_{k-1}
    val s = df.sparkSession
    val init = s.range(1).select(lit(0.1).as("pi") +:
      ((0 until k).map(i => lit(0.9).as(s"m$i")) ++
        (0 until k).map(i => lit(0.1).as(s"u$i"))): _*)
    val d18 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,18)")
    val fin = (1 to iters).foldLeft(init) { (params, _) =>
      val withW = patterns.crossJoin(broadcast(params))
        .withColumn("pm", (0 until k).foldLeft(col("pi")) { (acc, i) =>
          acc * when(col(s"a$i") === 1, col(s"m$i"))
            .otherwise(lit(1.0) - col(s"m$i"))
        })
        .withColumn("pu", (0 until k).foldLeft(lit(1.0) - col("pi")) {
          (acc, i) =>
            acc * when(col(s"a$i") === 1, col(s"u$i"))
              .otherwise(lit(1.0) - col(s"u$i"))
        })
        .withColumn("w", col("pm") / (col("pm") + col("pu")))
      val aggs =
        sum(d18(col("w") * col("c"))).cast("double").as("_wc") +:
          sum(d18((lit(1.0) - col("w")) * col("c"))).cast("double")
            .as("_vc") +:
          sum(d18(col("c"))).cast("double").as("_c") +:
          ((0 until k).map(i =>
            sum(d18(col("w") * col("c") * col(s"a$i"))).cast("double")
              .as(s"_wa$i")) ++
            (0 until k).map(i =>
              sum(d18((lit(1.0) - col("w")) * col("c") * col(s"a$i")))
                .cast("double").as(s"_va$i")))
      withW.agg(aggs.head, aggs.tail: _*)
        .select((col("_wc") / col("_c")).as("pi") +:
          ((0 until k).map(i => (col(s"_wa$i") / col("_wc")).as(s"m$i")) ++
            (0 until k).map(i =>
              (col(s"_va$i") / col("_vc")).as(s"u$i"))): _*)
    }
    import s.implicits._
    val names = fields.zipWithIndex.toDF("field", "i")
    names.crossJoin(broadcast(fin))
      .withColumn("m", (0 until k).map(i =>
        when(col("i") === i, col(s"m$i"))).reduceRight(_ otherwise _))
      .withColumn("u", (0 until k).map(i =>
        when(col("i") === i, col(s"u$i"))).reduceRight(_ otherwise _))
      .select(col("field"), round(col("m"), 6).as("m"),
        round(col("u"), 6).as("u"),
        round(col("m") / col("u"), 6).as("agree_weight"),
        round(col("pi"), 6).as("pi"))
      .orderBy("field")
  }
}
