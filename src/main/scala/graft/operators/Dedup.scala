package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora.
  *
  * The reference deduplicates chunk content exactly, keeping the first
  * occurrence (reference: src/server/app/embed/vector_store.py:96-119
  * `_prepare_documents`) and keeps the highest-scored duplicate at retrieval
  * (mcp/tools/vs_retriever.py:130-151). This module implements those two plus
  * the near-duplicate family a training-data pipeline needs at 100 TB:
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale design notes:
  *  - Exact dedup hashes content to a fixed-width digest *before* the shuffle
  *    so the exchange carries 16-byte keys, not document bodies.
  *  - MinHash signatures are computed in one pass per document (map-side,
  *    no shuffle); only (band_hash → doc_id) pairs shuffle, which is
  *    `bands × docs` rows of ~24 bytes — independent of document size.
  *  - Candidate verification joins are equi-joins on band buckets, so
  *    Catalyst plans them as shuffled hash joins on uniformly-hashed keys;
  *    no skew unless the corpus is pathologically self-similar (mitigate by
  *    salting the degenerate empty-document bucket, which we drop up front).
  */
object Dedup {

  /** Exact dedup: keep one row per distinct `textCol`, choosing the row with
    * the smallest `orderCol` (first occurrence — reference
    * vector_store.py:112-118 keeps first).
    *
    * Implemented as `min_by` aggregation, not a window: partial aggregation
    * collapses duplicates map-side before the exchange, so a viral document
    * duplicated a million times costs one row per input partition on the
    * wire instead of hot-keying one reducer. Shuffle key is md5(text)
    * (16 bytes), never the document body. */
  def exactDedup(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(md5(col(textCol)).as("_key"))
      .agg(min_by(struct(cols.map(col): _*), col(orderCol)).as("_row"))
      .select(cols.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** Retrieval-side dedup: keep the highest-`scoreCol` row per distinct
    * content, ties broken by `tieCol` ascending
    * (reference: vs_retriever.py:130-151 keep-max). */
  def dedupKeepMax(df: DataFrame, textCol: String, scoreCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol)))
      .orderBy(col(scoreCol).desc, col(tieCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Distinct character n-gram shingles (first-occurrence order), served
    * by the native [[graft.plans.HashExpressions.ShinglesExpr]] — output
    * identical to the original Catalyst form
    * `when(length < n, array(text)).otherwise(array_distinct(transform(
    * sequence(0, length - n), i -> substring(text, i + 1, n))))`, whose
    * interpreted per-window lambda dominated every shingle-exploding
    * scan stage (measured r11: explode over the corpus 1.84 s -> 0.22 s,
    * same 1,021,477 rows). HashExpressionsSpec pins equality. */
  def shingleExpr(textCol: String, n: Int): Column = {
    call_function("graft_shingles", col(textCol), lit(n))
  }

  private def shingleSql(textCol: String, n: Int): String =
    s"case when length($textCol) < $n then array($textCol) else " +
      s"array_distinct(transform(sequence(0, length($textCol) - $n), i -> substring($textCol, i + 1, $n))) end"

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * Signature is split into `bands` bands of `numHashes/bands` rows; docs
    * sharing any band-hash become a candidate pair. Output:
    * (doc_a, doc_b, est_jaccard) with doc_a < doc_b, est_jaccard = fraction
    * of agreeing signature positions.
    *
    * Scale shape: signatures are computed in ONE pass (native expressions —
    * graft.plans.HashExpressions), then (band, id, sig) rows group by band
    * bucket and pairs expand bucket-locally. A self-join formulation would
    * evaluate the signature pipeline once per join side; here the corpus is
    * hashed once and the only exchange is the bucket groupBy. Buckets
    * larger than `maxBucketSize` are dropped — an over-full bucket is a
    * useless discriminator (standard LSH practice) and would otherwise
    * expand quadratically in one task.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 5, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5,
                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val banded = bandSignatures(df, idCol, textCol, shingleN, numHashes, bands)
    bucketPairs(banded, "sig", maxBucketSize)
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
        greatest(col("x.id"), col("y.id")).as("doc_b"),
        // est_jaccard is symmetric, so least/greatest id normalization is
        // safe; agreement count via the native graft_sig_agree (r12) —
        // same integer as the zip_with/filter form, no interpreted lambda
        // per candidate pair
        (call_function("graft_sig_agree", col("x.sig"), col("y.sig"))
          .cast("double") / lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold) // filter BEFORE the dedup shuffle
      .distinct()
  }

  /** Minhash-estimate calibration against exact Jaccard on the LSH
    * survivors: est − exact per candidate pair, folded to bias / MAE /
    * RMSE and the share of pairs within one hash-granule (1/numHashes —
    * the estimator's resolution floor). The tuning readout that decides
    * whether numHashes is worth raising BEFORE burning a corpus-scale
    * re-signature: bias ≈ 0 with MAE ≈ the binomial σ means the
    * signature is healthy; systematic bias means shingling mismatch.
    * Candidates with NO shared shingle get exact = 0 via left join +
    * coalesce (the q103 zero-hit-rows lesson). Exact Jaccard runs only
    * on [[ngramJaccardPairs]]'s shared-gram frame, never all-pairs. */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 5, numHashes: Int = 64,
                         bands: Int = 8,
                         threshold: Double = 0.5): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val est = minhashLshPairs(df, idCol, textCol, shingleN, numHashes,
      bands, threshold)
    val exact = ngramJaccardPairs(df, idCol, textCol, shingleN,
      threshold = 0.0)
    val granule = 1.0 / numHashes
    est.join(exact, Seq("doc_a", "doc_b"), "left")
      .withColumn("exact", coalesce(col("jaccard"), lit(0.0)))
      .withColumn("err", col("est_jaccard") - col("exact"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(d18(col("err"))).cast("double") / count(lit(1)), 6)
          .as("mean_err"),
        round(sum(d18(abs(col("err")))).cast("double") / count(lit(1)), 6)
          .as("mae"),
        round(sqrt(sum(d18(col("err") * col("err"))).cast("double") /
          count(lit(1))), 6).as("rmse"),
        round(sum(when(abs(col("err")) <= granule, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("share_within_granule"))
  }

  /** LSH candidate pairs VERIFIED by exact edit distance — the standard
    * two-stage near-dup pipeline: [[minhashLshPairs]] proposes (cheap,
    * set-semantics, order-blind), Levenshtein confirms (exact,
    * order-aware — it separates a true re-edit from a shuffled bag of
    * the same shingles, which Jaccard cannot). The O(len²) DP runs only
    * on the LSH survivors, never corpus-wide; texts join onto the pair
    * list by id, so the corpus is scanned once per side and only pair
    * rows carry text into the (codegen'd built-in) `levenshtein`.
    * Returns (doc_a, doc_b, est_jaccard, lev, edit_sim, verified) with
    * edit_sim = 1 − lev/max(len_a, len_b). */
  def editVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 5, numHashes: Int = 64, bands: Int = 16,
                        threshold: Double = 0.5, minEditSim: Double = 0.8,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, shingleN, numHashes,
      bands, threshold, maxBucketSize)
    val texts = df.select(col(idCol).as("_tid"), col(textCol).as("_txt"))
    pairs
      .join(texts.select(col("_tid"), col("_txt").as("_ta")),
        col("doc_a") === col("_tid")).drop("_tid")
      .join(texts.select(col("_tid"), col("_txt").as("_tb")),
        col("doc_b") === col("_tid")).drop("_tid")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        levenshtein(col("_ta"), col("_tb")).cast("long").as("lev"),
        (lit(1.0) - levenshtein(col("_ta"), col("_tb")).cast("double") /
          greatest(length(col("_ta")), length(col("_tb")))).as("edit_sim"))
      .withColumn("verified", col("edit_sim") >= minEditSim)
  }

  /** Per-doc LSH band signatures in STORABLE form: one row per (id, band)
    * with the full minhash signature and the band's bucket hash — the
    * table an incremental-ingest pipeline persists (written
    * `partitionBy(band_idx)` / bucketed by band_hash at scale) so that new
    * batches probe it without re-hashing the corpus
    * ([[incrementalDedupProbe]]). Also the internal first stage of
    * [[minhashLshPairs]]. */
  def bandSignatures(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 5, numHashes: Int = 64,
                     bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    val sig = df
      .filter(length(col(textCol)) > 0)
      .select(col(idCol).as("id"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_polyhashes", col(textCol), lit(shingleN)),
          lit(numHashes)).as("sig"))
    // band hash = polynomial fold over the band's signature values — like
    // the base hash, chosen over xxhash64 so the DuckDB oracle can replay
    // it. Native graft_band_hashes (r12): bit-identical to the
    // transform(sequence)/aggregate(slice) lambda it replaces
    // (HashExpressionsSpec pins equality), with the interpreted
    // per-band HOF cost gone from the signature scan
    sig.select(col("id"), col("sig"),
      posexplode(call_function("graft_band_hashes", col("sig"), lit(bands)))
        .as(Seq("band_idx", "band_hash")))
  }

  /** Incremental dedup: probe a NEW batch against STORED band signatures.
    * Candidates share any (band_idx, band_hash); est_jaccard is the
    * fraction of agreeing signature positions, thresholded like
    * [[minhashLshPairs]]. The stored side is only READ (and only its
    * matching band buckets, when persisted partitioned/bucketed on the
    * band key); only the new batch — typically orders of magnitude
    * smaller — is hashed, and it BROADCASTS into the join, so corpus
    * growth costs O(batch), not O(corpus), per ingest.
    *
    * Degenerate hot buckets are capped like the batch path: stored band
    * buckets larger than `maxBucketSize` are skipped BEFORE pairing, so a
    * pile of near-identical short documents can't fan out O(bucket×batch)
    * candidates. The cap counts the STORED bucket only (the batch path
    * counts the merged corpus bucket, which an un-merged probe cannot
    * see) — the q112 oracle replays this stored-side count exactly. The
    * count window touches only stored rows whose band key matched the
    * batch (a semi-join against the broadcast keys precedes it), keeping
    * the shuffle O(matched), not O(corpus). Returns
    * (new_id, stored_id, est_jaccard). */
  def incrementalDedupProbe(storedSigs: DataFrame, newSigs: DataFrame,
                            numHashes: Int = 64,
                            threshold: Double = 0.5,
                            maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val n = broadcast(newSigs.select(col("band_idx"), col("band_hash"),
      col("id").as("new_id"), col("sig").as("_nsig")))
    val keys = broadcast(newSigs.select(col("band_idx"), col("band_hash")).distinct())
    val sMatched = storedSigs.select(col("band_idx"), col("band_hash"),
        col("id").as("stored_id"), col("sig").as("_ssig"))
      .join(keys, Seq("band_idx", "band_hash"), "left_semi")
    val sCapped = sMatched
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_hash")))
      .filter(col("_bsz") <= maxBucketSize).drop("_bsz")
    sCapped.join(n, Seq("band_idx", "band_hash"))
      .select(col("new_id"), col("stored_id"),
        (call_function("graft_sig_agree", col("_nsig"), col("_ssig"))
          .cast("double") / lit(numHashes)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Shared band-bucket cap. The generated DuckDB oracles replicate this
    * exact value in a QUALIFY clause so the candidate-pair sets stay
    * bit-identical even on a corpus with a degenerate hot bucket. */
  val DefaultMaxBucketSize: Int = 10000

  /** Group banded rows by (band_idx, band_hash) and expand the within-bucket
    * pair combinations — one row per unordered pair, exposed as structs
    * `x`/`y` each carrying (id, <payloadCol>). */
  private def bucketPairs(banded: DataFrame, payloadCol: String,
                          maxBucketSize: Int): DataFrame =
    banded
      .groupBy("band_idx", "band_hash")
      .agg(collect_list(struct(col("id"), col(payloadCol))).as("bucket"))
      .filter(size(col("bucket")).between(2, maxBucketSize))
      .select(explode(expr(
        """flatten(transform(bucket, (e, i) ->
          |  transform(slice(bucket, i + 2, size(bucket) - i - 1), f ->
          |    struct(e as x, f as y))))""".stripMargin)).as("pair"))
      .select(col("pair.x").as("x"), col("pair.y").as("y"))

  /** SimHash near-dup candidates via 4×16-bit band blocking (Hamming
    * distance ≤ 3 guarantees agreement on at least one 16-bit band). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sh = df.filter(length(col(textCol)) > 0)
      .select(col(idCol).as("id"),
        call_function("graft_simhash64",
          call_function("graft_token_polyhashes", col(textCol))).as("sh"))
    hammingPairs64(sh, "id", "sh", maxHamming, maxBucketSize)
  }

  /** Near-dup candidate pairs over ANY 64-bit fingerprint column (SimHash,
    * perceptual aHash/pHash, …) via the same 4×16-bit band blocking:
    * Hamming ≤ 3 guarantees at least one agreeing band, so candidate
    * generation is one groupBy + bucket-local expansion — never a
    * quadratic self-join. Returns (doc_a, doc_b, hamming). */
  def hammingPairs64(df: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sh = df.select(col(idCol).as("id"), col(hashCol).as("sh"))
    val banded = sh.select(col("id"), col("sh"),
      posexplode(expr("transform(sequence(0, 3), b -> shiftright(sh, b * 16) & 65535)"))
        .as(Seq("band_idx", "band_hash")))
    bucketPairs(banded, "sh", maxBucketSize)
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
        greatest(col("x.id"), col("y.id")).as("doc_b"),
        expr("bit_count(x.sh ^ y.sh)").as("hamming")) // XOR is symmetric
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate pairs that share at least
    * one n-gram. Shuffles (ngram, id) pairs; join key is the n-gram hash.
    * For 100 TB use after LSH blocking, not standalone. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val eligible = df.filter(length(col(textCol)) >= n)
    val grams = eligible
      .select(col(idCol).as("id"),
        explode(shingleExpr(textCol, n)).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("gh"))
      .distinct()
    // per-doc distinct-gram counts computed map-side from the text (no
    // groupBy over the exploded frame — one less shuffle, one less pass);
    // 64-bit hashes keep the distinct count collision-free in practice
    val sizes = eligible.select(col(idCol).as("id"),
      size(array_distinct(expr(
        s"transform(${shingleSql(textCol, n)}, s -> xxhash64(s))"))).cast("long").as("sz"))
    // the two join sides below share one exchange (identical plans → Spark's
    // ReuseExchange); intersection counts shuffle only (gh, id) pairs
    val inter = grams.select(col("id").as("doc_a"), col("gh"))
      .join(grams.select(col("id").as("doc_b"), col("gh")), Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count("*").as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark-contamination check: for each (train doc, eval doc) pair,
    * the CONTAINMENT of the eval doc's distinct n-gram set in the train
    * doc — |grams(eval) ∩ grams(train)| / |grams(eval)|. Decontamination
    * needs containment, not Jaccard: a 100-word benchmark question buried
    * in a 10k-word web page has tiny Jaccard but containment 1.0.
    *
    * Scale shape: the eval benchmark is orders of magnitude smaller than
    * the corpus, so its exploded (gram-hash, eval_id) frame BROADCASTS —
    * the 100 TB train side streams map-side through the hash join and
    * only the matched (train_id, eval_id) hits shuffle into the
    * containment count. Train gram sets are never collected anywhere.
    * Returns (train_id, eval_id, contamination ≥ threshold). */
  def contaminationCheck(train: DataFrame, trainId: String, trainText: String,
                         eval: DataFrame, evalId: String, evalText: String,
                         n: Int, threshold: Double): DataFrame = {
    // native distinct-window-polyhash expr, not the HOF SQL twin: the
    // train side hashes EVERY corpus document, and the interpreted
    // transform/aggregate chain was ~10× the whole operator's runtime
    def grams(df: DataFrame, id: String, text: String, pfx: String) =
      df.filter(length(col(text)) >= n)
        .select(col(id).as(s"${pfx}_id"),
          explode(call_function("graft_shingle_polyhashes", col(text), lit(n)))
            .as("gh"))
    val evalGrams = grams(eval, evalId, evalText, "eval")
    val evalSizes = eval.filter(length(col(evalText)) >= n)
      .select(col(evalId).as("eval_id"),
        size(call_function("graft_shingle_polyhashes", col(evalText), lit(n)))
          .cast("long").as("eval_sz"))
    grams(train, trainId, trainText, "train")
      .join(broadcast(evalGrams), "gh")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("inter"))
      .join(broadcast(evalSizes), "eval_id")
      .select(col("train_id"), col("eval_id"),
        (col("inter").cast("double") / col("eval_sz")).as("contamination"))
      .filter(col("contamination") >= threshold)
  }

  /** Exact duplicated-SPAN extraction: the token-level analog of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") re-expressed as a
    * shuffle-friendly positional n-gram index — a distributed suffix
    * array is impractical, but "every duplicated substring of ≥ L tokens
    * contains a duplicated n-gram at every position" makes the gram
    * index an exact detector for spans of ≥ n tokens.
    *
    * Pipeline: positional window hashes (native
    * [[graft.plans.HashExpressions.GramPolyHashesExpr]], one tight loop
    * per document) → corpus-wide occurrence count per gram hash (window
    * over the hash — ONE shuffle keyed by a uniform 31-bit hash, no
    * join-back) → per-document gaps-and-islands merge of consecutive
    * duplicated positions (pos − row_number) → one span row per island.
    *
    * Scale shape: the exchanged stream is (id, pos, hash) ~ 20 bytes per
    * token — independent of document size; both windows and the final
    * aggregate partition on uniformly-distributed keys (gram hash, then
    * doc id). A gram repeated corpus-wide (boilerplate) concentrates in
    * one partition only for the count, which is a sum — AQE skew split
    * handles a pathological hot hash.
    *
    * A gram is "duplicated" when it occurs ≥ `minDup` times anywhere in
    * the corpus — including twice within one document, which is exactly
    * the within-doc boilerplate repetition a training-data pipeline also
    * wants flagged. Returns (id, span_start, span_end, span_tokens,
    * n_grams), token positions 0-based inclusive. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, n: Int,
               minDup: Int = 2): DataFrame = {
    val grams = df.select(col(idCol),
      posexplode(call_function("graft_gram_polyhashes", col(textCol), lit(n)))
        .as(Seq("pos", "gh")))
    val dup = grams
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy("gh")))
      .filter(col("_cnt") >= minDup)
    val wPos = Window.partitionBy(idCol).orderBy("pos")
    dup.withColumn("_grp", col("pos") - row_number().over(wPos))
      .groupBy(col(idCol), col("_grp"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + lit(n) - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"),
        col("n_grams"))
  }

  /** Connected components over near-duplicate pairs: every node's label
    * converges to the minimum id in its component — the "keep one document
    * per duplicate CLUSTER" step that follows pair detection in a
    * training-data dedup pipeline (pairs alone under-delete transitive
    * duplicates A≈B≈C).
    *
    * Two execution paths, picked by the edge count:
    *  - The pair graph after LSH blocking + threshold filtering is orders
    *    of magnitude smaller than the corpus (it holds only duplicates).
    *    At or below `collectThreshold` edges it is collected and solved
    *    with driver union-find — one Spark action total, versus one
    *    join+aggregate action per propagation round.
    *  - Above the threshold (billions of near-dup edges at 100 TB),
    *    iterative min-label propagation: one join+aggregate per round,
    *    driver loop until fixpoint, each round shuffling only
    *    (edge, label) pairs. Near-dup graphs have tiny diameters
    *    (duplicate clusters are near-cliques), so few rounds suffice.
    *
    * Both paths compute the identical fixpoint (min id per component).
    * Returns (id, cluster_rep). */
  def dedupClusters(pairs0: DataFrame, aCol: String, bCol: String,
                    maxIters: Int = 20,
                    collectThreshold: Long = 4000000L): DataFrame = {
    val nParts = pairs0.sparkSession.sessionState.conf.numShufflePartitions
    // The (often expensive LSH) pair pipeline is evaluated ONCE into this
    // cache; the path choice, the driver collect, and the distributed
    // edge expansion all read it.
    val pairs = pairs0.select(col(aCol).as("src"), col(bCol).as("dst")).cache()
    val nEdges = pairs.count()
    if (nEdges <= collectThreshold) {
      val out = unionFindLabels(pairs)
      pairs.unpersist()
      return out
    }
    // undirected edges PLUS self-loops: every node then appears as a `src`
    // with its own id among the neighbor labels, so one join+min-aggregate
    // per round is the full update rule (no left-join/coalesce pass).
    // Duplicate edges are harmless under min.
    // The cache is repartitioned by the join key: the iteration joins reuse
    // that distribution, and the cache doesn't inherit the pair-explode's
    // many near-empty partitions (which would tax every round with dead
    // task overhead).
    val a = col("src"); val b = col("dst")
    val edges = pairs.select(explode(array(
        struct(a.as("src"), b.as("dst")),
        struct(b.as("src"), a.as("dst")),
        struct(a.as("src"), a.as("dst")),
        struct(b.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(nParts, col("dst")).cache()
    // round 1 needs no label table: the initial label of `dst` IS dst
    var labels = edges.groupBy(col("src").as("id")).agg(min("dst").as("lbl")).cache()
    var changed = 1L
    var iters = 1
    while (changed > 0 && iters < maxIters) {
      // ONE action per round: the self-loop row (dst = src) carries the
      // node's own previous label through the join, so the same aggregate
      // yields both the new label and the old one — the convergence check
      // is a filter over this round's result, not a second join
      val next = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("dlbl").as("lbl"),
          min(when(col("dst") === col("src"), col("dlbl"))).as("old"))
        .cache()
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels.unpersist()
      labels = next
      iters += 1
    }
    edges.unpersist()
    pairs.unpersist()
    // Surfacing non-convergence beats silently returning wrong
    // representatives: a component with diameter > maxIters would leave
    // some nodes labeled with a non-minimal id. Near-dup graphs are
    // near-cliques, so hitting this means the input wasn't one.
    if (changed > 0)
      throw new IllegalStateException(
        s"dedupClusters did not converge in $maxIters iterations " +
          s"($changed labels still changing); raise maxIters for " +
          "high-diameter graphs")
    labels.select(col("id"), col("lbl").as("cluster_rep"))
  }

  /** Driver union-find over a collected (src, dst) edge frame: union by
    * min root with path compression, so every tree root ends as the
    * minimum id of its component — the same fixpoint the distributed
    * min-label loop converges to. Ids compare via their natural ordering
    * (Comparable), matching Spark's `min` on the column type. */
  private def unionFindLabels(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema.fields(0).dataType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var root = x
      var p = parent.get(root)
      while (p != null && p != root) { root = p; p = parent.get(root) }
      // path compression: point the chain at the root
      var cur = x
      while (cur != root) { val nxt = parent.get(cur); parent.put(cur, root); cur = nxt }
      root
    }
    def lt(x: Any, y: Any): Boolean =
      x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    val nodes = new java.util.LinkedHashSet[Any]()
    pairs.collect().foreach { r =>
      val x = r.get(0); val y = r.get(1)
      nodes.add(x); nodes.add(y)
      val rx = find(x); val ry = find(y)
      if (rx != ry) {
        if (lt(rx, ry)) parent.put(ry, rx) else parent.put(rx, ry)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_rep", idType, nullable = false)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.size())
    nodes.forEach(n => rows.add(org.apache.spark.sql.Row(n, find(n))))
    spark.createDataFrame(rows, schema)
  }

  /** Incremental WCC maintenance — merge a NEW batch of near-dup edges
    * into STORED cluster labels without recomputing over the full edge
    * history: each old component is already internally connected, so
    * new edges can only MERGE components (never split them), and the
    * merge is fully decided on the SUPER-NODE graph — new edges with
    * endpoints mapped through their old representatives (endpoints new
    * to the corpus map to themselves). One [[dedupClusters]] over that
    * batch-sized graph, then one re-pointing join over the label table.
    * Because every old rep is its component's MIN id, the new rep (min
    * over merged reps and new ids) is exactly the min of the merged
    * component — label-identical to a full rebuild (q554 gates merged ≡
    * rebuilt on the same oracle as q56/q311; DedupSpec pins the
    * synthetic cases).
    *
    * Scale shape: the clustering runs on O(|batch|) super edges — the
    * daily-ingest cost a 100 TB near-dup graph needs (the AnnStore/
    * IndexStore/GraphStore merge discipline applied to cluster state);
    * the only corpus-scale work is the final broadcast-sized re-point
    * join over the stored label table. */
  def incrementalClusters(oldLabels: DataFrame, newPairs: DataFrame,
                          aCol: String, bCol: String): DataFrame = {
    val labels = oldLabels.select(col("id"), col("cluster_rep"))
      .transform(Lineage.cut(_, "Dedup.incrementalClusters.labels"))
    val np = newPairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .transform(Lineage.cut(_, "Dedup.incrementalClusters.np"))
    val superEdges = np
      .join(labels.select(col("id").as("a"), col("cluster_rep").as("ra")),
        Seq("a"), "left")
      .join(labels.select(col("id").as("b"), col("cluster_rep").as("rb")),
        Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("sa"),
        coalesce(col("rb"), col("b")).as("sb"))
    val superReps = dedupClusters(superEdges, "sa", "sb")
      .select(col("id").as("_sn"), col("cluster_rep").as("_nr"))
      .transform(Lineage.cut(_, "Dedup.incrementalClusters.superReps"))
    val newNodes = np.select(col("a").as("id"))
      .unionByName(np.select(col("b").as("id"))).distinct()
      .join(labels.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_rep"))
    // the re-point map is O(batch) BY CONTRACT — broadcast it so the
    // corpus-scale label table never shuffles (the checkpointed rep map
    // carries no size estimate, so without the hint this would plan as
    // a sort-merge join of the whole label store; PlanQualitySpec pins
    // the broadcast on q554)
    labels.unionByName(newNodes)
      .join(broadcast(superReps), col("cluster_rep") === col("_sn"), "left")
      .select(col("id"),
        coalesce(col("_nr"), col("cluster_rep")).as("cluster_rep"))
  }

  /** Embedding-cosine near-duplicate pairs, brute force within blocking
    * buckets. `blockExpr` partitions the corpus (e.g. a coarse LSH sign
    * bucket from [[graft.operators.Similarity.hyperplaneBucket]]); pass
    * `lit(0)` for exhaustive O(n²) at small scale. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            block: Column, minCosine: Double,
                            maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // blocking expression (e.g. an LSH sign bucket) evaluates ONCE per row;
    // pairs expand bucket-locally like the text-LSH path above
    val banded = df.select(lit(0).as("band_idx"), block.as("band_hash"),
      col(idCol).as("id"), col(vecCol).as("vec"))
    bucketPairs(banded, "vec", maxBucketSize)
      .select(least(col("x.id"), col("y.id")).as("doc_a"),
        greatest(col("x.id"), col("y.id")).as("doc_b"),
        (lit(1.0) - call_function("graft_cosine_distance", col("x.vec"), col("y.vec")))
          .as("cosine")) // cosine is symmetric under the id normalization
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication scoped to coarse k-means cells. Every vector is
    * assigned to its nearest centroid (the map-side argmin fold of
    * [[graft.operators.Similarity.assignNearestCentroid]] — zero joins);
    * pairs are compared only WITHIN a cell, and of any pair with cosine ≥
    * `minCosine` the member CLOSER to its centroid is dropped — the
    * paper's keep-low-centroid-similarity rule, which retains each
    * cluster's diverse outliers. Distance ties drop the larger id.
    *
    * Scale shape: one equi-shuffle on `centroid_id`; pair expansion is
    * cell-local, and `k` is chosen to grow with the corpus so cells stay
    * bounded (the paper runs k ≈ √n; `maxCellSize` is the same safety
    * valve as the LSH bucket cap and must be replicated in any oracle).
    * Single pass — removal is not chained through already-removed rows,
    * matching the reference implementation.
    *
    * Returns (id, centroid_id, centroid_dist, kept). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, cidCol: String, cvCol: String,
                    minCosine: Double,
                    maxCellSize: Int = DefaultMaxBucketSize): DataFrame = {
    val assigned = graft.operators.Similarity
      .assignNearestCentroid(df, vecCol, idCol, centroids, cidCol, cvCol)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        col("centroid_id"), col("centroid_dist"))
    val capped = assigned
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("centroid_id")))
      .filter(col("_n") <= maxCellSize)
      .drop("_n")
    val losers = capped.as("x")
      .join(capped.as("y"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.id") < col("y.id"))
      .filter(lit(1.0) -
        call_function("graft_cosine_distance", col("x.vec"), col("y.vec"))
        >= minCosine)
      .select(
        when(col("x.centroid_dist") < col("y.centroid_dist"), col("x.id"))
          .when(col("x.centroid_dist") > col("y.centroid_dist"), col("y.id"))
          .otherwise(greatest(col("x.id"), col("y.id"))).as("_lid"))
      .distinct()
    assigned.join(losers, col("id") === col("_lid"), "left")
      .withColumn("kept", col("_lid").isNull)
      .select(col("id"), col("centroid_id"), col("centroid_dist"), col("kept"))
  }

  /** Exact word-set similarity self-join with AllPairs/PPJoin prefix
    * filtering (Bayardo et al. 2007, "Scaling Up All Pairs Similarity
    * Search"): every pair with token-set Jaccard ≥ `tau`, EXACTLY — no
    * LSH false-negative risk — yet without [[ngramJaccardPairs]]'
    * every-shared-token candidate explosion. Tokens are globally ordered
    * rarest-first (document frequency asc, token asc); each document
    * generates candidates only from its first `n − ⌈τ·n⌉ + 1` tokens in
    * that order. The guarantee: two sets with Jaccard ≥ τ must share a
    * token inside both prefixes, so the candidate set is complete; it is
    * small because prefixes are short and hold the RAREST tokens —
    * stopword-grade tokens never generate a candidate (the df-ordering
    * is what makes this viable at corpus scale, same insight as the
    * inverted-index maxDf guard).
    *
    * Input is any (id, token) frame — words, shingles, or hashes; pick
    * the token unit for the corpus (char n-grams discriminate where a
    * shared-vocabulary corpus makes word sets near-identical). Rows are
    * deduplicated here, so callers can pass raw exploded tokens; tokens
    * are xxhash64'd internally so every shuffle ships longs, not strings
    * (collision-free in practice at 64 bits — the q22 argument — and
    * invisible in the output, which is why a raw-token oracle still
    * replays it).
    *
    * Candidate pruning: the prefix filter, PLUS the PPJoin length filter
    * — Jaccard ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ, so size-incompatible
    * pairs are dropped before the verify join. Even so, exact all-pairs
    * is the ground-truth/validation tool: at full 100 TB scale run the
    * LSH family (q20/q21) and use this on bounded slices to measure
    * their recall.
    *
    * Shuffles: token df (tiny agg), per-doc rank (one window by id),
    * candidate equi-join on prefix tokens, and one verify join per
    * candidate pair — all equi-shuffles, nothing quadratic in the
    * corpus. Returns (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def prefixFilterJoin(tokens: DataFrame, idCol: String, tokCol: String,
                       tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "need tau in (0, 1]")
    // the distinct (id, tok) frame feeds sizes, df, the prefix rank and
    // BOTH sides of the verify join — checkpoint it once (r12) so the
    // shingle explode + distinct shuffle run once, not per reference.
    // Memory is bounded by the operator's contract: this is the
    // bounded-slice ground-truth tool (see scaladoc), never the
    // open-corpus path
    val toks = tokens
      .select(col(idCol).as("id"), xxhash64(col(tokCol)).as("tok")).distinct()
      .transform(Lineage.cut(_, "Dedup.prefixFilterJoin.toks"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val prefix = toks.join(dfreq, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("tok"))))
      .join(sizes, "id")
      .filter(col("pos") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
      .select("id", "tok", "sz", "pos")
    // PPJoin positional filter (Xiao et al. 2008 §3.2): both prefixes are
    // ranked in the SAME global (df, tok) order, so for a pair's
    // GLOBALLY-FIRST shared prefix token t (= the match minimizing both
    // pos values — any earlier shared token would itself be a
    // prefix-prefix match), every other shared token sits strictly after
    // pos_a(t) in a and pos_b(t) in b. Hence
    //   overlap <= 1 + min(sz_a - pos_a, sz_b - pos_b),
    // while J >= tau forces overlap >= tau/(1+tau) * (sz_a + sz_b).
    // Pairs whose bound can't reach the requirement are dropped BEFORE
    // the verify join; the 1e-6 slack keeps float rounding from ever
    // pruning a borderline TRUE pair (extra survivors are re-checked
    // exactly by the verify join, so the output is unchanged).
    val cand = prefix.select(col("id").as("doc_a"), col("tok"),
        col("sz").as("_sa"), col("pos").as("_pa"))
      .join(prefix.select(col("id").as("doc_b"), col("tok"),
        col("sz").as("_sb"), col("pos").as("_pb")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b") &&
        col("_sb") * lit(tau) <= col("_sa") && col("_sa") * lit(tau) <= col("_sb"))
      .groupBy("doc_a", "doc_b")
      .agg(min("_pa").as("_pa"), min("_pb").as("_pb"),
        first("_sa").as("_sa"), first("_sb").as("_sb"))
      .filter(lit(1) + least(col("_sa") - col("_pa"), col("_sb") - col("_pb")) >=
        lit(tau / (1.0 + tau)) * (col("_sa") + col("_sb")) - lit(1e-6))
      .select("doc_a", "doc_b")
    // verify via per-doc SORTED token arrays + the native two-pointer
    // merge (r12, the Linkage compare-stage pattern): the old
    // explode-both-sides verify join streamed Σ|doc_a's tokens| rows per
    // candidate pair through a (doc_b, tok) equi-join and re-aggregated
    // them; a pair-local merge of two pre-sorted arrays computes the
    // IDENTICAL intersection count with two array lookups per pair and
    // no per-token shuffle. docsigs is |docs| rows (bounded-slice
    // contract), checkpointed once for its two join references.
    val docsigs = toks.groupBy("id")
      .agg(sort_array(collect_list(col("tok"))).as("_sig"))
      .transform(Lineage.cut(_, "Dedup.prefixFilterJoin.docsigs"))
    cand
      .join(docsigs.select(col("id").as("doc_a"), col("_sig").as("_siga")),
        Seq("doc_a"))
      .join(docsigs.select(col("id").as("doc_b"), col("_sig").as("_sigb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("graft_inter_size_sorted", col("_siga"), col("_sigb"))
          .cast("long").as("_nc"),
        size(col("_siga")).cast("long").as("_sa"),
        size(col("_sigb")).cast("long").as("_sb"))
      .select(col("doc_a"), col("doc_b"),
        (col("_nc").cast("double") / (col("_sa") + col("_sb") - col("_nc")))
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Dedup-cluster EVOLUTION between two corpus snapshots — the ops
    * question behind every incremental dedup run: "did this batch merge
    * previously-distinct clusters, split any (a capped hot bucket can
    * drop pairs), or just grow them?". Inputs are two [[dedupClusters]]
    * outputs (id, cluster_rep); every old-snapshot member is expected to
    * exist in the new corpus (an old member unclustered in the new run
    * becomes its own singleton rep).
    *
    * Per OLD cluster: `n_new_reps` (> 1 ⇒ the cluster split),
    * `max_old_in_new` (> 1 ⇒ some new cluster absorbed members of
    * several old clusters — a merge), `n_joiners` (new-corpus members in
    * the touched new clusters beyond the old-corpus contributors —
    * growth), and the classification
    * split ≻ merged ≻ grown ≻ stable (first matching, in that order —
    * a cluster can both split and merge; split is the alarming one).
    *
    * Scale shape: one id equi-join of the two membership tables plus
    * three small aggregates keyed by cluster rep — no text, no
    * signatures, no quadratic anything. */
  def clusterEvolution(oldMembers: DataFrame,
                       newMembers: DataFrame): DataFrame = {
    val j = oldMembers.select(col("id"), col("cluster_rep").as("old_rep"))
      .join(newMembers.select(col("id"), col("cluster_rep").as("new_rep")),
        Seq("id"), "left")
      .withColumn("new_rep", coalesce(col("new_rep"), col("id")))
    val repStats = j.groupBy("new_rep").agg(
      countDistinct("old_rep").as("_n_old_in_new"),
      count(lit(1)).as("_old_members_in_new"))
    val newSizes = newMembers.groupBy(col("cluster_rep").as("new_rep"))
      .agg(count(lit(1)).as("_new_size"))
    // per (old cluster, touched new rep): one row, with that rep's stats
    val touched = j.select("old_rep", "new_rep").distinct()
      .join(repStats, "new_rep")
      .join(newSizes, Seq("new_rep"), "left")
      .withColumn("_new_size",
        coalesce(col("_new_size"), col("_old_members_in_new")))
    val perOld = j.groupBy("old_rep").agg(count(lit(1)).as("n_members"))
    val agg = touched.groupBy("old_rep").agg(
      count(lit(1)).as("n_new_reps"),
      max("_n_old_in_new").as("max_old_in_new"),
      sum(col("_new_size") - col("_old_members_in_new")).cast("long")
        .as("n_joiners"))
    perOld.join(agg, "old_rep")
      .withColumn("class",
        when(col("n_new_reps") > 1, "split")
          .when(col("max_old_in_new") > 1, "merged")
          .when(col("n_joiners") > 0, "grown")
          .otherwise("stable"))
  }

  /** 1-bit MinHash signatures (Li & König 2010, "b-Bit Minwise Hashing"):
    * keep only the LOWEST bit of each MinHash permutation value and pack
    * the bits into ONE long — a 63-bit signature instead of 63 × 4-byte
    * values, a ~32× smaller signature store. For near-identical docs
    * (the dedup regime) the resolution loss is negligible: with Jaccard J
    * each bit agrees with probability ½ + J/2, so
    * Ĵ = 2·(agree_frac − ½), estimated from one XOR + popcount per pair.
    *
    * At 100 TB this is the signature table you can afford to keep hot:
    * 8 bytes/doc streams through a broadcast or a bucketed join where the
    * full signature array would spill. 63 bits, not 64 — the packed value
    * stays a non-negative BIGINT (and DuckDB rejects `1 << 63` under its
    * checked shift, so the oracle replays the same 63-bit packing).
    * Returns (id, bsig). */
  def bbitSignatures(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 5, numHashes: Int = 64): DataFrame = {
    val nBits = math.min(numHashes, 63)
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol).as("id"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_polyhashes", col(textCol), lit(shingleN)),
          lit(numHashes)).as("_sig"))
      .select(col("id"), expr(
        s"aggregate(sequence(0, ${nBits - 1}), 0L, " +
          "(acc, k) -> acc + shiftleft(_sig[k] % 2L, k))").as("bsig"))
  }

  /** b-bit Jaccard estimate for a pair of packed signatures:
    * Ĵ = 2·(matching_bits/nBits) − 1, clamped at 0 (a pair agreeing on
    * fewer than half the bits is random, not similar). One XOR and one
    * popcount — the whole per-pair cost. */
  def bbitEstimate(aSig: Column, bSig: Column, nBits: Int = 63): Column =
    greatest(lit(0.0),
      lit(2.0) * (lit(nBits) - bit_count(aSig.bitwiseXOR(bSig)))
        / lit(nBits.toDouble) - lit(1.0))

  /** Exact set-CONTAINMENT self-join — the asymmetric twin of
    * [[prefixFilterJoin]]: every ordered pair (a, b), a ≠ b, with
    * |A ∩ B| / |A| ≥ `tau` — "most of A's tokens appear in B". Jaccard
    * misses subset relationships (a quote inside a 100× longer document
    * has tiny Jaccard but containment ≈ 1), and quote/superstring
    * detection is exactly what near-dup pipelines need containment for
    * (Broder 1997 distinguishes resemblance from containment).
    *
    * Prefix filtering adapts asymmetrically: only the CONTAINED side can
    * be prefix-pruned (containment ≥ τ forces a shared token in A's first
    * |A| − ⌈τ·|A|⌉ + 1 rarest tokens; B must index every token, since
    * containment puts no upper bound on |B|). The one admissible length
    * filter — |B| ≥ τ·|A| — drops size-incompatible candidates before the
    * verify join. Like [[prefixFilterJoin]] this is the bounded-slice
    * ground-truth tool; df-ordered prefixes keep stopword-grade tokens
    * from generating candidates.
    *
    * Returns (doc_a, doc_b, containment): doc_a's token set is contained
    * in doc_b's to degree ≥ τ. */
  def containmentJoin(tokens: DataFrame, idCol: String, tokCol: String,
                      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "need tau in (0, 1]")
    // checkpointed once for the same reason as [[prefixFilterJoin]]'s
    // toks (r12): five references, bounded-slice contract
    val toks = tokens
      .select(col(idCol).as("id"), xxhash64(col(tokCol)).as("tok")).distinct()
      .transform(Lineage.cut(_, "Dedup.containmentJoin.toks"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val prefixA = toks.join(dfreq, "tok")
      .withColumn("pos", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("tok"))))
      .join(sizes, "id")
      .filter(col("pos") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
      .select(col("id").as("doc_a"), col("tok"), col("sz").as("_sa"))
    val cand = prefixA
      .join(toks.join(sizes, "id")
        .select(col("id").as("doc_b"), col("tok"), col("sz").as("_sb")),
        Seq("tok"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("_sb") >= col("_sa") * lit(tau))
      .select("doc_a", "doc_b").distinct()
    // verify via per-doc sorted arrays + native merge — identical
    // intersection count, no per-token verify shuffle (see
    // [[prefixFilterJoin]]'s verify stage, r12)
    val docsigs = toks.groupBy("id")
      .agg(sort_array(collect_list(col("tok"))).as("_sig"))
      .transform(Lineage.cut(_, "Dedup.containmentJoin.docsigs"))
    cand
      .join(docsigs.select(col("id").as("doc_a"), col("_sig").as("_siga")),
        Seq("doc_a"))
      .join(docsigs.select(col("id").as("doc_b"), col("_sig").as("_sigb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (call_function("graft_inter_size_sorted", col("_siga"), col("_sigb"))
          .cast("double") / size(col("_siga")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= tau)
  }

  /** Embedding-level decontamination — the semantic twin of
    * [[contaminationCheck]]'s n-gram containment: flag every TRAIN
    * document whose embedding is within cosine `minCosine` of ANY eval
    * document, so paraphrased eval leakage that shares no 8-gram still
    * gets caught. Both corpora are assigned map-side to the same coarse
    * centroids (the [[semanticDedup]] cells); candidate pairs are
    * train×eval WITHIN a cell only, and the eval side rides as a
    * broadcast — so the corpus-sized train frame is never shuffled at
    * all: assignment folds into the scan, the cell join is broadcast,
    * and the only exchange is the per-train-id hit aggregate.
    *
    * Per train doc: hit count, max cosine (max of doubles is exact and
    * order-independent), and the witness eval id (highest cosine, ties
    * to the smaller id). Clean docs stay in the output with zero hits —
    * contamination reports must account for every document. */
  def semanticContamination(train: DataFrame, trainIdCol: String,
                            trainVecCol: String, evalDf: DataFrame,
                            evalIdCol: String, evalVecCol: String,
                            centroids: DataFrame, cidCol: String,
                            cvCol: String, minCosine: Double): DataFrame = {
    val ta = graft.operators.Similarity
      .assignNearestCentroid(train, trainVecCol, trainIdCol,
        centroids, cidCol, cvCol)
      .select(col(trainIdCol).as("id"), col(trainVecCol).as("_tv"),
        col("centroid_id"))
    val ea = graft.operators.Similarity
      .assignNearestCentroid(evalDf, evalVecCol, evalIdCol,
        centroids, cidCol, cvCol)
      .select(col(evalIdCol).as("_eid"), col(evalVecCol).as("_ev"),
        col("centroid_id"))
    val hits = ta.join(broadcast(ea), Seq("centroid_id"))
      .withColumn("_cos", lit(1.0) -
        call_function("graft_cosine_distance", col("_tv"), col("_ev")))
      .filter(col("_cos") >= minCosine)
    val agg = hits.groupBy("id").agg(
      count(lit(1)).as("n_eval_hits"),
      max(col("_cos")).as("max_cosine"),
      min_by(col("_eid"), struct((-col("_cos")).as("c"), col("_eid").as("e")))
        .as("witness_eid"))
    ta.select("id", "centroid_id").join(agg, Seq("id"), "left")
      .select(col("id"), col("centroid_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        col("max_cosine"), col("witness_eid"),
        col("n_eval_hits").isNotNull.as("contaminated"))
  }

  /** Cross-source duplication matrix: for every pair of sources, how
    * many DISTINCT document texts they share verbatim — the provenance
    * audit behind per-source dedup budgeting (mirror sites, scraped
    * re-posts, and pipeline double-ingests show up as hot pairs; the
    * per-source savings then feed [[graft.operators.Sampling.domainCap]]
    * decisions). Pairs are canonical `source_a < source_b`.
    *
    * Shape: texts collapse to (md5, source) DISTINCT first (16-byte
    * digests on the wire, map-side partial dedup — the [[exactDedup]]
    * argument), then a self-equi-join on the digest whose fan-out is
    * bounded by sources-per-digest ≤ |sources|, then a |sources|²-sized
    * aggregate. Nothing document-sized shuffles. */
  def crossSourceOverlap(df: DataFrame, textCol: String,
                         sourceCol: String): DataFrame = {
    val hs = df.select(md5(col(textCol).cast("binary")).as("_h"),
        col(sourceCol).as("_src"))
      .distinct()
    hs.select(col("_h"), col("_src").as("source_a"))
      .join(hs.select(col("_h"), col("_src").as("source_b")), Seq("_h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Effective sample size of a deduplicated-but-weighted corpus (Kish
    * 1965, design effect): with near-dup cluster sizes w_c, n_eff =
    * (Σw)² / Σw² — the number of INDEPENDENT examples the corpus is
    * worth. 1000 docs in 10 clusters of 100 train like ~10 docs; this
    * scalar is the honest denominator for scaling-law bookkeeping after
    * dedup finds the clusters. Input: the [[dedupClusters]] frame plus
    * the total corpus size (singletons = clusters of 1 fill the gap).
    * One bounded aggregate over cluster sizes. */
  def effectiveSampleSize(clusters: DataFrame, repCol: String,
                          corpusSize: Long): DataFrame = {
    val sizes = clusters.groupBy(col(repCol)).agg(count(lit(1)).as("w"))
    sizes.agg(count(lit(1)).as("n_clusters"),
        sum("w").as("n_clustered"),
        sum((col("w") * col("w")).cast("decimal(38,0)")).cast("double")
          .as("sw2"))
      // a corpusSize smaller than the clustered-row count would yield
      // negative singletons and a silently wrong (possibly > 1) Kish
      // ratio — fail loudly in the data path instead
      .withColumn("n_singletons",
        when(lit(corpusSize) < col("n_clustered"),
          raise_error(concat(lit("effectiveSampleSize: corpusSize "),
            lit(corpusSize), lit(" < clustered rows "),
            col("n_clustered"))))
          .otherwise(lit(corpusSize) - col("n_clustered")).cast("long"))
      // singletons contribute w=1: Σw = corpusSize, Σw² += n_singletons
      .withColumn("n_eff",
        (lit(corpusSize.toDouble) * corpusSize) /
          (col("sw2") + col("n_singletons")))
      .select(col("n_clusters"), col("n_clustered"), col("n_singletons"),
        round(col("n_eff"), 6).as("n_eff"),
        round(col("n_eff") / corpusSize, 6).as("eff_ratio"))
  }

  /** Cross-fold n-gram novelty — the memorization/generalization scalar
    * of an eval split: the share of the test fold's distinct word
    * `n`-grams that never appear in the train fold. Novelty near 0 means
    * the eval re-tests memorized surface forms (the train/test split is
    * leaking phrasing even when documents are distinct); near 1 means
    * the folds genuinely differ. Folds come from the standard 10-bucket
    * key hash (`testBuckets` held out). Distinct-gram frames shuffle on
    * the gram; the anti-join is the contamination-join shape. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int, testBuckets: Int = 2): DataFrame = {
    val grams = df
      .select(col(idCol).cast("long").as("id"),
        filter(split(lower(col(textCol)), "\\s+"), t => t =!= "").as("_tk"))
      .withColumn("_test",
        Sketches.keyHash(col("id")) % 10 >= (10 - testBuckets))
      .select(col("_test"), explode(expr(
        s"case when size(_tk) >= $n then transform(sequence(1, size(_tk) - ${n - 1}), " +
          s"i -> array_join(slice(_tk, i, $n), ' ')) else array() end"))
        .as("gram"))
      .distinct()
    val train = grams.filter(!col("_test")).select("gram").distinct()
    val test = grams.filter(col("_test")).select("gram").distinct()
    val unseen = test.join(train, Seq("gram"), "left_anti")
    train.agg(count(lit(1)).as("n_train_grams"))
      .crossJoin(test.agg(count(lit(1)).as("n_test_grams")))
      .crossJoin(unseen.agg(count(lit(1)).as("n_unseen")))
      .withColumn("novelty",
        round(col("n_unseen").cast("double") / col("n_test_grams"), 6))
  }

  /** EXACT set-similarity self-join via prefix filtering (AllPairs /
    * PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08) — the
    * deterministic sibling of MinHash-LSH ([[minhashLshPairs]]): every
    * pair of documents whose distinct-word Jaccard is ≥ `threshold`, with
    * NO probability of a miss and no all-pairs comparison.
    *
    * Prefix principle: order each document's distinct tokens by ascending
    * global document frequency (rarest first, token string tie-break) and
    * keep only the first `m − ⌈θ·m⌉ + 1` as its PREFIX. Two sets with
    * Jaccard ≥ θ overlap in ≥ ⌈θ·max(|A|,|B|)⌉ tokens, so they MUST share
    * a prefix token — candidates are generated by an equi-join on prefix
    * tokens only, then verified with an exact intersection count.
    *
    * Scale shape: the joins are keyed by token and document id (plain
    * shuffles, AQE-splittable); ordering by rarity means frequent tokens
    * almost never enter a prefix, so the candidate blow-up that kills a
    * naive token join never materializes. The 100 TB posture is LSH first
    * (cheap, probabilistic) and this join on the survivors' buckets when
    * a zero-miss guarantee is contractual. */
  def jaccardPrefixJoin(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    val toks = df
      .select(col(idCol).cast("long").as("id"),
        explode(array_distinct(filter(
          split(lower(col(textCol)), "\\s+"), t => t =!= ""))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("tdf"))
    val sorted = toks.join(dfreq, "tok")
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(tdf, tok))), s -> s.tok)")
        .as("st"))
      .withColumn("m", size(col("st")).cast("long"))
    val prefix = sorted.select(col("id"), explode(expr(
      s"slice(st, 1, cast(greatest(size(st) - ceil(size(st) * $threshold) + 1, 1L) as int))"))
      .as("tok"))
    val cand = prefix.select(col("id").as("id_a"), col("tok"))
      .join(prefix.select(col("id").as("id_b"), col("tok")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val inter = cand
      .join(toks.select(col("id").as("id_a"), col("tok")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    val sizes = sorted.select(col("id"), col("m"))
    val jac = col("i").cast("double") /
      (col("m_a") + col("m_b") - col("i"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("m").as("m_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("m").as("m_b")), Seq("id_b"))
      .filter(jac >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        jac.as("jaccard"))
  }

  /** Match-decision transitivity audit: near-duplicate "same content"
    * is an equivalence relation, but pairwise thresholded matchers emit
    * mere SIMILARITY edges — a∼b and b∼c with a≁c is a threshold
    * inconsistency that dedup-by-connected-components silently papers
    * over (it merges all three). This counts the open wedges: of all
    * a–m–c paths through a shared endpoint, how many have the closing
    * a–c edge. A low closure ratio says the threshold sits in a messy
    * region (clusters are chains, not cliques) and cluster-level
    * verification (q22's n-gram verify) is load-bearing, not optional.
    *
    * Scale shape: pairs are canonical (lo < hi); the wedge join runs
    * on the symmetrized adjacency GROUPED by the shared endpoint —
    * per-node degree is cap-bounded upstream (LSH bucket caps), so the
    * wedge count is Σ deg² over small degrees, not n². One left join
    * closes wedges against the canonical pair set. */
  def matchTransitivityAudit(pairs: DataFrame, aCol: String,
                             bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).cast("long").as("lo"),
      col(bCol).cast("long").as("hi")).distinct()
        .transform(Lineage.cut(_, "Dedup.matchTransitivityAudit.edges"))
    val adj = e.select(col("lo").as("m"), col("hi").as("x"))
      .union(e.select(col("hi").as("m"), col("lo").as("x")))
    val wedges = adj.select(col("m"), col("x"))
      .join(adj.select(col("m"), col("x").as("y")), Seq("m"))
      .filter(col("x") < col("y"))
    val closed = wedges
      .join(e.select(col("lo").as("x"), col("hi").as("y"),
        lit(1L).as("_c")), Seq("x", "y"), "left")
    closed.agg(count(lit(1)).as("n_wedges"),
        coalesce(sum(coalesce(col("_c"), lit(0L))), lit(0L))
          .as("n_closed"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_pairs"))))
      .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
        (col("n_wedges") - col("n_closed")).as("n_violations"),
        round(when(col("n_wedges") > 0,
          col("n_closed").cast("double") / col("n_wedges")), 6)
          .as("closure_ratio"))
  }

  /** Analytic LSH parameter planner — the design-time companion of the
    * EMPIRICAL recall qualification (q143) and minhash-vs-exact
    * calibration (q468): for every (bands b, rows r) candidate, the
    * collision S-curve P(s) = 1 − (1 − s^r)^b is integrated against a
    * target threshold τ — fn_area = ∫_τ¹ (1−P) ds (true pairs the index
    * misses), fp_area = ∫₀^τ P ds (junk pairs it emits into the
    * verifier) — and candidates rank by the total. Pays for itself at
    * 100 TB: fp_area is verifier JOIN VOLUME, fn_area is lost recall;
    * reading both off the curve before a build beats discovering them
    * after one.
    *
    * Replay-exactness: b and r are powers of two, so s^r and (1−s^r)^b
    * evaluate by REPEATED SQUARING — a fixed multiplication tree both
    * engines execute identically (pow()/exp/ln never appear; libm
    * stays out per the build discipline). The midpoint Riemann grid
    * s_i = (2i+1)/(2·steps) is exact-rational-to-double; areas
    * decimal-accumulate.
    *
    * Pure literal computation: |candidates|·steps rows, no input scan —
    * the one operator family where "driver-sized" is the design. */
  def lshPlanner(spark: org.apache.spark.sql.SparkSession,
                 candidates: Seq[(Int, Int)], tau: Double,
                 steps: Int = 100): DataFrame = {
    require(candidates.nonEmpty && steps >= 2, "need candidates and steps")
    require(candidates.forall { case (b, r) =>
      Seq(1, 2, 4, 8, 16, 32, 64, 128).contains(b) &&
        Seq(1, 2, 4, 8, 16, 32).contains(r)
    }, "b and r must be powers of two (repeated-squaring replay)")
    import spark.implicits._
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    // x^k for power-of-two k via the fixed squaring chain
    def pow2(x: Column, k: Int): Column =
      if (k == 1) x else pow2(x * x, k / 2)
    val cand = candidates.toDF("b", "r")
    val grid = spark.range(steps).select(
      ((col("id").cast("double") * 2 + 1) / (2.0 * steps)).as("s"))
    val curve = cand.crossJoin(grid)
      .withColumn("sr", Seq(1, 2, 4, 8, 16, 32).map(k =>
        when(col("r") === k, pow2(col("s"), k))).reduceRight(_ otherwise _))
      .withColumn("p", lit(1.0) -
        Seq(1, 2, 4, 8, 16, 32, 64, 128).map(k =>
          when(col("b") === k, pow2(lit(1.0) - col("sr"), k)))
          .reduceRight(_ otherwise _))
    curve.groupBy("b", "r")
      .agg(
        sum(when(col("s") <= tau, d18(col("p"))).otherwise(d18(lit(0.0))))
          .as("_fp"),
        sum(when(col("s") > tau, d18(lit(1.0) - col("p")))
          .otherwise(d18(lit(0.0)))).as("_fn"))
      .select(col("b"), col("r"), (col("b") * col("r")).as("sig_size"),
        round(col("_fp").cast("double") / steps, 6).as("fp_area"),
        round(col("_fn").cast("double") / steps, 6).as("fn_area"),
        round((col("_fp") + col("_fn")).cast("double") / steps, 6)
          .as("total_err"))
      .orderBy(col("total_err").asc, col("sig_size").asc,
        col("b").asc)
  }
}
