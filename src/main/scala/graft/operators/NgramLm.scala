package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the "perplexity
  * filter" family of LLM data curation (CCNet, Wenzek et al. 2020;
  * RedPajama/Dolma quality pipelines score documents with a KenLM
  * bigram/5-gram model and drop the worst tail). The reference has no
  * corpus-statistics surface at all (it embeds whatever the loader
  * yields — reference: src/server/app/embed package); at 100 TB these are the
  * gates that run BEFORE anything is embedded.
  *
  * Replay-exactness: a float `Σ log p` is association-order-dependent,
  * so scores here ride in INTEGER LOG2 units — `ilog2(c) =
  * length(bin(c)) - 1`, the bit-length of the exact corpus count — and
  * every sum is a BIGINT sum (exact and order-independent under any
  * partitioning). The DuckDB oracle replays `length(bin(...))`
  * bit-for-bit. One double division at the very end per document.
  */
object NgramLm {

  /** Floor(log2(c)) of a positive BIGINT count, exactly, in both
    * engines: the bit-length of the binary string minus one. */
  private def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** The raw (id, ctx, bg) bigram stream of a corpus — the shared
    * tokenize-and-explode stage. Tokenizes ONCE into a column: Catalyst
    * does not CSE interpreted HOFs, so inlining the split per bigram
    * index would be O(words²)/doc. */
  private def bigramsOf(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    df.select(col(idCol), TextQuality.tokens(lower(col(textCol))).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(_t) - 1), i -> struct(" +
          "element_at(_t, i) as ctx, " +
          "concat(element_at(_t, i), ' ', element_at(_t, i + 1)) as bg))"))
        .as("g"))
      .select(col(idCol), col("g.ctx").as("ctx"), col("g.bg").as("bg"))

  /** Per-document bigram-LM surprisal against the corpus's OWN bigram
    * model: for each in-document bigram (a,b), the integer surprisal
    * `ilog2 c(a·) - ilog2 c(ab)` ≈ log2 1/p(b|a), where c(ab) is the
    * corpus count of the bigram and c(a·) the corpus count of `a` as a
    * bigram prefix (the LM's context count — no smoothing needed: every
    * scored bigram occurs at least once in its own corpus). High
    * `bits_per_bigram` = the corpus LM is surprised = the document a
    * CCNet-style perplexity gate drops.
    *
    * Scale shape: one (doc, bigram) explode, then corpus counts via two
    * count-windows (bigram key, then prefix key — the [[TextQuality
    * .rareBigramStats]] shape: no join-back against a counts table) and
    * one per-doc rollup; 3 key shuffles total, each with map-side
    * partial aggregation. Returns (id, n_bigrams, surprisal_bits,
    * max_surprisal, bits_per_bigram). */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = bigramsOf(df, idCol, textCol)
    val counted = grams
      .withColumn("_cbg", count(lit(1)).over(Window.partitionBy("bg")))
      .withColumn("_cctx", count(lit(1)).over(Window.partitionBy("ctx")))
      .withColumn("_s", ilog2(col("_cctx")) - ilog2(col("_cbg")))
    counted.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum("_s").as("surprisal_bits"),
        max("_s").as("max_surprisal"))
      .select(col(idCol), col("n_bigrams"), col("surprisal_bits"),
        col("max_surprisal"),
        (col("surprisal_bits").cast("double") / col("n_bigrams"))
          .as("bits_per_bigram"))
  }

  /** [[bigramLmScore]] with the LM trained on a SEPARATE corpus — the
    * held-out generalization gate: fit the bigram counts on the train
    * split, score the validation split, and read the train/val gap off
    * `bits_per_scored` plus the out-of-vocabulary bigram rate. A val set
    * whose surprisal ≈ the train split's own is drawn from the same
    * distribution; a spike means leakage-free splits are measuring real
    * generalization (or drift, if `scored` is a new ingest batch — this
    * doubles as the LM-based drift monitor).
    *
    * Unseen bigrams have no defined count ratio, so they are COUNTED
    * (`n_oov`, the q100 absent-rows lesson) and excluded from the
    * surprisal sum rather than smoothed — smoothing constants are tuning
    * noise under an exact-replay contract. `bits_per_scored` divides by
    * the scored (seen) bigrams only and is NULL when everything is OOV.
    *
    * Scale shape: the train stream collapses to (bg) and (ctx) count
    * tables (vocab-sized, map-side partials); the scored stream joins
    * those two tables (AQE broadcasts them when small) and rolls up per
    * doc — no windows over the combined corpora. */
  def bigramLmScoreAgainst(train: DataFrame, scored: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    val tg = bigramsOf(train, idCol, textCol)
    val bgC = tg.groupBy("bg").agg(count(lit(1)).as("_cbg"))
    val ctxC = tg.groupBy("ctx").agg(count(lit(1)).as("_cctx"))
    bigramsOf(scored, idCol, textCol)
      .join(bgC, Seq("bg"), "left")
      .join(ctxC, Seq("ctx"), "left")
      .withColumn("_s",
        when(col("_cbg").isNotNull, ilog2(col("_cctx")) - ilog2(col("_cbg"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_cbg").isNull, 1L).otherwise(0L)).as("n_oov"),
        coalesce(sum("_s"), lit(0L)).as("surprisal_bits"))
      .select(col(idCol), col("n_bigrams"), col("n_oov"),
        col("surprisal_bits"),
        when(col("n_bigrams") > col("n_oov"),
          col("surprisal_bits").cast("double") /
            (col("n_bigrams") - col("n_oov"))).as("bits_per_scored"))
  }

  /** Per-document unigram entropy in exact integer log2 units:
    * `n·H ≈ n·ilog2(n) − Σ_t c_t·ilog2(c_t)` over the document's own
    * token counts — the repetition/compressibility signal (a document
    * whose tokens are dominated by a few repeats has near-zero entropy;
    * boilerplate and keyword-stuffed spam score lowest). The floor-log2
    * form keeps every term a BIGINT, exact under any partitioning.
    *
    * Scale shape: one (doc, token) count aggregate + one per-doc rollup,
    * both collapsing map-side — the [[TextQuality.bigramRepetition]]
    * shape (a per-doc HOF count would be O(words²) per document).
    * Returns (id, n_tokens, n_distinct, entropy_bits, bits_per_token). */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tc = df
      .select(col(idCol), explode(TextQuality.tokens(lower(col(textCol)))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    tc.groupBy(col(idCol))
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * ilog2(col("c"))).cast("long").as("_sum_clog"))
      .withColumn("entropy_bits",
        col("n_tokens") * ilog2(col("n_tokens")) - col("_sum_clog"))
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        col("entropy_bits"),
        (col("entropy_bits").cast("double") / col("n_tokens"))
          .as("bits_per_token"))
  }

  /** Zipf octave audit of the corpus vocabulary: bucket every term by
    * the integer log2 of its corpus frequency and report terms and
    * occurrence mass per octave. A healthy natural-language corpus
    * shows geometric decay of `n_terms` across octaves (Zipf's law);
    * a bulge in a high octave is boilerplate, a bloated octave 0 is
    * OCR noise / tokenizer damage. Two map-side-combined aggregates
    * over the vocabulary — the shard-level corpus-health monitor.
    * Returns (octave, n_terms, n_occurrences, min_count, max_count). */
  def zipfOctaves(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextQuality.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .groupBy(ilog2(col("c")).cast("int").as("octave"))
      .agg(count(lit(1)).as("n_terms"),
        sum("c").cast("long").as("n_occurrences"),
        min("c").cast("long").as("min_count"),
        max("c").cast("long").as("max_count"))

  /** Distinct-n diversity per group: for each n in 1..maxN, the count
    * and distinct count of token n-grams and their ratio — the standard
    * corpus diversity metric (Li et al. 2016's distinct-1/distinct-2);
    * a low ratio flags template/boilerplate-dominated sources that
    * survive per-document dedup. One explode + aggregate per n, each
    * with a map-side partial; the distinct count is exact (a 100 TB run
    * would swap in [[Sketches]] HLL — this is the audit-grade version).
    * Returns (groupCol, n, n_total, n_distinct, distinct_ratio). */
  def distinctNgrams(df: DataFrame, groupCol: String, textCol: String,
                     maxN: Int = 3): DataFrame = {
    val toks = df.select(col(groupCol),
      TextQuality.tokens(lower(col(textCol))).as("_t"))
    (1 to maxN).map { n =>
      toks
        .select(col(groupCol), explode(expr(
          s"transform(sequence(1, greatest(size(_t) - ${n - 1}, 0)), " +
            s"i -> array_join(slice(_t, i, $n), ' '))")).as("_g"))
        .groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_total"),
          count_distinct(col("_g")).as("n_distinct"))
        .select(col(groupCol), lit(n).as("n"), col("n_total"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_total")).as("distinct_ratio"))
    }.reduce(_.unionAll(_))
  }

  /** Top-k collocations by pointwise mutual information over the corpus
    * bigram table — the classic phrase-mining step (Church & Hanks 1990)
    * that decides which token pairs become single vocabulary units.
    * Reported as the exact PMI RATIO `p(ab) / (p(a)·p(b)) =
    * c_ab·N²/(B·c_a·c_b)` (monotone with PMI, no log), evaluated as
    * exact BIGINTs through a fixed left-to-right chain of double
    * operations so the oracle replays the identical IEEE values.
    *
    * Scale shape: unigram and bigram counts collapse map-side; the
    * unigram table is a language VOCABULARY (bounded, frequency-sorted
    * Zipf head) and broadcasts onto the bigram table twice — no shuffle
    * after the two count aggregations; top-k is a bounded TakeOrdered
    * heap. Returns (w1, w2, c_bg, c1, c2, pmi_ratio). */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5L, k: Int = 20): DataFrame = {
    val toks = df.select(TextQuality.tokens(lower(col(textCol))).as("_t"))
    val uni = toks.select(explode(col("_t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c_tok"))
    val totals = uni.agg(sum("c_tok").cast("long").as("n_tokens"))
    val bg = toks.filter(size(col("_t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(_t) - 1), i -> struct(" +
          "element_at(_t, i) as w1, element_at(_t, i + 1) as w2))")).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .agg(count(lit(1)).as("c_bg"))
    val totalsB = bg.agg(sum("c_bg").cast("long").as("n_bigrams"))
    bg.filter(col("c_bg") >= minCount)
      .join(broadcast(uni.select(col("tok").as("w1"), col("c_tok").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("c_tok").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(totalsB))
      // fixed evaluation order — mirrored verbatim in the oracle SQL
      .withColumn("pmi_ratio",
        col("c_bg").cast("double") * col("n_tokens") / col("n_bigrams")
          * col("n_tokens") / col("c1") / col("c2"))
      .select(col("w1"), col("w2"), col("c_bg"), col("c1"), col("c2"),
        col("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Heaps'-law fit of vocabulary growth, V(n) ≈ K·n^β: docs accumulate
    * in id order, each checkpoint is (tokens so far, distinct terms so
    * far), and OLS on (ln n, ln V) yields β (the sub-linearity exponent,
    * ~0.4–0.6 for natural text — materially higher smells synthetic or
    * noisy vocab, lower smells templated) and the intercept ln K.
    * Cumulative V comes from each term's FIRST document (min doc id) —
    * one vocab-sized aggregate, no per-prefix re-distinct — and the
    * regression runs on the checkpoint frame (one row per doc) with
    * decimal-accumulated sums. Returns one row:
    * (n_points, n_total, v_total, beta, ln_k). */
  def heapsLawFit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("d"),
      explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= ""))
        .as("term"))
    val perDoc = toks.groupBy("d").agg(count(lit(1)).as("nt"))
    val firstDoc = toks.groupBy("term").agg(min("d").as("d"))
      .groupBy("d").agg(count(lit(1)).as("nv"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    val cp = perDoc.join(firstDoc, Seq("d"), "left")
      .withColumn("n", sum("nt").over(w))
      .withColumn("v", sum(coalesce(col("nv"), lit(0L))).over(w))
      .select(col("d"), col("n"), col("v"))
      .withColumn("x", log(col("n").cast("double")))
      .withColumn("y", log(col("v").cast("double")))
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    cp.agg(count(lit(1)).as("n_points"), max("n").as("n_total"),
        max("v").as("v_total"),
        sum(d18(col("x"))).cast("double").as("sx"),
        sum(d18(col("y"))).cast("double").as("sy"),
        sum(d18(col("x") * col("y"))).cast("double").as("sxy"),
        sum(d18(col("x") * col("x"))).cast("double").as("sxx"))
      .withColumn("beta",
        (col("sxy") - col("sx") * col("sy") / col("n_points")) /
          (col("sxx") - col("sx") * col("sx") / col("n_points")))
      .select(col("n_points"), col("n_total"), col("v_total"),
        round(col("beta"), 6).as("beta"),
        round((col("sy") - col("beta") * col("sx")) / col("n_points"), 6)
          .as("ln_k"))
  }

  /** Burrows' Delta (Burrows 2002; the stylometric workhorse): restrict
    * to the corpus's `topK` most frequent words (function words — the
    * style carriers), z-score each source's per-mille frequency of each
    * word across sources, and Delta(s, t) = mean |z_s − z_t| over the
    * word set. Two sources with suspiciously LOW Delta write with the
    * same "hand" — in a training-data pipeline that flags duplicated
    * provenance (the same template/generator behind two supposedly
    * independent sources) that content-level dedup misses because the
    * TOPICS differ. Relative frequencies and z-scores are fixed double
    * trees over exact counts (cross-source moments decimal-accumulate);
    * the pair mean decimal-accumulates over the word set. Returns the
    * `topPairs` closest pairs.
    *
    * Scale shape: one token-count shuffle; everything after lives on
    * the (sources × topK) frame. */
  def burrowsDelta(df: DataFrame, srcCol: String, textCol: String,
                   topK: Int, topPairs: Int): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val W = Window
    val tc = df.select(col(srcCol).as("src"),
        explode(TextQuality.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c"))
      .transform(Lineage.cut(_, "NgramLm.burrowsDelta.tc"))
    val vocab = tc.groupBy("tok").agg(sum("c").as("cf"))
      .orderBy(col("cf").desc, col("tok")).limit(topK)
      .select("tok")
    val totals = tc.groupBy("src").agg(sum("c").as("nt"))
    // per-mille relative frequency of each top word in each source;
    // absent (src, word) pairs are genuine zeros
    val grid = vocab.crossJoin(totals)
      .join(tc, Seq("src", "tok"), "left")
      .withColumn("f",
        coalesce(col("c"), lit(0L)).cast("double") * 1000.0 / col("nt"))
    val stats = grid.groupBy("tok")
      .agg(count(lit(1)).as("ns"),
        sum(d18(col("f"))).cast("double").as("s1"),
        sum(d18(col("f") * col("f"))).cast("double").as("s2"))
      .withColumn("mu", col("s1") / col("ns"))
      .withColumn("sd", sqrt(greatest(lit(0.0),
        (col("s2") - col("s1") * col("s1") / col("ns")) / col("ns"))))
    val z = grid.join(stats.select(col("tok"), col("mu"), col("sd")),
        Seq("tok"))
      .filter(col("sd") > 0)
      .withColumn("z", (col("f") - col("mu")) / col("sd"))
      .select("src", "tok", "z")
    val pairs = z.select(col("src").as("sa"), col("tok"),
        col("z").as("za"))
      .join(z.select(col("src").as("sb"), col("tok"), col("z").as("zb")),
        Seq("tok"))
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_words"),
        (sum(d18(abs(col("za") - col("zb")))).cast("double") /
          count(lit(1))).as("delta"))
    pairs
      .withColumn("_rk", row_number().over(
        W.orderBy(col("delta"), col("sa"), col("sb"))))
      .filter(col("_rk") <= topPairs)
      .select(col("_rk").as("rank"), col("sa"), col("sb"),
        col("n_words"), round(col("delta"), 6).as("delta"))
      .orderBy("rank")
  }

  /** Pairwise Jensen–Shannon divergence (nats) between per-source
    * unigram distributions — the bounded, symmetric corpus-mix
    * "distance matrix" (JSD ≤ ln 2): near-zero pairs are redundant
    * sources a mixture designer can collapse; large pairs mark genuine
    * diversity. Complements [[burrowsDelta]] (style over function
    * words) with full-vocabulary CONTENT divergence.
    *
    * JSD(p,q) = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)); zero-count
    * terms vanish, so each directed sum runs only over the source's own
    * vocabulary (left join for the other side's count). Frequencies and
    * log terms are fixed double trees over exact counts; directed sums
    * decimal-accumulate, and the pair combines as one (x+y)/2. ln is
    * shared JVM/libm territory — output rounds at 6 (parity rule:
    * log-valued outputs always display-round).
    *
    * Scale shape: one token-count shuffle; the pair frame is
    * (sources² × per-source vocab), sources being a handful. */
  def jensenShannonBySource(df: DataFrame, srcCol: String,
                            textCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val tc = df.select(col(srcCol).as("src"),
        explode(TextQuality.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c"))
      .transform(Lineage.cut(_, "NgramLm.jensenShannonBySource.tc"))
    val tot = tc.groupBy("src").agg(sum("c").as("nt"))
    val a = tc.join(tot, Seq("src"))
      .select(col("src").as("sa"), col("tok"), col("c").as("ca"),
        col("nt").as("na"))
    val ordered = a
      .join(broadcast(tot.select(col("src").as("sb"),
        col("nt").as("nb"))), col("sb") =!= col("sa"))
      .join(tc.select(col("src").as("sb"), col("tok"),
        col("c").as("cb")), Seq("sb", "tok"), "left")
      .withColumn("pa", col("ca").cast("double") / col("na"))
      .withColumn("qb",
        coalesce(col("cb"), lit(0L)).cast("double") / col("nb"))
      .withColumn("term", col("pa") *
        log(lit(2.0) * col("pa") / (col("pa") + col("qb"))))
      .groupBy("sa", "sb").agg(sum(d18(col("term"))).as("t"),
        count(lit(1)).as("n_terms"))
    ordered
      .join(ordered.select(col("sb").as("sa"), col("sa").as("sb"),
        col("t").as("t2"), col("n_terms").as("n2")), Seq("sa", "sb"))
      .filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"),
        (col("n_terms") + col("n2")).as("n_terms"),
        round((col("t").cast("double") + col("t2").cast("double")) / 2.0,
          6).as("jsd"))
  }

  /** Pairwise Jensen–Shannon divergence over an ARBITRARY pre-counted
    * (group, item, count) frame — [[jensenShannonBySource]] with the
    * tokenizer factored out, so the same machinery reads SEMANTIC
    * divergence (items = embedding-space centroid cells), behavioral
    * divergence (items = event types), or any other categorical
    * fingerprint. Same replay discipline: frequencies and ln terms are
    * fixed double trees over exact counts, directed sums
    * decimal-accumulate, output display-rounds at 6 (ln rule). */
  def jensenShannonCounts(counts: DataFrame, grpCol: String,
                          itemCol: String, nCol: String): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val tc = counts.select(col(grpCol).as("src"), col(itemCol).as("tok"),
      col(nCol).cast("long").as("c"))
        .transform(Lineage.cut(_, "NgramLm.jensenShannonCounts.tc"))
    val tot = tc.groupBy("src").agg(sum("c").as("nt"))
    val a = tc.join(tot, Seq("src"))
      .select(col("src").as("sa"), col("tok"), col("c").as("ca"),
        col("nt").as("na"))
    val ordered = a
      .join(broadcast(tot.select(col("src").as("sb"),
        col("nt").as("nb"))), col("sb") =!= col("sa"))
      .join(tc.select(col("src").as("sb"), col("tok"),
        col("c").as("cb")), Seq("sb", "tok"), "left")
      .withColumn("pa", col("ca").cast("double") / col("na"))
      .withColumn("qb",
        coalesce(col("cb"), lit(0L)).cast("double") / col("nb"))
      .withColumn("term", col("pa") *
        log(lit(2.0) * col("pa") / (col("pa") + col("qb"))))
      .groupBy("sa", "sb").agg(sum(d18(col("term"))).as("t"),
        count(lit(1)).as("n_terms"))
    ordered
      .join(ordered.select(col("sb").as("sa"), col("sa").as("sb"),
        col("t").as("t2"), col("n_terms").as("n2")), Seq("sa", "sb"))
      .filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"),
        (col("n_terms") + col("n2")).as("n_terms"),
        round((col("t").cast("double") + col("t2").cast("double")) / 2.0,
          6).as("jsd"))
  }

  /** Per-source Zipf octave slope: token counts bucketed by integer
    * octave ⌊log2 c⌋ (the [[zipfOctaves]] libm-free log), then the
    * exact OLS slope of ⌊log2 types(octave)⌋ against the octave — a
    * natural-language source walks down ~linearly (Zipf), while a
    * templated/spammy source collapses into few octaves with a flat or
    * cliff-shaped profile; `top_share` (most frequent token's corpus
    * share) flags keyword stuffing directly. Per-source variant of the
    * global q163 audit — the "which SOURCE is templated" screen a
    * mixture designer reads before weighting. All sums exact integers
    * into one closed-form slope division. */
  def zipfSlopeBySource(df: DataFrame, srcCol: String,
                        textCol: String): DataFrame = {
    val tc = df.select(col(srcCol).as("src"),
        explode(TextQuality.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c"))
    val oct = tc.groupBy(col("src"), ilog2(col("c")).as("o"))
      .agg(count(lit(1)).as("types"))
      .withColumn("y", ilog2(col("types")))
    val fit = oct.groupBy("src")
      .agg(count(lit(1)).as("n_octaves"), sum("o").as("sx"),
        sum("y").as("sy"), sum(col("o") * col("o")).as("sxx"),
        sum(col("o") * col("y")).as("sxy"))
      .withColumn("slope", when(
        col("n_octaves") * col("sxx") - col("sx") * col("sx") =!= 0,
        (col("n_octaves") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_octaves") * col("sxx") - col("sx") * col("sx"))))
    val tot = tc.groupBy("src")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        max("c").as("_mx"))
      .withColumn("top_share", col("_mx").cast("double") / col("n_tokens"))
    fit.join(tot, Seq("src"))
      .select(col("src").as(srcCol), col("n_tokens"), col("n_types"),
        col("n_octaves"), round(col("slope"), 6).as("slope"),
        round(col("top_share"), 6).as("top_share"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1998 eq. 4.22-4.26) — the smoothing KenLM itself
    * uses, and the missing piece between [[bigramLmScore]]'s
    * unsmoothed counts and a production perplexity gate: mass `D` is
    * subtracted from every seen bigram and re-spent on the CONTINUATION
    * unigram `N1+(·w) / N1+(··)` (how many distinct contexts a word
    * follows — "francisco" is frequent but only ever follows "san", so
    * its continuation probability is tiny).
    *
    *   P_kn(w|c) = (c(cw) − D)/c(c·) + D·N1+(c·)/c(c·) · N1+(·w)/N1+(··)
    *   D         = n1 / (n1 + 2·n2)           (the Ney absolute discount)
    *
    * Every input to the formula is an exact BIGINT corpus count; the
    * doubles are produced by ONE identical expression tree on both
    * engines, so the oracle replays them bit-for-bit (no rounding).
    * c(cw) ≥ 1 > D, so the max(·,0) of the textbook form is vacuous.
    * Degenerate corpus with NO count-1/count-2 bigram types (tiny
    * vocabularies at large scale): D = 0 — nothing to discount, KN
    * collapses to MLE instead of dividing by zero under ANSI.
    *
    * Scale shape: one shuffle collapses the corpus to the distinct-
    * bigram table (map-side partial counts); the two windows (context,
    * continuation) and the global (n1, n2, types) aggregate all run on
    * that vocab-bounded table; top-k is TakeOrderedAndProject. Returns
    * the k most frequent bigrams (ties → lexicographic) with their MLE
    * and KN probabilities. */
  def knSmoothedBigrams(df: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val bgc = bigramsOf(df, idCol, textCol)
      .groupBy("ctx", "bg").agg(count(lit(1)).as("c_bg"))
    val wCtx = Window.partitionBy("ctx")
    val scored = bgc
      .withColumn("w2", expr("substring(bg, length(ctx) + 2)"))
      .withColumn("c_ctx", sum("c_bg").over(wCtx))
      .withColumn("n_follow", count(lit(1)).over(wCtx))
      .withColumn("n_prec", count(lit(1)).over(Window.partitionBy("w2")))
    val glob = bgc.agg(count(lit(1)).as("n_types"),
      sum(when(col("c_bg") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c_bg") === 2, 1L).otherwise(0L)).as("n2"))
    scored.crossJoin(broadcast(glob))
      .withColumn("discount",
        when(col("n1") + lit(2L) * col("n2") === 0, lit(0.0))
          .otherwise(col("n1").cast("double") /
            (col("n1") + lit(2L) * col("n2"))))
      .select(col("ctx"), col("w2"), col("c_bg"), col("c_ctx"),
        col("n_follow"), col("n_prec"), col("discount"),
        (col("c_bg").cast("double") / col("c_ctx")).as("p_mle"),
        ((col("c_bg").cast("double") - col("discount")) / col("c_ctx") +
          col("discount") * col("n_follow") / col("c_ctx") *
            col("n_prec") / col("n_types")).as("p_kn"))
      .orderBy(col("c_bg").desc, col("ctx"), col("w2"))
      .limit(k)
  }

  /** Good–Turing count-of-counts table (Good 1953; Gale & Sampson 1995
    * without the smoothing fit) over the corpus's BIGRAM types — the
    * n-gram order where a real count-of-counts tail exists (every
    * unigram in a bounded vocabulary is frequent; it is the
    * combinatorial n-gram space that has singletons): for each observed
    * frequency r ≤ maxR, the number of types N_r seen exactly r times,
    * the Turing re-estimate r* = (r+1)·N_{r+1}/N_r, and the
    * probability-mass view — `mass_r` the observed share r·N_r/N vs
    * `p_gt` = r-star/N the share the estimator re-assigns. Row r = 1
    * doubles as the UNSEEN-mass estimate (p_0 = N_1/N, the Turing bound
    * on how much probability the corpus has never shown) — the quantity
    * a coverage-vs-crawl-more decision actually needs, and exactly the
    * (n1, n2) pair [[knSmoothedBigrams]]'s discount is built from.
    * r* is NULL when N_{r+1} = 0 (the raw estimator is undefined there;
    * the Gale simple-GT fit would smooth it, but a fit adds tuning
    * constants an exact-replay contract doesn't want).
    *
    * Scale shape: one bigram-count shuffle, then the count-of-counts
    * table is ≤ maxR+1 rows; the totals broadcast. All counts BIGINT;
    * the three doubles are single identical-tree expressions. */
  def goodTuringCounts(df: DataFrame, idCol: String, textCol: String,
                       maxR: Int): DataFrame = {
    val tc = bigramsOf(df, idCol, textCol)
      .groupBy("bg").agg(count(lit(1)).as("c"))
    val nr = tc.filter(col("c") <= maxR + 1)
      .groupBy("c").agg(count(lit(1)).as("n_r"))
    val tot = tc.agg(sum("c").as("n_tokens"))
    nr.join(nr.select((col("c") - 1).as("c"), col("n_r").as("n_r_next")),
        Seq("c"), "left")
      .filter(col("c") <= maxR)
      .crossJoin(broadcast(tot))
      .select(col("c").as("r"), col("n_r"),
        coalesce(col("n_r_next"), lit(0L)).as("n_r_next"),
        when(col("n_r_next").isNotNull,
          (col("c") + lit(1L)).cast("double") * col("n_r_next") /
            col("n_r")).as("r_star"),
        (col("c") * col("n_r")).cast("double")./(col("n_tokens"))
          .as("mass_r"),
        when(col("n_r_next").isNotNull,
          (col("c") + lit(1L)).cast("double") * col("n_r_next") /
            col("n_r") / col("n_tokens")).as("p_gt"))
  }

  /** Chao1 species-richness estimate of the vocabulary (Chao 1984,
    * bias-corrected form): how many types does the corpus's underlying
    * distribution HOLD, observed plus the unseen mass implied by the
    * singleton/doubleton ratio —
    * chao1 = D + f₁(f₁−1)/(2(f₂+1)) — alongside Good's sample coverage
    * C = 1 − f₁/N (the [[goodTuring]] unseen-mass read as one number).
    * The "will more data buy more vocabulary" screen a mixture designer
    * runs per source before paying for another crawl. One token count +
    * one frequency-of-frequency fold — both map-side shapes; every
    * number is an exact integer until the two closed-form divisions.
    * Returns (n_tokens, n_types, f1, f2, chao1, coverage). */
  def chao1Richness(df: DataFrame, textCol: String): DataFrame = {
    val tc = df.select(explode(TextQuality.tokens(lower(col(textCol))))
        .as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    tc.agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long").as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long").as("f2"))
      .select(col("n_tokens"), col("n_types"), col("f1"), col("f2"),
        round(col("n_types") + (col("f1") * (col("f1") - 1)).cast("double")
          / (lit(2.0) * (col("f2") + 1)), 6).as("chao1"),
        round(lit(1.0) - col("f1").cast("double") / col("n_tokens"), 6)
          .as("coverage"))
  }

  /** Vocabulary growth (collector's) curve: distinct types seen within
    * the first k documents of the corpus order, for each checkpoint k —
    * the measured marginal-vocabulary read beside [[chao1Richness]]'s
    * asymptote (a flattening curve says more of the SAME data buys
    * little). Each type collapses to its FIRST-seen document id (one
    * min aggregate over the exploded tokens — map-side partial), so the
    * curve is |checkpoints| conditional counts over a types-sized frame,
    * never a per-prefix rescan. Returns (k, n_types_seen) per
    * checkpoint. */
  def vocabularyGrowth(df: DataFrame, idCol: String, textCol: String,
                       checkpoints: Seq[Long]): DataFrame = {
    val first = df.select(col(idCol).cast("long").as("_id"),
        explode(TextQuality.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(min("_id").as("first_id"))
    // distinct: a duplicated checkpoint would explode each type twice
    // into the same k group and double its count (property-test find)
    val cps = checkpoints.distinct.sorted
    val spark = df.sparkSession
    import spark.implicits._
    // checkpoints drive the output frame (left join), so an EMPTY
    // vocabulary still yields one zero row per k rather than no rows
    val counts = first
      .select(explode(array(cps.map(lit(_)): _*)).as("k"),
        col("first_id"))
      .groupBy("k")
      .agg(sum(when(col("first_id") < col("k"), 1L).otherwise(0L))
        .cast("long").as("n_types_seen"))
    cps.toDF("k").join(counts, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_types_seen"), lit(0L)).as("n_types_seen"))
      .orderBy("k")
  }
}
