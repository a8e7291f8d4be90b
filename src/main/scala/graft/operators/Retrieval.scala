package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (lexical) retrieval over a text corpus: inverted-index build and
  * BM25 ranking. Complements the dense-vector surface in [[Similarity]] the
  * same way the reference pairs its vector store with keyword search
  * (reference: src/server/app/mcp/tools/vs_retriever.py ranks by vector
  * distance only; the index/sum shapes here are the standard Lucene/BM25
  * formulation, Robertson & Zaragoza 2009).
  *
  * Scale design:
  *  - The index build is two hash aggregations: (term, doc) partial-counted
  *    map-side, then one shuffle keyed by TERM. Posting lists come out of
  *    `collect_list` inside the term aggregate — each term's postings land
  *    on one reducer, which is exactly the layout an index shard wants
  *    (write `partitionBy(bucket(term))` and a query touches one shard).
  *    Degenerate hot terms (stopwords) are the known skew risk: cap or drop
  *    them with `maxDf` — at 100 TB a stopword posting list is useless for
  *    ranking anyway (idf ≈ 0) and would single-reducer-bottleneck the
  *    build. The cap is applied AFTER the (term,doc) aggregate, where the
  *    per-term row count is already known, so dropped terms never ship
  *    their postings.
  *  - BM25 scoring never materializes a doc × term matrix: the token
  *    explode is filtered to the query's terms BEFORE the aggregate (the
  *    shuffle carries only matching (doc, term) pairs), document length and
  *    the corpus stats ride along as broadcast scalars, and the final
  *    top-k plans as TakeOrderedAndProject (per-partition k-heaps).
  *
  * Oracle parity: tf/df/dl are exact integers; avgdl is one double
  * division; the per-term BM25 contribution is a fixed parenthesization of
  * correctly-rounded double ops, so both engines agree bit-for-bit except
  * for `ln` (idf), whose last-ulp may differ between libm builds — scores
  * are therefore summed in exact decimal and rounded to 6 decimals, per
  * NOTES.md parity rule 2.
  */
object Retrieval {

  /** Lowercased whitespace tokens (empty-run safe) — the shared analyzer. */
  def analyze(textCol: Column): Column =
    filter(split(lower(textCol), "\\s+"), t => t =!= "")

  /** Inverted index: one row per term with document frequency `df`,
    * collection frequency `cf`, and the posting list sorted by doc id
    * (`postings: ARRAY<STRUCT<id, tf>>`). Terms appearing in more than
    * `maxDf` documents are dropped when `maxDf > 0` (stopword guard — see
    * class doc for why this matters at scale). */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxDf: Long = 0L): DataFrame = {
    val tf = df
      .select(col(idCol).cast("long").as("id"), explode(analyze(col(textCol))).as("term"))
      .groupBy("term", "id").agg(count(lit(1)).as("tf"))
    // the stopword guard must fire BEFORE collect_list: an over-cap term's
    // posting list is exactly the single-reducer skew we are guarding
    // against, so it must never be materialized. The window count shares
    // the term-hash exchange with the aggregate below (one shuffle total).
    val kept =
      if (maxDf > 0)
        tf.withColumn("_tdf", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("term")))
          .filter(col("_tdf") <= maxDf).drop("_tdf")
      else tf
    kept.groupBy("term").agg(
      count(lit(1)).as("df"),
      sum("tf").as("cf"),
      sort_array(collect_list(struct(col("id"), col("tf")))).as("postings"))
  }

  /** BM25 scores for one bag-of-terms query: top-`k` documents as
    * (id, score, n_matched). `k1`/`b` are the standard Lucene defaults.
    * Scores are rounded to 6 decimals (see class doc). */
  def bm25(df: DataFrame, idCol: String, textCol: String, queryTerms: Seq[String],
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("id"), analyze(col(textCol)).as("t"))
      .select(col("id"), col("t"), size(col("t")).cast("long").as("dl"))
    // only the query's terms survive to the shuffle
    val tf = docs
      .select(col("id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
    scoreScanned(tf, tf, docs, k, k1, b)
  }

  /** Fielded BM25 (BM25F-lite, Robertson et al. 2004): per-field integer
    * boost weights fold into a weighted term frequency and a weighted
    * document length (`wtf = Σ_f w_f·tf_f`, `wdl = Σ_f w_f·len_f`), then
    * the standard BM25 saturation runs ONCE on the weighted counts — a
    * title hit counts `w_title`× a body hit without double-counting idf.
    * Same pushed-down term filter, same shuffle shape, same exact-decimal
    * scoring as [[bm25]] (one extra union per field before the
    * aggregate). */
  def bm25Fielded(df: DataFrame, idCol: String, fields: Seq[(String, Int)],
                  queryTerms: Seq[String], k: Int,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(fields.nonEmpty, "bm25Fielded: no fields")
    val docs = df.select(
      col(idCol).cast("long").as("id") +:
        fields.map { case (f, _) => analyze(col(f)).as(s"_t_$f") }: _*)
      .withColumn("dl", fields.map { case (f, w) =>
        size(col(s"_t_$f")).cast("long") * w }.reduce(_ + _))
    val tf = fields.map { case (f, w) =>
      docs.select(col("id"), col("dl"), explode(col(s"_t_$f")).as("term"),
        lit(w.toLong).as("w"))
    }.reduce(_ unionByName _)
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("id", "dl", "term").agg(sum("w").as("tf"))
    scoreScanned(tf, tf, docs, k, k1, b)
  }

  /** Static impact pruning (Anh & Moffat 2006; the first tier of a tiered
    * index): per query term only the `keepPerTerm` highest-tf postings
    * survive (ties → smaller id); BM25 then scores the survivors with the
    * FULL corpus document frequencies and length stats, so pruning changes
    * the candidate set, never the model. At 100 TB this caps every posting
    * list — worst-case query cost becomes O(|q|·keepPerTerm) instead of
    * O(max df) — at a measurable recall price: pair with [[bm25]] (the
    * exact tier-2 fallback) and gate the keep depth on top-k overlap.
    * Same pushed-down term filter and shuffle shape as [[bm25]]; the
    * per-term top-tf cut shares the term-hash exchange with the df
    * aggregate. */
  def bm25ImpactPruned(df: DataFrame, idCol: String, textCol: String,
                       queryTerms: Seq[String], k: Int, keepPerTerm: Int,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("id"),
      analyze(col(textCol)).as("t"))
      .select(col("id"), col("t"), size(col("t")).cast("long").as("dl"))
    val tf = docs
      .select(col("id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("term").orderBy(col("tf").desc, col("id").asc)
    val kept = tf.withColumn("_ir", row_number().over(w))
      .filter(col("_ir") <= keepPerTerm).drop("_ir")
    scoreScanned(kept, tf, docs, k, k1, b)
  }

  /** Pseudo-relevance feedback term selection (the RM3-lite first half
    * of query expansion): run [[bm25]] for the base query, take its
    * top-`k` documents as a pseudo-relevant set, and score every OTHER
    * term they contain by tf_in_set · ln(n_docs / df) — high total
    * presence in the relevant set, discounted by corpus commonness, so
    * stopwords self-exclude without a list. Returns the top `nExpand`
    * (term, tf_sum, exp_score) rows; the caller appends them to the base
    * query and re-runs [[bm25]]. Scale shape: the candidate vocabulary
    * is bounded by k documents' distinct terms, corpus df is the
    * vocabulary-sized aggregate the index already maintains, and the
    * top-nExpand is a rank filter on that bounded frame. */
  def prfExpandTerms(df: DataFrame, idCol: String, textCol: String,
                     baseTerms: Seq[String], k: Int, nExpand: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = bm25(df, idCol, textCol, baseTerms, k, k1, b).select("id")
    val toks = df.select(col(idCol).cast("long").as("id"),
      explode(analyze(col(textCol))).as("term"))
    val corpusDf = toks.distinct().groupBy("term")
      .agg(count(lit(1)).as("term_df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val cand = toks.join(broadcast(base), Seq("id"))
      .filter(!col("term").isin(baseTerms: _*))
      .groupBy("term").agg(count(lit(1)).as("tf_sum"))
    cand.join(corpusDf, Seq("term")).crossJoin(broadcast(nDocs))
      .withColumn("exp_score", col("tf_sum").cast("double") *
        log(col("n_docs").cast("double") / col("term_df")))
      .withColumn("_rk", row_number().over(
        Window.orderBy(col("exp_score").desc, col("term").asc)))
      .filter(col("_rk") <= nExpand)
      .select(col("term"), col("tf_sum"), round(col("exp_score"), 6)
        .as("exp_score"))
  }

  /** (n_docs, avgdl) from a (id, dl) frame — one tiny aggregate that
    * broadcasts into the scorer. */
  def docLengthStats(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))

  /** The corpus totals BM25 normalizes by: the number of documents and
    * their summed length. A standing index keeps them with its doc-length
    * table, so serving a query never re-aggregates every length. */
  final case class CorpusTotals(nDocs: Long, sumDl: Long) {
    /** avgdl exactly as [[docLengthStats]] computes it: one double
      * division of the exact sum by the exact count. */
    def avgdl: Double = sumDl.toDouble / nDocs
  }

  object CorpusTotals {
    /** The aggregate over a (id, dl) frame whose one row `apply` reads
      * back. Observable, so a checkpoint can take it in its own job. */
    val metrics: Seq[Column] =
      Seq(count(lit(1)).as("n_docs"), coalesce(sum("dl"), lit(0L)).as("sum_dl"))
    def apply(row: Row): CorpusTotals = CorpusTotals(row.getLong(0), row.getLong(1))
    /** The totals of `dl` in one aggregate job. */
    def of(dl: DataFrame): CorpusTotals =
      apply(dl.agg(metrics.head, metrics.tail: _*).head())
  }

  /** The scan paths' finish: per-term df counted from `dfreqOf`, the
    * corpus stats aggregated over `docs`, both broadcast into
    * [[scoreBm25]]. */
  private def scoreScanned(tf: DataFrame, dfreqOf: DataFrame, docs: DataFrame,
                           k: Int, k1: Double, b: Double): DataFrame = {
    val dfreq = dfreqOf.groupBy("term").agg(count(lit(1)).as("term_df"))
    scoreBm25(tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(docLengthStats(docs.select(col("id"), col("dl"))))),
      col("n_docs"), col("avgdl"), k, k1, b)
  }

  /** Shared BM25 finish over a per-(id, dl, term) frame that carries the
    * term's `term_df`: idf · tf-norm summed in exact decimal, rounded to
    * 6, top-k. Used by both the scan paths ([[bm25]]: stats columns) and
    * the index-serving path ([[bm25FromIndex]]: literals) — identical
    * arithmetic, so both replay against the same oracle. */
  private def scoreBm25(tf: DataFrame, nDocs: Column, avgdl: Column,
                        k: Int, k1: Double, b: Double): DataFrame = {
    val idf = log(
      (nDocs - col("term_df") + lit(0.5)) / (col("term_df") + lit(0.5)) + lit(1.0))
    val tfNorm = (col("tf") * (lit(k1) + 1.0)).cast("double") /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    tf.withColumn("contrib", idf * tfNorm)
      .groupBy("id")
      .agg(
        round(sum(col("contrib").cast("decimal(27,15)")).cast("double"), 6).as("score"),
        count(lit(1)).as("n_matched"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty 2004),
    * the standard LM alternative to BM25. Uses the rank-equivalent
    * decomposition that needs only MATCHED (doc, term) rows:
    *
    *   score(d) = Σ_{t∈q, tf>0} ln(1 + tf·C / (μ·cf_t))  +  |q|·ln(μ / (dl+μ))
    *
    * where C is the corpus token count and cf_t the collection frequency
    * of t — so the shuffle carries exactly the same filtered (id, term)
    * pairs as [[bm25]] (the zero-tf smoothing mass folds into the
    * dl-only second term; docs matching no term are unranked, as in any
    * candidate-generation retrieval stack). All ln arguments are single
    * divisions of exact integers, each matched-term contribution and the
    * per-doc length term are cast to exact decimal before summing, and
    * the final score rounds to 6 decimals — the [[bm25]] parity rule.
    * cf_t comes from the same matched rows (Σ tf over the corpus), so no
    * second corpus pass; C and cf broadcast as tiny frames. */
  def queryLikelihood(df: DataFrame, idCol: String, textCol: String,
                      queryTerms: Seq[String], k: Int,
                      mu: Double = 1000.0): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("id"), analyze(col(textCol)).as("t"))
      .select(col("id"), col("t"), size(col("t")).cast("long").as("dl"))
    val tf = docs
      .select(col("id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("term").agg(sum("tf").as("cf"))
    val stats = docs.agg(sum("dl").as("c_tokens"))
    val matchTerm = log(lit(1.0) +
      (col("tf") * col("c_tokens")).cast("double") / (lit(mu) * col("cf")))
    val lenTerm = log(lit(mu) / (col("dl") + lit(mu)))
    tf.join(broadcast(cf), "term")
      .crossJoin(broadcast(stats))
      .groupBy("id", "dl")
      .agg(sum(matchTerm.cast("decimal(27,15)")).as("_m"),
        count(lit(1)).as("n_matched"))
      .withColumn("score", round(
        (col("_m") + (lenTerm * queryTerms.size).cast("decimal(27,15)"))
          .cast("double"), 6))
      .select(col("id"), col("score"), col("n_matched"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** Reciprocal Rank Fusion (Cormack et al. 2009) of ranked result lists:
    * score(id) = Σ_lists 1/(c + rank). The standard hybrid-retrieval
    * combiner for lexical (BM25) + dense (vector) rankings — rank-based,
    * so the two scorers' incompatible score scales never matter. Each
    * input frame carries (idCol, rank); lists are tiny (top-k), so the
    * union and aggregate are driver-scale no matter the corpus. The per
    * -list quotient is one correctly-rounded double division and the sum
    * accumulates in exact decimal — oracle-replayable. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
              c: Int = 60): DataFrame = {
    val unioned = rankings
      .map(_.select(col(idCol).cast("long").as("id"), col("rank")))
      .reduce(_ unionByName _)
    unioned
      .withColumn("contrib", lit(1.0) / (lit(c) + col("rank")))
      .groupBy("id")
      .agg(sum(col("contrib").cast("decimal(27,15)")).cast("double").as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("id").asc)
      .limit(k)
  }

  /** BM25 served from a PERSISTED index ([[graft.store.IndexStore]]):
    * posting lists for the query's terms come from a partition-pruned
    * lookup (|terms| buckets read, not the corpus), each with its term's
    * `df`; document lengths from a precomputed (id, dl) side table; the
    * corpus totals from the caller, who keeps them with that table
    * ([[CorpusTotals]]), and they enter the scorer as literals.
    *
    * ONE plan: building the frame runs no job. The exploded postings join
    * the doc lengths with no hint — Catalyst/AQE choose the strategy from
    * the scan's and the table's statistics, so a stopword-grade term over
    * a 100 TB corpus is never forced into a broadcast.
    * Output and arithmetic are identical to [[bm25]] (same oracle). */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                    nBuckets: Int, docLengths: DataFrame, totals: CorpusTotals,
                    queryTerms: Seq[String], k: Int, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame = {
    val tf = graft.store.IndexStore.lookup(spark, indexPath, queryTerms, nBuckets)
      .select(col("term"), col("df").as("term_df"), explode(col("postings")).as("p"))
      .select(col("term"), col("term_df"), col("p.id").as("id"), col("p.tf").as("tf"))
    scoreBm25(tf.join(docLengths.select(col("id"), col("dl")), "id"),
      lit(totals.nDocs), lit(totals.avgdl), k, k1, b)
  }

  /** Sparse TF-IDF cosine similarity self-join via posting-list joins —
    * the document-document twin of [[bm25]]'s document-query scoring, and
    * the lexical counterpart of the dense-embedding pair search (q36):
    * docs become sparse term-weight vectors, and every dot product is
    * assembled from ONE equi-join of postings on the term (Σ over shared
    * terms of w_a·w_b), never a dense all-pairs scan.
    *
    * Exactness: the idf is the INTEGER floor(log2(N / df)) via the
    * bit-length identity (`length(bin(x)) - 1`), so weights, dot products
    * and squared norms are all exact integer arithmetic (order-independent
    * sums); the only floating point is the final sqrt/divide, an identical
    * expression tree in both engines.
    *
    * Scale: terms with df < minDf (nothing to pair) or df > maxDf
    * (stopword-grade fan-out: a term's join contribution is df², so a cap
    * bounds the candidate count exactly like [[invertedIndex]]'s maxDf
    * guard) are pruned BEFORE the self-join; norms are computed over the
    * same kept postings so pruning is consistent on both sides of the
    * cosine. Returns (doc_a, doc_b, dot, cosine) for pairs with
    * cosine ≥ tau, doc_a < doc_b.
    *
    * Takes an exploded (id, term) frame so the tokenizer composes: words
    * for a natural corpus, character shingles ([[Dedup.shingleExpr]]) for
    * one with a tiny shared vocabulary — on the synthetic corpus the
    * word-level variant is DEGENERATE (31 distinct words → every doc
    * keeps ~1 discriminative term and all pair cosines collapse to 1.0),
    * which is the same reason q142 shingles. */
  def sparseCosineJoin(toks: DataFrame, idCol: String, termCol: String,
                       tau: Double, minDf: Int = 2, maxDf: Int = 200): DataFrame = {
    val tf = toks.select(col(idCol).as("id"), col(termCol).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    val nDocs = tf.select(col("id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    // integer idf: floor(log2(N / df)) = bit_length(N div df) - 1
    val w = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("idf", length(bin(expr("n_docs div df"))) - 1)
      .withColumn("w", col("tf") * col("idf"))
      .filter(col("w") > 0)
      .select(col("id"), col("term"), col("w"))
    val nsq = w.groupBy("id").agg(sum(col("w") * col("w")).as("nsq"))
    val pairs = w.select(col("id").as("doc_a"), col("term"), col("w").as("wa"))
      .join(w.select(col("id").as("doc_b"), col("term"), col("w").as("wb")), "term")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
    pairs
      .join(nsq.select(col("id").as("doc_a"), col("nsq").as("_na")), "doc_a")
      .join(nsq.select(col("id").as("doc_b"), col("nsq").as("_nb")), "doc_b")
      .withColumn("cosine",
        col("dot").cast("double") / (sqrt(col("_na").cast("double")) *
          sqrt(col("_nb").cast("double"))))
      .filter(col("cosine") >= tau)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("cosine"))
  }

  // ---- Positional retrieval: phrase, proximity, snippets ----------------

  /** Exact phrase match: documents containing `phrase` as CONSECUTIVE
    * tokens, with occurrence count and the 1-based position of the first
    * occurrence. Shape: the position explode is filtered to the phrase's
    * OWN words map-side (almost everything dies at the scan), then
    * word i's positions equi-join word 0's on (id, pos − i) — the
    * standard positional-index phrase intersection, n−1 hash joins on
    * keys that survive the prune. (A per-row higher-order-function scan
    * was tried first: HOF lambdas evaluate interpreted, ~10× slower than
    * these codegen'd joins at sf0.1 — see NOTES.) */
  def phraseMatch(df: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseMatch: empty phrase")
    val pos = df.select(col(idCol).cast("long").as("id"),
        posexplode(analyze(col(textCol))).as(Seq("p0", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .select(col("id"), (col("p0") + 1).as("pos"), col("term"))
    val f0 = pos.filter(col("term") === phrase.head)
      .select(col("id"), col("pos").as("start"))
    val starts = phrase.zipWithIndex.tail.foldLeft(f0) {
      case (acc, (wd, i)) =>
        acc.join(pos.filter(col("term") === wd)
          .select(col("id"), (col("pos") - i).as("start")),
          Seq("id", "start"))
    }
    starts.groupBy("id")
      .agg(count(lit(1)).as("n_occurrences"), min("start").as("first_pos"))
  }

  /** Minimal covering span (Clarke et al. 2000 proximity): for each doc
    * containing ALL `terms`, the length of the smallest token window that
    * contains every term at least once. One shuffle keyed by doc id: the
    * token explode is filtered to query terms map-side, then |terms|
    * running-max window columns over (id ORDER BY pos) give, at each hit,
    * the last-seen position of every term — span at that hit is
    * pos − min(last seen) + 1, and the doc's min-span is the min over its
    * hits (the standard one-pass sliding-cover argument). Positions are
    * 1-based. */
  def minSpanProximity(df: DataFrame, idCol: String, textCol: String,
                       terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "minSpanProximity: no terms")
    val hits = df.select(col(idCol).cast("long").as("id"),
        posexplode(analyze(col(textCol))).as(Seq("pos0", "term")))
      .filter(col("term").isin(terms: _*))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("term"))
    val w = Window.partitionBy("id").orderBy("pos")
    val withLast = hits.select(
      col("id") +: col("pos") +: terms.zipWithIndex.map { case (tm, i) =>
        max(when(col("term") === tm, col("pos"))).over(w).as(s"_l$i")
      }: _*)
    withLast
      .filter(terms.indices.map(i => col(s"_l$i").isNotNull).reduce(_ && _))
      .withColumn("span",
        col("pos") - least(terms.indices.map(i => col(s"_l$i")): _*) + 1)
      .groupBy("id")
      .agg(min("span").as("min_span"), count(lit(1)).as("n_covers"))
  }

  /** Passage-to-document score aggregation (the MaxP/SumP family,
    * Dai & Callan 2019): chunks score individually — here the exact
    * query-term occurrence count, a zero-shuffle HOF over the chunk
    * text — and a document scores `best + decay·(sum − best)`: dominated
    * by its best passage, with diminishing credit for additional hits.
    * Returns the top-`k` docs with their best chunk id (the snippet
    * pointer). One groupBy(doc) after map-side scoring; the top-k is
    * TakeOrderedAndProject. */
  def passageAggregate(chunks: DataFrame, docCol: String, chunkIdCol: String,
                       textCol: String, terms: Seq[String],
                       decay: Double = 0.2, k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "passageAggregate: no terms")
    val sc = chunks.select(col(docCol).as("doc_id"),
        col(chunkIdCol).as("chunk_id"),
        size(filter(analyze(col(textCol)),
          t => terms.map(w => t === lit(w)).reduce(_ || _)))
          .cast("long").as("score"))
      .filter(col("score") > 0)
    sc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max("score").as("best_score"),
        sum("score").as("total_score"),
        min_by(col("chunk_id"),
          struct((-col("score")).as("ns"), col("chunk_id")))
          .as("best_chunk_id"))
      .withColumn("doc_score", col("best_score").cast("double") +
        lit(decay) * (col("total_score") - col("best_score")).cast("double"))
      .orderBy(col("doc_score").desc, col("doc_id")).limit(k)
  }

  /** Best keyword-in-context snippet: the `width`-token window with the
    * most DISTINCT query terms (ties → earliest start), plus the window
    * text. Query-term hits per doc are few, so the windowed count is a
    * bounded self-join of hits on (id, pos ≤ pos₂ < pos+width) — never a
    * doc × doc or token × token expansion; the final text slice joins the
    * winning start back to the token array. */
  def bestSnippet(df: DataFrame, idCol: String, textCol: String,
                  terms: Seq[String], width: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bestSnippet: no terms")
    val toks = df.select(col(idCol).cast("long").as("id"),
      analyze(col(textCol)).as("_t"))
    val hits = toks.select(col("id"),
        posexplode(col("_t")).as(Seq("pos0", "term")))
      .filter(col("term").isin(terms: _*))
      .select(col("id"), (col("pos0") + 1).as("pos"), col("term"))
    val a = hits.select(col("id"), col("pos").as("start"))
    val b = hits.select(col("id"), col("pos").as("p2"), col("term"))
    val windows = a.join(b, Seq("id"))
      .filter(col("p2") >= col("start") && col("p2") < col("start") + width)
      .groupBy("id", "start")
      .agg(countDistinct("term").as("n_terms"))
    val best = windows.groupBy("id").agg(
      min_by(struct(col("start"), col("n_terms")),
        struct((-col("n_terms")).as("nt"), col("start"))).as("_b"))
      .select(col("id"), col("_b.start").as("start"),
        col("_b.n_terms").as("n_terms"))
    best.join(toks, "id")
      .select(col("id"), col("start"), col("n_terms"),
        array_join(slice(col("_t"), col("start"), lit(width)), " ")
          .as("snippet"))
  }

  /** Query-performance prediction over a fixed query set: per query the
    * top-k [[bm25]] score-list statistics — top1, top2, the top-1 gap,
    * mean/sd of the retrieved scores and the clarity-lite
    * (top1 − mean)/sd. The pre-retrieval triage a serving tier runs to
    * route hard queries (flat score lists) to a heavier reranker and let
    * confident ones (big gap, high clarity) return early. Scores arrive
    * already display-rounded from [[bm25]], so downstream moments are
    * decimal-exact over fixed inputs.
    *
    * Scale shape: one [[bm25]] pass per query (each a pushed-down term
    * filter on the shared corpus scan shape); stats fold k rows per
    * query. */
  def queryPerformance(df: DataFrame, idCol: String, textCol: String,
                       queries: Seq[(String, Seq[String])],
                       k: Int): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    queries.map { case (qname, terms) =>
      bm25(df, idCol, textCol, terms, k)
        .select(lit(qname).as("query"), col("score"))
    }.reduce(_ unionByName _)
      .groupBy("query")
      .agg(count(lit(1)).as("n_hits"),
        max("score").as("top1"),
        sort_array(collect_list(col("score")), asc = false).as("_arr"),
        sum(d18(col("score"))).cast("double").as("_s"),
        sum(d18(col("score") * col("score"))).cast("double").as("_sq"))
      .withColumn("top2",
        when(size(col("_arr")) >= 2, element_at(col("_arr"), 2)))
      .withColumn("mean_score", col("_s") / col("n_hits"))
      .withColumn("_var",
        (col("_sq") - col("_s") * col("_s") / col("n_hits")) /
          col("n_hits"))
      .select(col("query"), col("n_hits"), col("top1"), col("top2"),
        when(col("top2").isNotNull,
          round(col("top1") - col("top2"), 6)).as("gap"),
        round(col("mean_score"), 6).as("mean_score"),
        when(col("_var") > 0, round(sqrt(col("_var")), 6)).as("sd_score"),
        when(col("_var") > 0, round(
          (col("top1") - col("mean_score")) / sqrt(col("_var")), 6))
          .as("clarity"))
      .orderBy("query")
  }

  /** Borda-count rank fusion over an arbitrary list of (label, scored
    * frame) rankings — the positional-voting alternative to RRF (q109):
    * each ranking awards an item N − rank points (N = item universe
    * size), the fused order is the point sum. Unlike RRF's 1/(k+rank)
    * — which is top-heavy by design — Borda weights rank differences
    * LINEARLY, so it is the right fusion when mid-list order carries
    * signal (e.g. combining quality scores for training-data selection
    * rather than first-page retrieval). Items absent from a ranking
    * score 0 from it (the standard truncated-ballot convention).
    *
    * Ranks are dense row_numbers on (score desc, id) — fully
    * deterministic under ties. Each input ranks independently
    * (per-frame window partitioned by nothing but sized by its
    * candidate set), then one union + sum; `topK` caps via
    * TakeOrdered. */
  def bordaFusion(rankings: Seq[(String, DataFrame)], idCol: String,
                  scoreCol: String, universe: Long, topK: Int): DataFrame = {
    require(rankings.nonEmpty && topK >= 1, "need rankings and topK")
    val ranked = rankings.map { case (label, df) =>
      df.select(col(idCol).as("id"),
          col(scoreCol).cast("long").as("s"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("s").desc, col("id").asc)))
        .select(col("id"), lit(label).as("src"), col("rank"),
          (lit(universe) - col("rank")).as("points"))
    }.reduce(_ unionByName _)
    ranked.groupBy("id")
      .agg(count(lit(1)).as("n_lists"), sum("points").as("borda"))
      .orderBy(col("borda").desc, col("id").asc).limit(topK)
      .select(col("id").as(idCol), col("n_lists"), col("borda"))
  }
}
