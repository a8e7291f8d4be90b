package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus quality filtering for LLM training-data pipelines.
  *
  * The reference has no corpus-quality surface (it embeds whatever the
  * loader produces — reference: src/server/app/embed package), but any pipeline
  * feeding a trainer at 100 TB runs document-level quality gates first.
  * These implement the standard public recipes: Gopher-style quality
  * heuristics (Rae et al. 2021, "Scaling Language Models", §A1.1 — word
  * count / mean word length / stopword presence bounds) and
  * repetition-based filters (ibid. §A1.1 duplicate n-gram fractions), plus
  * regex PII redaction as popularized by C4 (Raffel et al. 2020, §2.2).
  *
  * Scale shape: the per-document metrics are single-pass Catalyst HOF
  * expressions — no shuffle at all, they pipeline into whatever follows.
  * The bigram-repetition stats explode (doc, bigram) pairs through ONE
  * partial-aggregated groupBy — the same shape as the corpus bigram LM
  * counts (q70) — because a per-doc HOF multiplicity count would be
  * O(words²) per document. Every metric is exact integer arithmetic or a
  * single double division, so the DuckDB oracle replays it bit-for-bit.
  */
object TextQuality {

  /** Shared stopword list (tiny on purpose — the corpus is synthetic; at
    * production scale you'd broadcast a real per-language list). */
  val Stopwords: Seq[String] = Seq("a", "the", "of", "to", "and", "in", "is", "on", "for", "it")

  /** Whitespace tokens, empty-run safe. */
  def tokens(textCol: Column): Column =
    filter(split(textCol, "\\s+"), t => t =!= "")

  /** Per-source out-of-vocabulary audit against a reference vocabulary
    * = the global top-`vocabSize` tokens (by corpus frequency, ties →
    * token asc — deterministic). The tokenizer-coverage question a
    * mixture designer asks before adding a source: what share of its
    * token OCCURRENCES (and of its distinct TYPES) falls outside the
    * head vocabulary the tokenizer/classifier was built on? High
    * occurrence-OOV = the source is linguistically alien to the
    * reference; high type-OOV with low occurrence-OOV = a long exotic
    * tail that still matters little by mass.
    *
    * Scale shape: one token-count shuffle per grain; the vocab is a
    * bounded TakeOrdered (top-K heap, no global sort) broadcast into
    * an existence join. */
  def oovRate(df: DataFrame, srcCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val tc = df.select(col(srcCol).as("src"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("src", "tok").agg(count(lit(1)).as("c"))
      .transform(Lineage.cut(_, "TextQuality.oovRate.tc"))
    val vocab = tc.groupBy("tok").agg(sum("c").as("cf"))
      .orderBy(col("cf").desc, col("tok").asc).limit(vocabSize)
      .select(col("tok"), lit(true).as("in_vocab"))
    tc.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("src")
      .agg(sum("c").as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(0L))
          .as("n_oov"),
        count(lit(1)).as("n_types"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .as("n_oov_types"))
      .select(col("src").as(srcCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"),
        col("n_types"), col("n_oov_types"),
        round(col("n_oov_types").cast("double") / col("n_types"), 6)
          .as("type_oov_rate"))
      .orderBy(srcCol)
  }

  /** Gopher-style per-document quality metrics + pass flag.
    * Thresholds are calibrated to the synthetic corpus so both classes
    * occur; the production values from the paper differ only in constants.
    * All metrics are exact (int counts, one double division each). */
  def gopherMetrics(df: DataFrame, idCol: String, textCol: String,
                    keep: Seq[String] = Nil): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("_toks", toks)
      .withColumn("n_words", size(col("_toks")))
      .withColumn("sum_len",
        aggregate(col("_toks"), lit(0L), (a, t) => a + length(t)))
      .withColumn("mean_word_len",
        col("sum_len").cast("double") / col("n_words"))
      .withColumn("stopword_frac",
        size(filter(col("_toks"), t => t.isInCollection(Stopwords))).cast("double")
          / col("n_words"))
      .withColumn("unique_frac",
        size(array_distinct(col("_toks"))).cast("double") / col("n_words"))
      .withColumn("max_word_len",
        array_max(transform(col("_toks"), t => length(t))))
      .withColumn("quality_pass",
        col("n_words") >= 30 &&
          col("mean_word_len").between(4.0, 5.0) &&
          col("stopword_frac") >= 0.03 &&
          col("unique_frac") >= 0.35)
      .select(col(idCol) +: keep.map(col) ++: Seq(col("n_words"),
        col("mean_word_len"), col("stopword_frac"), col("unique_frac"),
        col("max_word_len"), col("quality_pass")): _*)
  }

  /** Word-bigram array of a token array: ["a b", "b c", ...]. */
  private def bigramsOf(toksCol: Column): Column =
    transform(sequence(lit(1), size(toksCol) - 1),
      i => concat(element_at(toksCol, i), lit(" "), element_at(toksCol, i + 1)))

  /** Per-document bigram repetition statistics (Gopher's duplicate-n-gram
    * family): total/distinct bigram counts, the duplicate fraction, and the
    * top-bigram fraction (count of the most frequent bigram / total).
    *
    * Shuffles (doc, bigram) once; partial aggregation collapses repeats
    * map-side, so a pathologically repetitive document costs one row per
    * distinct bigram per partition on the wire. */
  def bigramRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize ONCE into a column: Catalyst does not CSE interpreted HOFs,
    // so passing the tokens() expression into the per-index lambda would
    // re-split the text per bigram (O(words²) per document — measured 40×
    // this query's runtime at sf0.1)
    val perBigram = df
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .filter(size(col("_t")) >= 2)
      .select(col(idCol), explode(bigramsOf(col("_t"))).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
    perBigram.groupBy(col(idCol))
      .agg(sum("c").as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        max("c").as("top_count"))
      .select(col(idCol),
        col("n_bigrams"), col("distinct_bigrams"),
        (lit(1.0) - col("distinct_bigrams").cast("double") / col("n_bigrams"))
          .as("dup_bigram_frac"),
        (col("top_count").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
  }

  /** Word n-gram array ("a b c", ...) of a token array — the shared
    * n-gram builder for the repetition gates. */
  private def ngramsOf(toksCol: Column, n: Int): Column =
    transform(sequence(lit(1), size(toksCol) - (n - 1)),
      i => concat_ws(" ", slice(toksCol, i, lit(n))))

  /** Gopher's top-n-gram repetition signals (Rae et al. 2021 §A1.1): per
    * document, the fraction of (token) characters accounted for by the
    * most frequent word n-gram, for each requested n — the gate that
    * kills boilerplate like a nav bar repeated hundreds of times.
    *
    *   frac_n = top_count · chars(top n-gram) / Σ chars(all tokens)
    *
    * All counts integer, one double division per (doc, n). The top gram
    * resolves ties deterministically by `max(struct(count, gram))` —
    * highest count, then lexicographically-last gram — which the oracle
    * replays as a `row_number () OVER (ORDER BY c DESC, g DESC)` window.
    * Per n: one (doc, gram) shuffle that collapses map-side (repeats are
    * the whole point of the metric) and one per-doc aggregate; docs
    * shorter than n tokens join back with fraction 0. */
  def topNgramFractions(df: DataFrame, idCol: String, textCol: String,
                        ns: Seq[Int], thresholds: Seq[Double]): DataFrame = {
    require(ns.nonEmpty && ns.size == thresholds.size)
    val base = df
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .withColumn("tok_chars", length(array_join(col("_t"), "")))
    val perN = ns.map { n =>
      base.filter(size(col("_t")) >= n)
        .select(col(idCol), col("tok_chars"),
          explode(ngramsOf(col("_t"), n)).as("g"))
        .groupBy(col(idCol), col("tok_chars"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col(idCol))
        .agg(max(struct(col("c"), col("g"))).as("_top"),
          first(col("tok_chars")).as("_tc"))
        .select(col(idCol),
          ((col("_top.c") * (length(col("_top.g")) - (n - 1))).cast("double") /
            col("_tc")).as(s"top${n}_frac"))
    }
    val joined = perN.reduce(_.join(_, Seq(idCol), "full"))
    val filled = ns.foldLeft(df.select(col(idCol)).join(joined, Seq(idCol), "left")) {
      (acc, n) => acc.withColumn(s"top${n}_frac",
        coalesce(col(s"top${n}_frac"), lit(0.0)))
    }
    filled.withColumn("rep_pass",
      ns.zip(thresholds).map { case (n, t) => col(s"top${n}_frac") <= t }
        .reduce(_ && _))
  }

  /** Exact character… token coverage of DUPLICATED word n-grams (the
    * second Gopher repetition family): the fraction of a document's
    * tokens lying inside at least one occurrence of an n-gram that
    * occurs more than once in that document, counting each token ONCE
    * (interval union via the gaps-and-islands running-max window — spans
    * overlap heavily in repetitive text, so naive per-span sums
    * overcount). Per-doc windows partition by id; the only shuffle
    * carries (doc, position) rows for duplicated grams. */
  def dupNgramCoverage(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .select(col(idCol), tokens(col(textCol)).as("_t"))
      .withColumn("n_tokens", size(col("_t")).cast("long"))
    val occ = base.filter(size(col("_t")) >= n)
      .select(col(idCol), explode(transform(
          sequence(lit(1), size(col("_t")) - (n - 1)),
          i => struct(i.as("pos"), concat_ws(" ", slice(col("_t"), i, lit(n))).as("g"))))
        .as("o"))
      .select(col(idCol), col("o.pos").as("pos"), col("o.g").as("g"))
    val dup = occ
      .withColumn("_cnt", count(lit(1)).over(
        Window.partitionBy(col(idCol), col("g"))))
      .filter(col("_cnt") > 1)
      .withColumn("end", col("pos") + (n - 1))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = dup
      .withColumn("_pmax", coalesce(max(col("end")).over(w), lit(0)))
      .withColumn("_cov", greatest(lit(0),
        col("end") - greatest(col("_pmax"), col("pos") - 1)))
      .groupBy(col(idCol))
      .agg(sum(col("_cov")).as("covered_tokens"))
    base.select(col(idCol), col("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .na.fill(0L, Seq("covered_tokens"))
      .withColumn(s"dup${n}_frac", when(col("n_tokens") === 0, lit(0.0))
        .otherwise(col("covered_tokens").cast("double") / col("n_tokens")))
  }

  /** Per-document top TF-IDF terms. IDF is the exact ratio N/df (no log —
    * one double division, so the oracle replays it exactly; the ranking is
    * monotone in the log form anyway for fixed tf). Shuffles (doc, term)
    * once for tf, once for df; both collapse map-side. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.agg(count(lit(1)).as("n_docs")) // stays lazy — no collect
    val termFreq = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = termFreq.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term"))
    termFreq.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("int").as("rank"),
        col("term"), col("score"))
  }

  /** Email / IPv4 regexes kept to RE2-compatible syntax so Java regex
    * (Spark) and RE2 (DuckDB) agree on every match. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  /** Perplexity-proxy quality filter without a float LM: per-document
    * rare-bigram statistics against the corpus's own bigram counts — a
    * document dominated by corpus-rare bigrams is exactly the document a
    * CCNet-style LM-perplexity gate (Wenzek et al. 2020) scores badly,
    * but every number here is integer arithmetic or one double division,
    * so the DuckDB oracle replays it bit-for-bit (a sum of log-probs
    * would be association-order-dependent and unverifiable).
    *
    * Pipeline: positional bigram hashes (native
    * `graft_gram_polyhashes(text, 2)` — no string concat), corpus-wide
    * occurrence count per hash (window over the hash, ONE shuffle, no
    * join-back against a counts table), then a per-document rollup.
    * Returns (id, n_bigrams, n_rare, rare_frac, min_count) where a
    * bigram is "rare" when its corpus count ≤ `rareMax` (its own
    * occurrence included). */
  def rareBigramStats(df: DataFrame, idCol: String, textCol: String,
                      rareMax: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(idCol),
        explode(call_function("graft_gram_polyhashes", col(textCol), lit(2)))
          .as("gh"))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy("gh")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_cnt") <= rareMax, 1L).otherwise(0L)).as("n_rare"),
        min("_cnt").as("min_count"))
      .select(col(idCol), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams")).as("rare_frac"),
        col("min_count"))
  }

  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Count and redact PII-shaped spans (emails, IPv4s). Returns the input
    * columns plus n_emails / n_ips / redacted text. Pure map-side. */
  def piiRedact(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)))
      .withColumn("n_ips", regexp_count(col(textCol), lit(Ipv4Re)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"))

  /** C4-style line-level corpus filter (Raffel et al. 2020 §2.2 adapted to
    * this corpus: the C4 heuristics operate per newline-delimited line; the
    * synthetic corpus has no newlines or punctuation, so callers pass an
    * already-split `ARRAY<STRING>` lines column — see
    * [[tokenLines]] for the deterministic splitter the gated query uses).
    *
    * Per line, keep iff: (1) at least `minWords` whitespace words,
    * (2) no blocklisted word, (3) not a duplicate of an earlier line in the
    * SAME document (C4 dedups repeated boilerplate lines within a page,
    * keep-first). Per document: drop the document entirely when fewer than
    * `minLines` lines survive.
    *
    * Everything is HOF array logic — pure map-side, zero shuffle, and every
    * number is an integer count, so the oracle replays it exactly.
    * Returns (input columns..., n_lines, n_kept, kept, kept_text). */
  def c4LineFilter(df: DataFrame, linesCol: String, minWords: Int = 5,
                   blocklist: Seq[String] = Seq("slow"), minLines: Int = 3): DataFrame = {
    val bl = blocklist.map(w => s"'$w'").mkString("array(", ",", ")")
    // keep-first within-doc dedup: a line survives only if its first
    // occurrence index is its own index (array_position is 1-based)
    val keptExpr = expr(
      s"""filter($linesCol, (ln, i) ->
         |  size(filter(split(ln, ' '), w -> w != '')) >= $minWords
         |  and not exists($bl, w -> array_contains(split(ln, ' '), w))
         |  and array_position($linesCol, ln) = i + 1)""".stripMargin)
    df.withColumn("n_lines", size(col(linesCol)))
      .withColumn("_kept_lines", keptExpr)
      .withColumn("n_kept", size(col("_kept_lines")))
      .withColumn("kept", col("n_kept") >= minLines)
      .withColumn("kept_text", array_join(col("_kept_lines"), " "))
      .drop("_kept_lines")
  }

  /** Clean-block salvage — the refinement between "keep the doc" and
    * "drop the doc": the LONGEST CONTIGUOUS run of lines passing the C4
    * per-line predicate (≥ `minWords` words, no blocklisted word). Where
    * [[c4LineFilter]] keeps scattered surviving lines, salvage pipelines
    * (trafilatura-style main-content extraction) want one coherent
    * block — headers, nav, and footers fall off the ends, and a single
    * bad line in the middle caps what is salvageable.
    *
    * Gaps-and-islands: passing lines keep their original index; island
    * id = idx − (rank among passing lines) — constant within a
    * consecutive run. One window per doc (the q87 dupSpans shape), then
    * a `min_by(struct(-len, start))` argmax — no global sort. Docs with
    * no passing line keep their row (best_len 0, NULL start).
    * Returns (id, n_lines, best_start, best_len). */
  def cleanBlock(df: DataFrame, idCol: String, linesCol: String,
                 minWords: Int = 5,
                 blocklist: Seq[String] = Seq("slow")): DataFrame = {
    val bl = blocklist.map(w => s"'$w'").mkString("array(", ",", ")")
    val lines = df.select(col(idCol).as("id"),
      posexplode(col(linesCol)).as(Seq("idx", "ln")))
    val pass = lines.filter(expr(
      s"""size(filter(split(ln, ' '), w -> w != '')) >= $minWords
         | and not exists($bl, w -> array_contains(split(ln, ' '), w))"""
        .stripMargin))
    val isl = pass.withColumn("_grp", col("idx") -
      (row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy("idx")) - 1))
    val best = isl.groupBy("id", "_grp")
      .agg(min("idx").as("start"), count(lit(1)).as("len"))
      .groupBy("id")
      .agg(min_by(struct(col("start"), col("len")),
        struct(-col("len"), col("start"))).as("_b"))
    df.select(col(idCol).as("id"), size(col(linesCol)).as("n_lines"))
      .join(best, Seq("id"), "left")
      .select(col("id"), col("n_lines"), col("_b.start").as("best_start"),
        coalesce(col("_b.len"), lit(0L)).as("best_len"))
  }

  /** Per-source boilerplate-template detection: the modal `prefixTokens`-
    * token document prefix and its share of the source's documents. A
    * crawler or export bug that stamps the same header on a whole source
    * shows up as one prefix owning a large share — the C4-adjacent
    * source-level audit that per-line dedup cannot see (it dedups WITHIN
    * documents). One (source, prefix) count with map-side partials, then
    * a `min_by` argmax per source; ties break to the smaller prefix.
    * Returns (sourceCol, n_docs, top_prefix, top_n, top_share,
    * is_template = share ≥ threshold). */
  def boilerplatePrefix(df: DataFrame, sourceCol: String, textCol: String,
                        prefixTokens: Int = 8,
                        shareThreshold: Double = 0.2): DataFrame = {
    val withPfx = df
      .withColumn("_toks", tokens(col(textCol)))
      .withColumn("_pfx",
        expr(s"array_join(slice(_toks, 1, $prefixTokens), ' ')"))
    val counts = withPfx.groupBy(col(sourceCol), col("_pfx"))
      .agg(count(lit(1)).as("_n"))
    val nDocs = withPfx.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"))
    counts.groupBy(col(sourceCol))
      .agg(min_by(struct(col("_pfx"), col("_n")),
        struct(-col("_n"), col("_pfx"))).as("_t"))
      .join(nDocs, sourceCol)
      .select(col(sourceCol), col("n_docs"),
        col("_t._pfx").as("top_prefix"), col("_t._n").as("top_n"),
        (col("_t._n").cast("double") / col("n_docs")).as("top_share"),
        (col("_t._n").cast("double") / col("n_docs") >= shareThreshold)
          .as("is_template"))
  }

  /** Deterministic `width`-token line splitter for corpora without
    * newlines: lines are consecutive `width`-token windows of the
    * pre-tokenized array column `toksCol`, joined by single spaces. (On
    * real web text you'd `split(text, '\n')` instead.) Takes a COLUMN NAME
    * of an already-materialized token array — Catalyst does not CSE
    * interpreted HOFs, so inlining the tokenizer here would re-split per
    * window (NOTES.md). Empty docs yield an empty line array. */
  def tokenLines(toksCol: String, width: Int): Column =
    expr(
      s"""case when size($toksCol) = 0 then cast(array() as array<string>)
         |else transform(
         |  sequence(0, cast(floor((size($toksCol) - 1) / $width) as int)),
         |  i -> array_join(slice($toksCol, i * $width + 1, $width), ' ')) end""".stripMargin)

  /** [[tokenLines]] fused with the tokenizer as ONE native expression
    * ([[graft.plans.HashExpressions.TokenLinesExpr]], r11): every call
    * site tokenized the text solely to feed the splitter, and the
    * tokenize + per-window interpreted lambdas dominated those scans.
    * Output is identical to `tokenLines(tokens(text), width)` —
    * TextQualitySpec pins it. */
  def tokenLinesFromText(textCol: Column, width: Int): Column = {
    call_function("graft_token_lines", textCol, lit(width))
  }

  /** Hashed-bigram linear quality classifier (fastText/DCLM-style stand-in:
    * Joulin et al. 2017 trains weights; here they are a fixed seeded
    * function of the feature hash, which keeps the OPERATOR shape — feature
    * hashing, weight lookup, mean margin — while staying replayable in the
    * oracle). Feature = positional token-bigram hash
    * (`graft_gram_polyhashes(text, 2)`); weight(h) = scrambleHash(h) mod
    * 1001 - 500 ∈ [-500, 500]; margin = Σ weight / (1000 · n_features), one
    * double division at the end. Pure map-side scoring (the aggregate is a
    * per-row HOF fold, not a shuffle) — exactly how a 100 TB corpus scores
    * against a broadcast weight table. Returns (id, n_feats, raw_margin,
    * margin, label). */
  def classifierScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // retains the input columns (a gate should carry its payload through —
    // the training-export composite q117 filters on `label` and keeps going)
    df.withColumn("_fh",
        call_function("graft_gram_polyhashes", col(textCol), lit(2)))
      .withColumn("n_feats", size(col("_fh")))
      .withColumn("raw_margin",
        aggregate(col("_fh"), lit(0L),
          (acc, h) => acc + pmod(Sketches.keyHash(h), lit(1001L)) - lit(500L)))
      .withColumn("margin",
        when(col("n_feats") === 0, lit(0.0)).otherwise(
          col("raw_margin").cast("double") / (col("n_feats") * lit(1000L))))
      .withColumn("label", (col("raw_margin") > 0).cast("boolean"))
      .drop("_fh")
  }

  /** Global (cross-document) exact line dedup — the C4/RefinedWeb
    * corpus-wide line filter: every line occurrence except the FIRST
    * (min (doc, idx)) is dropped, and each doc's text is reassembled
    * from its surviving lines in order. Returns per doc the kept/dropped
    * counts and the rolling fingerprint of the reassembled text (the
    * content proof without shipping the text).
    *
    * Shape: one shuffle keyed by LINE CONTENT (the dedup — map-side
    * partial min on the (doc, idx) struct), one shuffle by doc (the
    * reassembly collect). Nothing quadratic; the per-line payload is the
    * line plus two ints. */
  def globalLineDedup(df: DataFrame, idCol: String,
                      linesCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      posexplode(col(linesCol)).as(Seq("idx", "line")))
    val winners = ex.groupBy("line")
      .agg(min(struct(col("id"), col("idx"))).as("_w"))
    ex.join(winners, "line")
      .withColumn("_keep",
        col("id") === col("_w.id") && col("idx") === col("_w.idx"))
      .groupBy("id")
      .agg(sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("_keep"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(expr("transform(array_sort(collect_list(" +
          "CASE WHEN _keep THEN struct(idx, line) END)), x -> x.line)"),
          " ").as("_nt"))
      .withColumn("new_fp", graft.functions.TextFunctions.fingerprint("_nt"))
      .select("id", "n_kept", "n_dropped", "new_fp")
  }

  /** Flesch reading-ease and Flesch-Kincaid grade level per document,
    * with the standard vowel-group syllable heuristic (a run of
    * [aeiouy] in the lowercased text counts one syllable — the
    * readability-package approximation, exact enough to rank corpora).
    * Word, sentence, and syllable counts are exact integers from two
    * regex scans (map-side, zero shuffle at any scale); the two scores
    * are literal-coefficient arithmetic over two divisions, rounded to
    * 6 — oracle-replayable. Sentence count floors at 1 so headline-only
    * docs score rather than divide by zero; 0-word docs yield NULL
    * scores. `hard` flags reading-ease below `minEase` (severely
    * difficult text is a boilerplate/garbage smell alongside the
    * [[gopherMetrics]] gates). */
  def fleschMetrics(df: DataFrame, idCol: String, textCol: String,
                    minEase: Double = 30.0): DataFrame = {
    val t = col(textCol)
    val out = df
      .withColumn("n_words", size(tokens(t)).cast("long"))
      .withColumn("n_sentences",
        greatest(lit(1L), expr(s"regexp_count($textCol, '[.!?]+')").cast("long")))
      .withColumn("n_syllables",
        expr(s"regexp_count(lower($textCol), '[aeiouy]+')").cast("long"))
    val wps = col("n_words").cast("double") / col("n_sentences")
    val spw = col("n_syllables").cast("double") / col("n_words")
    out.select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"))
      .withColumn("ease", when(col("n_words") > 0, round(
        lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)))
      .withColumn("grade", when(col("n_words") > 0, round(
        lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)))
      .withColumn("hard", when(col("ease").isNotNull, col("ease") < minEase))
  }

  /** Character-class transition entropy per document — the
    * tokenizer-free gibberish detector: each character maps to a class
    * (lower/upper/digit/space/punct), and the Shannon entropy of the
    * bigram-transition distribution separates prose (low, regular
    * l→l/l→s structure) from encoded blobs, minified code, and
    * key-mash (high, erratic class switching). ASCII-code range tests
    * only — no regex per row; per-char rows shuffle once by doc (the
    * winnowing layout). Returns (idCol, n_transitions, entropy). */
  def charClassEntropy(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val wDoc = Window.partitionBy("id").orderBy("pos")
    val cls = df.filter(length(col(textCol)) >= 2)
      .select(col(idCol).as("id"),
        posexplode(expr(
          s"transform(split($textCol, ''), c -> cast(ascii(c) as bigint))"))
          .as(Seq("pos", "code")))
      .withColumn("cl",
        when(col("code") >= 97 && col("code") <= 122, lit("l"))
          .when(col("code") >= 65 && col("code") <= 90, lit("u"))
          .when(col("code") >= 48 && col("code") <= 57, lit("d"))
          .when(col("code") === 32 || col("code") === 9 ||
            col("code") === 10, lit("s"))
          .otherwise(lit("p")))
      .withColumn("nx", lead(col("cl"), 1).over(wDoc))
      .filter(col("nx").isNotNull)
    cls.groupBy("id", "cl", "nx").agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(Window.partitionBy("id")))
      .withColumn("term", (col("n").cast("double") / col("tot")) *
        log(col("n").cast("double") / col("tot")))
      .groupBy("id").agg(max("tot").as("n_transitions"),
        (lit(0.0) - sum(col("term").cast("decimal(38,18)")).cast("double"))
          .as("h"))
      .select(col("id").as(idCol), col("n_transitions"),
        round(col("h"), 6).as("entropy"))
  }

  /** Unicode script-mix / homoglyph screen (the confusable-spoofing
    * check UTS #39 motivates, as a corpus gate): per document, letter
    * counts by script block — Latin, Cyrillic, Greek — plus digits, the
    * mixed-script flag (≥ 2 letter scripts present) and the confusable
    * risk flag (Latin mixed with Cyrillic/Greek — where 'а'/'ο'
    * homoglyph spam and adversarial SEO text live; an English corpus
    * document that trips it is near-certainly spoofed). Pure map-side
    * regexp_count per class — the scan-stage gate shape of the other
    * quality screens; both engines count the same codepoint ranges.
    * Returns (idCol, n_chars, n_latin, n_cyrillic, n_greek, n_digit,
    * mixed_script, confusable_risk). */
  def scriptMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def cnt(pattern: String): Column =
      expr(s"regexp_count($textCol, '$pattern')").cast("long")
    df.select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        cnt("[A-Za-z]").as("n_latin"),
        cnt("[\\\\u0400-\\\\u04FF]").as("n_cyrillic"),
        cnt("[\\\\u0370-\\\\u03FF]").as("n_greek"),
        cnt("[0-9]").as("n_digit"))
      .withColumn("mixed_script",
        (col("n_latin") > 0).cast("int") + (col("n_cyrillic") > 0).cast("int") +
          (col("n_greek") > 0).cast("int") >= 2)
      .withColumn("confusable_risk",
        col("n_latin") > 0 && (col("n_cyrillic") > 0 || col("n_greek") > 0))
  }

  /** Per-document boilerplate share by cross-document LINE frequency:
    * a line (12-token pseudo-line here, [[tokenLines]]) appearing in ≥
    * `minDf` distinct documents is boilerplate — headers, footers,
    * license blocks, template scaffolding — and each document reports
    * how much of it is made of such lines. The per-DOC verdict the
    * global line dedup doesn't give: a doc that is MOSTLY boilerplate
    * should drop entirely, not just lose its common lines. One distinct
    * + two aggregates, all keyed by line hash at scale. */
  def boilerplateLineShare(df: DataFrame, idCol: String, textCol: String,
                           lineTokens: Int = 12, minDf: Int = 3): DataFrame = {
    val lines = df
      .select(col(idCol).as("id"),
        explode(tokenLinesFromText(col(textCol), lineTokens)).as("line"))
      .distinct()
    val dfreq = lines.groupBy("line").agg(count(lit(1)).as("line_df"))
    lines.join(dfreq, Seq("line"))
      .groupBy("id").agg(count(lit(1)).as("n_lines"),
        sum(when(col("line_df") >= minDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_lines"), 6))
  }

  /** RAKE corpus keyword extraction (Rose et al. 2010): candidate phrases
    * are maximal runs of non-stopword tokens (punctuation becomes the
    * breaker token '#'), each word scores deg(w)/freq(w) over all phrase
    * occurrences — deg counts co-occurring phrase slots, so multi-word
    * domain phrases outrank bare frequent words — and a phrase scores the
    * sum of its word scores (decimal-accumulated: order-free, exact).
    * Returns the global top `topN` distinct phrases with occurrence
    * counts. Scale shape: one groupBy for phrases, one for word stats,
    * one broadcast-sized join back (vocabulary ≪ corpus), top-N via a
    * rank filter — no driver state, no quadratic step. */
  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
                   topN: Int): DataFrame = {
    val stopArr = Stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    val toks = df.select(col(idCol).cast("long").as("id"),
      posexplode(filter(split(
        regexp_replace(lower(col(textCol)), "[^a-z0-9 ]+", " # "),
        "\\s+"), t => t =!= "")).as(Seq("pos", "w")))
    val words = toks
      .filter(col("w") =!= "#" && !expr(s"array_contains($stopArr, w)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy("pos")))
      .withColumn("grp", col("pos") - col("rn"))
      .withColumn("plen", count(lit(1)).over(
        Window.partitionBy("id", "grp")))
    val wstats = words.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .withColumn("wscore", col("deg").cast("double") / col("freq"))
    val phrases = words.join(wstats.select("w", "wscore"), Seq("w"))
      .groupBy("id", "grp")
      .agg(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(pos, w))), s -> s.w)"))
          .as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("wscore").cast("decimal(38,18)")).cast("double").as("score"))
    phrases.groupBy("phrase")
      .agg(max("n_words").as("n_words"), count(lit(1)).as("n_occurrences"),
        max("score").as("score"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("phrase").asc)).cast("int"))
      .filter(col("rank") <= topN)
      .select(col("rank"), col("phrase"), col("n_words"),
        col("n_occurrences"), round(col("score"), 6).as("score"))
  }

  /** Centroid-based extractive summarization (the classic MEAD/centroid
    * method, Radev 2004): split each document into `lineTokens`-token
    * pseudo-sentences, embed each as a hashed-bigram bucket-count vector
    * (the q134 DSIR feature space), and keep the `topK` sentences whose
    * vectors are most cosine-similar to the document centroid — the
    * sentences that carry the document's dominant vocabulary.
    *
    * Replay-exactness: with centroid c = Σ_lines s / n, the n cancels in
    * cosine, so score = Σ_b cnt·sumcnt / (√Σcnt² · √Σsumcnt²) — integer
    * sums into two IEEE-exact sqrts and one divide, bit-replayable.
    * Shape at scale: grams ride the scan (map-side HOF hashing), then two
    * hash aggregates keyed by (doc, line, bucket) and (doc, bucket) and a
    * doc-partitioned rank window — nothing corpus-crossing, the whole
    * pipeline shards perfectly by document. Lines with < 2 tokens (no
    * bigram) drop out; ties break by line index. */
  def extractiveSummary(df: DataFrame, idCol: String, textCol: String,
                        lineTokens: Int = 12, buckets: Int = 64,
                        topK: Int = 2): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        posexplode(tokenLinesFromText(col(textCol), lineTokens))
          .as(Seq("line_idx", "line")))
    val grams = lines.select(col("id"), col("line_idx"),
        explode(call_function("graft_gram_polyhashes", col("line"), lit(2)))
          .as("gh"))
      .select(col("id"), col("line_idx"),
        pmod(Sketches.keyHash(col("gh")), lit(buckets.toLong)).as("b"))
    val s = grams.groupBy("id", "line_idx", "b").agg(count(lit(1)).as("cnt"))
    val c = s.groupBy("id", "b").agg(sum("cnt").as("sumcnt"))
    val dots = s.join(c, Seq("id", "b"))
      .groupBy("id", "line_idx")
      .agg(sum(col("cnt") * col("sumcnt")).as("dot"),
        sum(col("cnt") * col("cnt")).as("ss"),
        sum("cnt").as("n_grams"))
    val cc = c.groupBy("id").agg(sum(col("sumcnt") * col("sumcnt")).as("cc"))
    val w = Window.partitionBy("id")
      .orderBy(col("score").desc, col("line_idx").asc)
    dots.join(cc, Seq("id")).filter(col("ss") > 0 && col("cc") > 0)
      .withColumn("score", col("dot").cast("double") /
        (sqrt(col("ss").cast("double")) * sqrt(col("cc").cast("double"))))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topK)
      .join(lines, Seq("id", "line_idx"))
      .select(col("id").as(idCol), col("rank"), col("line_idx"),
        col("n_grams"), round(col("score"), 6).as("score"), col("line"))
  }

  /** Character-encoding QA — the mojibake/corruption gate a web-scale
    * crawl needs before tokenization (UTF-8 bytes decoded as Latin-1
    * leave unmistakable 'Ã'/'â€'/'Â' signatures; U+FFFD marks decoder
    * REPLACEMENT of genuinely invalid bytes). Per document:
    * `n_chars` (code points), `n_non_print` (outside printable ASCII
    * space..tilde, i.e. anything a pure-ASCII corpus shouldn't hold:
    * control chars AND all non-ASCII), `n_replacement` U+FFFD count,
    * `n_mojibake` occurrences of the four canonical double-encoding
    * signatures ('Ã', 'Â', 'â€', U+FFFD is counted separately), and the
    * verdict `is_suspect`. Each signature is a SINGLE code point
    * ('â' alone leads every 'â€x' smart-quote ruin), so every count is
    * a plain `length(s) − length(replace(s, sig, ''))` — pure string
    * ops with identical code-point semantics in both engines, no
    * division, no regex dialect except the one portable
    * printable-ASCII character class. Map-side only: the cost rides
    * the scan stage, no shuffle. */
  def encodingAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = col(textCol)
    def occurrences(sig: String): Column =
      (length(s) - length(replace(s, lit(sig), lit("")))).cast("long")
    df.select(col(idCol), length(s).cast("long").as("n_chars"),
        length(regexp_replace(s, "[ -~]", "")).cast("long")
          .as("n_non_print"),
        occurrences("�").as("n_replacement"),
        (occurrences("Ã") + occurrences("Â") +
          occurrences("â")).as("n_mojibake"))
      .withColumn("is_suspect",
        col("n_replacement") > 0 || col("n_mojibake") > 0)
  }
}
