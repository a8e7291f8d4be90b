package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: token
  * counting, quality scoring, language ID, fingerprinting.
  *
  * All are composed from Catalyst built-ins (no Scala UDFs) so they run
  * inside codegen, push down around scans, and are reproducible in the
  * DuckDB oracle with equivalent SQL.
  */
object TextFunctions {

  /** Whitespace token count (empty tokens from leading/trailing/repeated
    * whitespace excluded). */
  def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** Approximate BPE-ish subword count: words plus one extra token per 4
    * characters of word length beyond the first 4 — a cheap deterministic
    * stand-in for a real tokenizer (the container has none), with the right
    * asymptotics (≈ chars/4 for long words). */
  def approxSubwordCount(text: Column): Column =
    aggregate(
      filter(split(text, "\\s+"), t => t =!= ""),
      lit(0),
      (acc, t) => acc + lit(1) + floor((length(t) - 1) / 4).cast("int"))

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))).cast("double")
        / length(text))

  /** Fraction of characters that are digits. */
  def digitRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double")
        / length(text))

  private val enStopwords = Seq("the", "and", "of", "to", "in", "is", "that",
    "for", "with", "are", "was", "this", "it", "on", "be", "as", "by", "at")

  /** Fraction of whitespace tokens that are (lowercased) English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => t.isInCollection(enStopwords))).cast("double") / size(toks))
  }

  /** Mean whitespace-token length in characters. */
  def meanWordLength(text: Column): Column = {
    val toks = filter(split(text, "\\s+"), t => t =!= "")
    when(size(toks) === 0, 0.0).otherwise(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks))
  }

  /** Composite quality score in [0, 1]: rewards stopword presence and sane
    * word lengths, penalizes punctuation/digit noise and extreme shortness.
    * Deterministic, heuristic — the shape of C4/Gopher-style quality rules. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 20.0, lit(1.0))
    val noise = punctRatio(text) + digitRatio(text)
    val noiseScore = greatest(lit(0.0), lit(1.0) - noise * 2.0)
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    round((lenScore * 0.4 + noiseScore * 0.3 + stopScore * 0.3), 6)
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " is ", " of "),
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "fr" -> Seq(" le ", " les ", " est ", " une "),
    "es" -> Seq(" el ", " los ", " es ", " una "),
    "it" -> Seq(" il ", " che ", " per ", " una "))

  /** Marker-word language ID: counts hits of per-language function-word
    * markers in the padded lowercased text; highest count wins, ties broken
    * by the fixed language order above; no hits → "und" (undetermined).
    * Portable to plain SQL (the oracle replicates it with LIKE counts). */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def hits(markers: Seq[String]): Column =
      markers.map { m =>
        // number of occurrences of marker m (overlap-free count); literal
        // replace, not regexp_replace — the markers are plain strings and
        // the regex engine cost 20 compiled-pattern passes per row
        ((length(padded) - length(replace(padded, lit(m), lit(""))))
          / m.length).cast("int")
      }.reduce(_ + _)
    val scored = langMarkers.map { case (lang, m) => (lang, hits(m)) }
    val best = scored.map(_._2).reduce(greatest(_, _))
    scored.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Polynomial rolling-hash document fingerprint: left fold of
    * h = (h*31 + codepoint) mod 1e9+7 over the characters. Deterministic and
    * order-sensitive — equal texts get equal fingerprints. The modulus keeps
    * intermediate products under 2^35, so the identical fold is expressible
    * in engines with checked 64-bit arithmetic (the DuckDB oracle). */
  /** Slugify (reference P7, webscrape.py:105-110): lowercase, collapse
    * non-word runs to single dashes, strip edge dashes, cap at `maxLen`.
    * Pure regexp chain — portable to the SQL oracle. (The reference also
    * NFKD-normalizes; for non-ASCII input compose with [[nfkcNormalize]].) */
  def slugify(text: Column, maxLen: Int = 40): Column =
    substring(
      regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", "-"), "^-|-$", ""),
      1, maxLen)

  /** NFKC unicode normalization + whitespace collapse (reference P6,
    * webscrape.py:44-48). Needs java.text.Normalizer → small UDF; keep OUT
    * of perf-critical paths (chunk/dedup pipelines normalize at ingest
    * boundary once). */
  val nfkcNormalize: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf { (s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
        .replaceAll("\\s+", " ").trim
    }

  def fingerprint(textCol: String): Column =
    expr(s"aggregate(transform(sequence(1, length($textCol)), i -> cast(ascii(substring($textCol, i, 1)) as bigint)), " +
      s"0L, (acc, c) -> pmod(acc * 31 + c, 1000000007L))")
}
