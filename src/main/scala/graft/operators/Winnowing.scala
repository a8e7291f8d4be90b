package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003) — the MOSS local fingerprinting algorithm: hash every
  * character k-gram, then keep the MINIMUM hash of each window of `w`
  * consecutive k-gram hashes. The selected set is position-robust (any
  * shared substring of length ≥ w + k − 1 contributes at least one
  * common fingerprint) at an expected density of 2/(w+1) — the
  * guarantee exact content dedup ([[graft.functions.TextFunctions
  * .fingerprint]]) lacks and shingle-set MinHash ([[Dedup
  * .minhashLshPairs]]) only approximates. This is the copied-PASSAGE
  * detector: two documents sharing a long verbatim span light up here
  * even when their overall Jaccard similarity is tiny.
  *
  * The reference dedups on whole-content equality only
  * (reference: src/server/app/embed/utils.py:147-151); winnowing is the
  * corpus-scale generalization a 100 TB curation run needs.
  *
  * Scale shape: fingerprinting is a pure per-row map (array HOFs, no
  * UDF, no shuffle) emitting ~2·len/(w+1) longs per document; matching
  * is one groupBy to apply the stop-fingerprint cap and one equi-join
  * on the fingerprint value — the identical bounded-bucket discipline
  * as the LSH band join. All hashes are mod-p polynomial over ASCII
  * code points so a SQL oracle can replay them bit-for-bit.
  */
object Winnowing {

  /** Fingerprints appearing in more documents than this are dropped
    * before pairing — boilerplate k-grams ("the same as the", license
    * headers) otherwise create O(corpus²) join fan-out. Same role as
    * [[Dedup.DefaultMaxBucketSize]] for LSH band buckets. */
  val DefaultMaxDocsPerFp = 50

  private val P = 1000000007L

  /** Distinct winnowed fingerprints per document: (idCol, fp). Documents
    * shorter than k + w − 1 characters have no complete window and emit
    * no rows.
    *
    * Layout choice (r11): the native
    * [[graft.plans.HashExpressions.WinnowFpsExpr]] — one tight per-row
    * loop (rolling k-gram hashes + monotone-deque sliding min), so
    * fingerprinting truly never leaves the scan stage. The previous
    * per-character explode + k-`lead` window form computed the same
    * thing but shuffled and sorted |corpus|·len rows per query
    * (measured r11: q165 3.4 -> 1.3 s at sf0.1); the earlier
    * chained transform/slice HOF form re-evaluated the hash array
    * inside every interpreted window lambda. The k-gram hash applies
    * mod once to the 8-term polynomial (Σ < 2⁴⁵ on ASCII, < 2⁶³ at any
    * code point for k ≤ 9), exactly the oracle's fold. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 16): DataFrame = {
    df.filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol),
        explode(call_function("graft_winnow_fps",
          col(textCol), lit(k), lit(w), lit(P))).as("fp"))
      .distinct()
  }

  /** Document pairs ranked by shared winnowed fingerprints:
    * (doc_a, doc_b, n_shared) with doc_a < doc_b, n_shared ≥ minShared.
    * Fingerprints shared by more than `maxDocsPerFp` documents are
    * dropped first (stop-fingerprint cap — mirrored in the oracle). */
  def sharedFingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 8, w: Int = 16, minShared: Int = 4,
                             maxDocsPerFp: Int = DefaultMaxDocsPerFp): DataFrame = {
    val fps = fingerprints(df, idCol, textCol, k, w)
    val bounded = fps
      .withColumn("_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("_n").between(2, maxDocsPerFp))
      .select(col(idCol).as("id"), col("fp"))
    bounded.as("x").join(bounded.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
