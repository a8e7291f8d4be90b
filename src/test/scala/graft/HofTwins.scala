package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The declarative higher-order-function forms of the native hash
  * expressions in [[graft.plans.HashExpressions]]: the engine runs the
  * native forms, and HashExpressionsSpec holds them equal to these, the
  * plain-SQL arithmetic the DuckDB oracles replay. */
object HofTwins {

  /** Base shingle hashes — compute ONCE per row (materialize as a column)
    * before fanning out into the per-permutation minima: Catalyst does not
    * CSE across interpreted higher-order expressions, so inlining this into
    * each of the `numHashes` minima would re-hash every shingle 64×.
    * Distinct AFTER hashing (dedup by hash), matching the native expr. */
  def shingleHashes(textCol: String, shingleN: Int): Column =
    expr(s"array_distinct(transform(${rawShingleSql(textCol, shingleN)}, s -> ${polyhashSql("s", graft.plans.HashExpressions.PolyBase1)}))")

  /** Rolling polynomial over the character codes of `s`:
    * fold((acc * base + ascii(char)) mod 2^31-1). SQL-expressible on both
    * Spark and DuckDB — the parity anchor for the whole dedup family. */
  private def polyhashSql(s: String, base: Long): String =
    s"aggregate(sequence(1, length($s)), 0L, (acc, i) -> (acc * ${base}L + ascii(substring($s, i, 1))) % 2147483647L)"

  /** MinHash signature over a pre-computed shingle-hash array column:
    * min over shingles of h_i(x) = (a_i * x + b_i) mod p per permutation.
    * p = 2^31-1 keeps (a*h + b) under 2^62 — safe in ANSI 64-bit arithmetic.
    * Deterministic (seeded a_i, b_i). */
  def minhashFromHashes(hashCol: String, numHashes: Int): Column = {
    val p = 2147483647L
    val (as, bs) = graft.plans.HashExpressions.minhashCoeffs(numHashes)
    val mins = as.zip(bs).map { case (a, b) =>
      s"array_min(transform($hashCol, h -> (h * ${a}L + ${b}L) % ${p}L))"
    }
    expr(s"array(${mins.mkString(",")})")
  }

  /** MinHash signature: for each of `numHashes` permutations
    * h_i(x) = (a_i * polyhash(x) + b_i) mod p, take the min over shingles.
    * One pass over the shingle array per hash; all map-side.
    * Deterministic (seeded a_i, b_i).
    *
    * The base hash is a rolling polynomial over character codes
    * (Rabin-Karp, base 1000003 mod 2^31-1) rather than xxhash64: same LSH
    * behavior, but recomputable in plain SQL — the DuckDB oracle replays
    * the identical pipeline, turning the near-dup detector from a
    * rows-only check into an exact-match one. */
  def minhashSignature(textCol: String, shingleN: Int, numHashes: Int): Column =
    minhashFromHashes(
      s"array_distinct(transform(${rawShingleSql(textCol, shingleN)}, s -> ${polyhashSql("s", graft.plans.HashExpressions.PolyBase1)}))",
      numHashes)

  private def rawShingleSql(textCol: String, n: Int): String =
    s"case when length($textCol) < $n then array($textCol) else " +
      s"transform(sequence(0, length($textCol) - $n), i -> substring($textCol, i + 1, $n)) end"

  /** SimHash over whitespace tokens: per-bit majority vote of 62-bit
    * two-polynomial token hashes (h1 * 2^31 + h2 — SQL-expressible, so the
    * DuckDB oracle replays it; bits 62-63 stay zero). One `aggregate` pass
    * per document with a 64-wide counter array — map-side only, no shuffle. */
  def simhash(textCol: String): Column = {
    val tokens = s"filter(split($textCol, '\\\\s+'), t -> t != '')"
    val b1 = graft.plans.HashExpressions.PolyBase1
    val b2 = graft.plans.HashExpressions.PolyBase2
    val tokenHash =
      s"${polyhashSql("t", b1)} * 2147483648L + ${polyhashSql("t", b2)}"
    // bit ops (shiftright/&/shiftleft), not pow(): exact under ANSI, and bit
    // 63 maps onto the sign bit of the bigint without overflow
    val votes =
      s"""aggregate(
         |  transform($tokens, t -> $tokenHash),
         |  array_repeat(0, 64),
         |  (acc, h) -> zip_with(acc, transform(sequence(0, 63), j ->
         |      case when (shiftright(h, j) & 1) = 1 then 1 else -1 end),
         |    (a, v) -> a + v))""".stripMargin
    expr(
      s"""aggregate(
         |  zip_with($votes, sequence(0, 63), (v, j) ->
         |      case when v > 0 then shiftleft(1L, j) else 0L end),
         |  0L, (acc, x) -> acc + x)""".stripMargin)
  }
}
