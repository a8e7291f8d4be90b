package graft.perfbench

/** Summary statistics over operation latencies, and the order-insensitive
  * result digest the analytics checks compare against. */
object Stats {

  /** Percentile `p` in [0, 1] with linear interpolation between the two
    * nearest ranks (numpy's default): position p·(n−1) in the sorted
    * sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile rank out of range: $p")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Geometric mean; every sample must be positive. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "geomean of an empty sample")
    require(xs.forall(_ > 0.0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** 64-bit hash of a string from two independent 32-bit MurmurHash3
    * passes. */
  def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  /** Order-insensitive digest of a multiset of canonical rows: the row
    * count and the wrapping sum of the rows' 64-bit hashes. Addition
    * commutes, so any row order gives the same digest, while a changed,
    * missing or duplicated row changes it. */
  def digest(rows: Iterable[String]): String = {
    var n = 0L; var sum = 0L
    rows.foreach { r => n += 1; sum += hash64(r) }
    f"$n:$sum%016x"
  }
}
