package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own helpers: statistics, the result digest and the
  * seeded input generators. No Spark session needed. */
class CoreSpec extends AnyFunSuite {

  test("percentile interpolates linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    // p90 at n = 4: position 0.9 * 3 = 2.7, between 3 and 4
    assert(math.abs(Stats.percentile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(5.0)) == 5.0)
    // n = 11: p90 lands exactly on the 10th value (position 9)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 0.9) == 10.0)
  }

  test("geomean of hand-computed samples") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(1.0, 10.0, 100.0)) - 10.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 0.5, 0.5)) - 0.5) < 1e-12)
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
    intercept[IllegalArgumentException](Stats.geomean(Nil))
  }

  test("digest does not depend on row order, but sees every row") {
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.5), Row(3L, null, -0.0))
      .map(AnalyticsMix.canonical)
    val d = Stats.digest(rows)
    assert(Stats.digest(rows.reverse) == d)
    assert(Stats.digest(Seq(rows(1), rows(2), rows(0))) == d)
    assert(Stats.digest(rows.take(2)) != d)
    assert(Stats.digest(rows :+ rows.head) != d)
    assert(Stats.digest(rows.updated(0, AnalyticsMix.canonical(Row(1L, "a", 0.25)))) != d)
  }

  test("canonical values are exact and identity-free") {
    assert(AnalyticsMix.canonical(Row(Array[Byte](1, 2))) ==
      AnalyticsMix.canonical(Row(Array[Byte](1, 2))))
    assert(AnalyticsMix.canonical(Map("b" -> 1, "a" -> 2)) ==
      AnalyticsMix.canonical(Map("a" -> 2, "b" -> 1)))
    assert(AnalyticsMix.canonical(Row(0.1 + 0.2)) != AnalyticsMix.canonical(Row(0.3)))
  }

  test("same seed gives byte-identical inputs, another seed different ones") {
    def render(seed: Long): String =
      Gen.requests(seed, 60).mkString("\n") + "\n" +
        Gen.ingestPlan(seed, 2, 30, 2, 0.1, 0.05, 0.1).toString + "\n" +
        Gen.analyticsSample(seed, (0 until 40).map(i =>
          Gen.QueryInfo(f"q$i%03d_x", s"F${i % 5}", i % 4)), Seq("q001_x"), 3).mkString(",")
    val a = render(7).getBytes("UTF-8")
    assert(java.util.Arrays.equals(a, render(7).getBytes("UTF-8")))
    assert(!java.util.Arrays.equals(a, render(8).getBytes("UTF-8")))
  }

  test("request mix is equal shares, fixed across seeds") {
    def mix(seed: Long, n: Int) =
      Gen.requests(seed, n).groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(mix(1, 40) == mix(2, 40))
    assert(mix(1, 40) == Map("topk" -> 8, "ivf" -> 8, "rag" -> 8, "bm25" -> 8, "hybrid" -> 8))
    assert(mix(4, 32) == Map("topk" -> 7, "ivf" -> 7, "rag" -> 6, "bm25" -> 6, "hybrid" -> 6))
    assert(Gen.requests(3, 40).forall(r => r.terms.size >= 2 && r.terms.size <= 5 &&
      r.terms.distinct.size == r.terms.size))
  }

  test("ingest edits keep each text's length; shares are of the live files") {
    val p = Gen.ingestPlan(5, 2, 50, 3, 0.1, 0.04, 0.06)
    val byFile = scala.collection.mutable.Map[String, String]()
    p.batches.flatten.foreach(d => byFile(d.file) = d.text)
    p.rounds.foreach { r =>
      assert(r.modified.size == math.round(0.1 * byFile.size))
      r.modified.foreach(d => assert(d.text.length == byFile(d.file).length))
      r.modified.foreach(d => byFile(d.file) = d.text)
      r.deleted.foreach(byFile.remove)
      r.added.foreach(d => byFile(d.file) = d.text)
    }
    val vers = p.batches.flatten.map(_.verId) ++ p.rounds.flatMap(r => r.added ++ r.modified).map(_.verId)
    assert(vers.distinct.size == vers.size)
  }

  test("chunk windows and in-batch dedup match the engine's rules") {
    assert(Gen.chunks("abcdefghij", 4, 2) ==
      Seq(0 -> "abcd", 1 -> "cdef", 2 -> "efgh", 3 -> "ghij", 4 -> "ij"))
    assert(Gen.chunks("", 4, 2).isEmpty)
    assert(Gen.dedup(Seq("b_0" -> "x", "a_1" -> "x", "c_0" -> "y")) ==
      Seq("a_1" -> "x", "c_0" -> "y"))
  }

  test("analytics sample holds every target and stratifies the rest") {
    val pop = (0 until 80).map(i => Gen.QueryInfo(f"q$i%03d_x", s"F${i % 7}", i % 4))
    val s = Gen.analyticsSample(11, pop, Seq("q000_x", "q001_x"), 3)
    assert(s.size == 2 + 4 * 3)
    assert(Seq("q000_x", "q001_x").forall(s.contains))
    assert(s.distinct.size == s.size)
    val bands = s.filterNot(Set("q000_x", "q001_x")).map(n => pop.find(_.name == n).get.band)
    assert(bands.groupBy(identity).values.forall(_.size == 3))
  }

  test("ranking comparison tolerates only ties at the cut") {
    val want = Seq("a" -> 0.9, "b" -> 0.8, "c" -> 0.7)
    assert(Workloads.sameRanking(want, want).isEmpty)
    assert(Workloads.sameRanking(Seq("a" -> 0.9, "b" -> 0.8, "d" -> 0.7), want).isEmpty)
    assert(Workloads.sameRanking(Seq("b" -> 0.9, "a" -> 0.8, "c" -> 0.7), want).nonEmpty)
    assert(Workloads.sameRanking(want.take(2), want).nonEmpty)
    assert(Workloads.sameRanking(Seq("a" -> 0.9, "b" -> 0.8, "c" -> 0.6), want).nonEmpty)
  }
}
