package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.operators.{Chunker, Dedup, Similarity}

/** Property-based invariants (SURVEY.md §5 test plan): splitter coverage /
  * reconstruction, dedup idempotence, top-k ⊆ full-sort prefix, and
  * MMR(λ=1) ≡ cosine top-k. ScalaCheck drives the input generation; the
  * operators run on real Spark plans. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Every property runs from an explicit ScalaCheck seed so a failure is
    * reproducible: the seed rides in the assertion message, and setting
    * GRAFT_PROP_SEED replays the exact generation sequence (the r9
    * full-suite flake could not be chased because no seed was printed). */
  private def passes(p: Prop): Unit = {
    val seed: Long = sys.env.get("GRAFT_PROP_SEED").map(_.toLong)
      .getOrElse(scala.util.Random.nextLong())
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(30)
      .withInitialSeed(org.scalacheck.rng.Seed(seed))
    val res = SCTest.check(params, p)
    assert(res.passed,
      s"GRAFT_PROP_SEED=$seed to reproduce; status=${res.status}")
  }

  private val asciiText: Gen[String] =
    Gen.chooseNum(1, 400).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(8 -> Gen.alphaNumChar, 2 -> Gen.const(' ')))
        .map(_.mkString))

  test("splitter: windows cover the text, start indexes advance by step, " +
       "chunks reconstruct the text") {
    val sizeOverlap = for {
      size <- Gen.chooseNum(2, 64)
      overlap <- Gen.chooseNum(0, size - 1)
    } yield (size, overlap)
    passes(Prop.forAll(asciiText, sizeOverlap) { case (text, (size, overlap)) =>
      val step = size - overlap
      val chunks = Chunker.chunk(Seq(Tuple1(text)).toDF("text"), "text", size, overlap)
        .select("chunk_index", "start_index", "chunk")
        .as[(Int, Int, String)].collect().sortBy(_._1)
      val starts = chunks.map(_._2)
      val expectedStarts = 0.until(text.length, step)
      val reconstructed = chunks.map { case (_, s, c) => c.take(step) }.mkString
      starts.sameElements(expectedStarts) &&
        chunks.forall { case (_, s, c) => c == text.substring(s, math.min(s + size, text.length)) } &&
        reconstructed == text
    })
  }

  test("exact dedup: idempotent, keeps first occurrence, output has distinct texts") {
    val docs: Gen[List[(Long, String)]] = for {
      n <- Gen.chooseNum(1, 40)
      texts <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "ee", "ff", "longer text"))
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    passes(Prop.forAll(docs) { rows =>
      val df = rows.toDF("doc_id", "text")
      val once = Dedup.exactDedup(df, "text", "doc_id")
        .as[(Long, String)].collect().sortBy(_._1)
      val twice = Dedup.exactDedup(once.toSeq.toDF("doc_id", "text"), "text", "doc_id")
        .as[(Long, String)].collect().sortBy(_._1)
      val expected = rows.groupBy(_._2).map { case (_, g) => g.minBy(_._1) }.toSeq.sortBy(_._1)
      once.toSeq == expected && twice.toSeq == once.toSeq
    })
  }

  test("top-k is exactly the k-prefix of the full (distance, id) sort") {
    val corpus: Gen[List[(Long, List[Float])]] = for {
      n <- Gen.chooseNum(2, 30)
      vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-5, 5).map(_.toFloat)))
    } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    passes(Prop.forAll(corpus, Gen.chooseNum(1, 10)) { (rows, k) =>
      val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      val q = rows.head._2.map(_.toFloat).toSeq
      val top = Similarity.topK(df, "embedding", q, k, "COSINE", "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      val full = Similarity.topK(df, "embedding", q, rows.length, "COSINE", "vec_id")
        .select("vec_id").as[Long].collect().toSeq
      top == full.take(math.min(k, rows.length))
    })
  }

  test("truncated rerank: hits grow with the shortlist; full shortlist ≡ exact") {
    val corpus: Gen[List[(Long, List[Float])]] = for {
      n <- Gen.chooseNum(4, 24)
      vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-5, 5).map(_.toFloat)))
    } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    passes(Prop.forAll(corpus) { rows =>
      val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      val q = rows.head._2.toSeq
      val exact = Similarity.topK(df, "embedding", q, 3, "COSINE", "vec_id")
        .select("vec_id").as[Long].collect().toSet
      def hits(shortlist: Int): Int =
        Similarity.truncatedRerank(df, "embedding", "vec_id", q, 3, 2, shortlist)
          .select("vec_id").as[Long].collect().count(exact)
      // a larger shortlist is a candidate SUPERSET: hits can only grow,
      // and a corpus-wide shortlist recovers the exact top-k
      hits(3) <= hits(rows.length) && hits(rows.length) == math.min(3, exact.size)
    })
  }

  test("nn-descent: every node's best refined neighbor is at least as close as its best seed edge") {
    val corpus: Gen[List[(Long, List[Float])]] = for {
      n <- Gen.chooseNum(4, 16)
      vecs <- Gen.listOfN(n, Gen.listOfN(3, Gen.chooseNum(-4, 4).map(_.toFloat)))
    } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    passes(Prop.forAll(corpus) { rows =>
      val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      // seed: ring i → i+1
      val ring = rows.indices.dropRight(1)
        .map(i => (rows(i)._1, rows(i + 1)._1)).toDF("id", "nbr_id")
      val seed = ring
        .join(df.select(col("vec_id").as("id"), col("embedding").as("_l")), "id")
        .join(df.select(col("vec_id").as("nbr_id"), col("embedding").as("_r")), "nbr_id")
        .select(col("id"), col("nbr_id"),
          call_function("graft_cosine_distance", col("_l"), col("_r")).as("distance"))
      val seedBest = seed.groupBy("id").agg(min("distance").as("d"))
        .as[(Long, Double)].collect().toMap
      val refinedBest = Similarity.nnDescentRefine(seed, df, "embedding", "vec_id", 2)
        .groupBy("id").agg(min("distance").as("d"))
        .as[(Long, Double)].collect().toMap
      // the refined candidate set contains every seed edge, so the per-node
      // best distance never regresses (1e-12 for float/double re-score)
      seedBest.forall { case (id, d) => refinedBest(id) <= d + 1e-12 }
    })
  }

  test("asOfJoin matches the brute-force latest-at-or-before lookup") {
    import graft.operators.Joins
    val gen = for {
      nl <- Gen.chooseNum(1, 15)
      nr <- Gen.chooseNum(0, 15)
      lrows <- Gen.listOfN(nl, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 50L)))
      rrows <- Gen.listOfN(nr, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 50L)))
    } yield (lrows.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) },
             rrows.map { case (k, t) => (k, t, k * 1000.0 + t) })
    passes(Prop.forAll(gen) { case (lrows, rrows) =>
      val left = lrows.toDF("event_id", "user_id", "ts")
      // brute force needs a deterministic pick on (key, ts) ties: keep max value
      val rdedup = rrows.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toList
      val right = rdedup.toDF("user_id", "ts", "value")
      val got = Joins.asOfJoin(left, right, "user_id", "ts", Seq("value"))
        .select("event_id", "asof_value").as[(Long, Option[Double])]
        .collect().toMap
      val expect = lrows.map { case (id, k, t) =>
        id -> rdedup.filter(r => r._1 == k && r._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      }.toMap
      got == expect
    })
  }

  test("int8 quantization: reconstruction error bounded by scale/2") {
    import graft.functions.{VectorFunctions => VF}
    val vecs: Gen[List[Float]] =
      Gen.listOfN(8, Gen.chooseNum(-1000, 1000).map(_ / 100.0f))
    passes(Prop.forAll(vecs) { v =>
      val row = Seq(Tuple1(v)).toDF("embedding")
        .withColumn("scale", VF.quantScale(col("embedding")))
        .withColumn("q", VF.quantizeInt8(col("embedding"), col("scale")))
        .select(col("scale"),
          VF.quantError(col("embedding"), col("q"), col("scale")).as("err"),
          expr("array_max(transform(q, x -> abs(x)))").as("qmax"))
        .head()
      val (scale, err, qmax) = (row.getDouble(0), row.getDouble(1), row.getInt(2))
      err <= scale / 2 + 1e-9 && qmax <= 127
    })
  }

  test("MMR with λ=1 degenerates to cosine relevance order") {
    val corpus: Gen[List[(Long, List[Float])]] = for {
      n <- Gen.chooseNum(3, 20)
      vecs <- Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(1, 9).map(_.toFloat)))
    } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    passes(Prop.forAll(corpus) { rows =>
      val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      val q = rows.head._2.map(_.toFloat).toSeq
      val k = math.min(3, rows.length)
      val mmr = Similarity.mmr(df, "embedding", "vec_id", q, k, fetchK = rows.length,
        lambdaMult = 1.0).map(_._1)
      // expected order is modeled with mmr's OWN relevance arithmetic
      // (dot / sqrt(na*nb), sequential double fold, lowest id on ties) —
      // comparing against topK's Catalyst expression (sqrt(na)*sqrt(nb))
      // differs in the last ulp on near-collinear inputs and flaked the
      // r9 full-suite run; the λ=1 degeneracy property is about the
      // greedy loop ignoring the diversity term, not about two cosine
      // codepaths rounding identically
      val qv = q.map(_.toDouble).toArray
      def cos(a: Array[Double]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { dot += a(i) * qv(i); na += a(i) * a(i); nb += qv(i) * qv(i); i += 1 }
        if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
      }
      val expected = rows
        .map { case (id, v) => (id, cos(v.map(_.toDouble).toArray)) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
      mmr == expected
    })
  }

  test("bm25 scores are invariant under row order / partitioning") {
    import graft.operators.Retrieval
    val docsGen = Gen.chooseNum(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(8, Gen.oneOf("spark", "join", "scan", "agg", "pad"))
        .map(_.mkString(" "))))
    passes(Prop.forAll(docsGen) { texts =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def run(df: org.apache.spark.sql.DataFrame) =
        Retrieval.bm25(df, "doc_id", "text", Seq("spark", "join"), 100)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val a = run(rows.toDF("doc_id", "text"))
      val b = run(scala.util.Random.shuffle(rows).toDF("doc_id", "text").repartition(5))
      a == b // decimal-accumulated scoring is a pure function of the corpus
    })
  }

  test("histogram quantile estimates are monotone in q and bounded by [lo, hi]") {
    import graft.operators.Sketches
    val valsGen = Gen.chooseNum(5, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0.0, 100.0)))
    passes(Prop.forAll(valsGen) { vs =>
      val hist = Sketches.histogramCounts(vs.map(Tuple1(_)).toDF("v"), "v", 0.0, 100.0, 16)
      val qs = Sketches.histogramQuantiles(hist, 0.0, 100.0, 16, Seq(0.1, 0.5, 0.9))
        .as[(Double, Double)].collect().sortBy(_._1).map(_._2)
      qs.length == 3 && qs.sliding(2).forall { case Array(x, y) => x <= y; case _ => true } &&
        qs.forall(e => e >= 0.0 && e <= 100.0)
    })
  }

  test("AMS sketch: linear in concatenation; F2 >= within-row unbiased floor 0") {
    import graft.operators.Sketches
    val keysGen = Gen.chooseNum(5, 80).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 50L)))
    passes(Prop.forAll(keysGen, keysGen) { (a, b) =>
      val da = a.map(Tuple1(_)).toDF("k"); val db = b.map(Tuple1(_)).toDF("k")
      val merged = Sketches.amsMerge(
          Sketches.amsCounters(da, "k", 3, 64)
            .union(Sketches.amsCounters(db, "k", 3, 64)))
        .as[(Int, Long, Long)].collect().toSet
      val direct = Sketches.amsCounters(da.union(db), "k", 3, 64)
        .as[(Int, Long, Long)].collect().toSet
      merged == direct
    })
  }

  test("hampelGate: outlier count and winsorized mean invariant under row order") {
    import graft.operators.Stats
    val valsGen = Gen.chooseNum(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    passes(Prop.forAll(valsGen) { vs =>
      val df = vs.map(v => ("g", v)).toDF("g", "v")
      val shuffled = vs.reverse.map(v => ("g", v)).toDF("g", "v")
        .repartition(5)
      def row(d: org.apache.spark.sql.DataFrame) = {
        val r = Stats.hampelGate(d, "g", "v", 3).head()
        (r.getAs[Long]("n"), r.getAs[Double]("median"), r.getAs[Double]("mad"),
          r.getAs[Long]("n_outliers"), r.getAs[Double]("win_mean"))
      }
      row(df) == row(shuffled)
    })
  }

  test("chao1 >= observed types; coverage in [0, 1]; growth curve monotone") {
    import graft.operators.NgramLm
    val docsGen = Gen.chooseNum(2, 20).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 8).flatMap(m =>
        Gen.listOfN(m, Gen.oneOf("ax", "by", "cz", "dw", "ev", "fu", "gt"))
          .map(_.mkString(" ")))))
    passes(Prop.forAll(docsGen) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val r = NgramLm.chao1Richness(df, "text").head()
      val growth = NgramLm.vocabularyGrowth(df, "doc_id", "text",
          Seq(1L, 5L, docs.length.toLong))
        .orderBy("k").as[(Long, Long)].collect().map(_._2)
      r.getAs[Double]("chao1") >= r.getAs[Long]("n_types").toDouble &&
        r.getAs[Double]("coverage") >= 0.0 && r.getAs[Double]("coverage") <= 1.0 &&
        growth.sliding(2).forall { case Array(x, y) => x <= y; case _ => true } &&
        growth.last == r.getAs[Long]("n_types")
    })
  }
}
