package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.operators.{Retrieval, Similarity, TextQuality}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("inverted index: postings sorted by doc id, df/cf exact") {
    val df = Seq((3L, "b a b"), (1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    val idx = Retrieval.invertedIndex(df, "doc_id", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(idx.keySet == Set("a", "b"))
    def postings(r: Row): Seq[(Long, Long)] =
      r.getSeq[Row](r.fieldIndex("postings")).toSeq
        .map(p => (p.getLong(0), p.getLong(1)))
    val a = idx("a")
    assert(a.getAs[Long]("df") == 3L && a.getAs[Long]("cf") == 3L)
    assert(postings(a).map(_._1) == Seq(1L, 2L, 3L))
    val b = idx("b")
    assert(b.getAs[Long]("df") == 2L && b.getAs[Long]("cf") == 3L)
    // (id, tf) pairs, sorted by id; doc 3 has tf 2
    assert(postings(b) == Seq((1L, 1L), (3L, 2L)))
  }

  test("inverted index: maxDf drops stopword-grade terms") {
    val df = Seq((1L, "the x"), (2L, "the y"), (3L, "the z")).toDF("doc_id", "text")
    val terms = Retrieval.invertedIndex(df, "doc_id", "text", maxDf = 2)
      .select("term").as[String].collect().toSet
    assert(terms == Set("x", "y", "z")) // 'the' (df=3) dropped
  }

  test("bm25: tf monotone, rarer term outweighs common at equal tf") {
    // docs of equal length; 'rare' in one doc, 'common' in all
    val df = Seq(
      (1L, "rare common pad1 pad2"), (2L, "common pad3 pad4 pad5"),
      (3L, "common pad6 pad7 pad8")).toDF("doc_id", "text")
    val scores = Retrieval.bm25(df, "doc_id", "text", Seq("rare", "common"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1 matches both terms and holds the only 'rare' hit → top score
    assert(scores(1L) > scores(2L))
    assert(scores(2L) == scores(3L)) // symmetric docs tie exactly
    val n = Retrieval.bm25(df, "doc_id", "text", Seq("rare", "common"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(n(1L) == 2L && n(2L) == 1L)
  }

  test("bm25: length normalization favors the shorter doc at equal tf") {
    val df = Seq(
      (1L, "term a b"), (2L, "term a b c d e f g h")).toDF("doc_id", "text")
    val s = Retrieval.bm25(df, "doc_id", "text", Seq("term"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) > s(2L))
  }

  test("index-served BM25 equals the scan-path scores exactly") {
    val df = Seq(
      (1L, "apple banana apple cherry"), (2L, "banana cherry date"),
      (3L, "apple fig grape here pad"), (4L, "cherry cherry cherry pad"))
      .toDF("doc_id", "text")
    val terms = Seq("apple", "cherry")
    val scan = Retrieval.bm25(df, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toFile
    val path = s"${dir.getAbsolutePath}/idx"
    graft.store.IndexStore.write(
      Retrieval.invertedIndex(df, "doc_id", "text"), path, nBuckets = 4)
    val dl = df.select(col("doc_id").cast("long").as("id"),
      size(Retrieval.analyze(col("text"))).cast("long").as("dl"))
    val totals = Retrieval.CorpusTotals.of(dl)
    def served() = Retrieval.bm25FromIndex(spark, path, 4, dl, totals, terms, 10)
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // one plan: no bucket collect, checkpoint or pre-count while building
    val (frame, jobs) = withJobCount(served())
    assert(jobs == 0L, s"building the frame ran $jobs jobs")
    assert(rows(frame) == scan) // same arithmetic, same order, bit-identical
    // no broadcast allowed: the planner must pick a shuffled join, as for
    // a stopword-grade term over a 100 TB corpus, with bit-identical output
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try assert(rows(served()) == scan)
    finally prev.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("corpus totals: one aggregate, avgdl exactly as the scan path's") {
    val dl = Seq((1L, 3L), (2L, 4L), (3L, 4L)).toDF("id", "dl")
    val t = Retrieval.CorpusTotals.of(dl)
    assert(t == Retrieval.CorpusTotals(3L, 11L))
    val stats = Retrieval.docLengthStats(dl).head()
    assert(stats.getLong(0) == t.nDocs && stats.getDouble(1) == t.avgdl)
  }

  test("knn graph: neighbors stay within the IVF cell, ranks deterministic") {
    // two well-separated clusters → cells never mix
    val rows = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.8f, 0.05f)),
      (10L, Array(0.0f, 1.0f)), (11L, Array(0.1f, 0.9f)), (12L, Array(0.05f, 0.8f)))
    val e = rows.toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0f, 0.0f)), (1, Array(0.0f, 1.0f)))
      .toDF("cid", "cv")
    val assigned = Similarity.assignNearestCentroid(e, "embedding", "vec_id",
      cents, "cid", "cv")
    val g = Similarity.knnGraph(assigned, "embedding", "vec_id", 2).collect()
    val byId = g.groupBy(_.getLong(0))
    assert(byId.keySet == rows.map(_._1).toSet)
    // cluster membership: neighbors of 0/1/2 are within {0,1,2}
    byId.foreach { case (id, nbrs) =>
      val cell = if (id < 10) Set(0L, 1L, 2L) else Set(10L, 11L, 12L)
      assert(nbrs.map(_.getAs[Long]("nbr_id")).toSet.subsetOf(cell - id))
      assert(nbrs.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2))
    }
  }

  test("nn-descent: neighbor-of-neighbor round recovers a 2-hop true neighbor") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding")
    // seed chain 0→1→2→3: 0's TRUE nearest (2) is two hops away — only the
    // neighbor-of-neighbor expansion can surface it as a candidate
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("id", "nbr_id")
    val seed = ring
      .join(e.select(col("vec_id").as("id"), col("embedding").as("_l")), "id")
      .join(e.select(col("vec_id").as("nbr_id"), col("embedding").as("_r")), "nbr_id")
      .select(col("id"), col("nbr_id"),
        call_function("graft_cosine_distance", col("_l"), col("_r")).as("distance"))
    val refined = Similarity.nnDescentRefine(seed, e, "embedding", "vec_id", 1)
    val top = refined.filter(col("rank") === 1)
      .select("id", "nbr_id").as[(Long, Long)].collect().toMap
    assert(top(0L) == 2L) // displaced the seed's orthogonal neighbor 1
    assert(top(2L) == 0L) // reverse+expansion found 0 from 2's side too
  }

  test("c4 line filter: word-count, blocklist, and keep-first dedup rules") {
    val df = Seq(
      // line 1 ok; line 2 = dup of 1 (dropped); line 3 blocklisted;
      // line 4 too short
      (1L, Seq("alpha beta gamma delta epsilon", "alpha beta gamma delta epsilon",
        "one two slow four five", "tiny line"))).toDF("doc_id", "lines")
    val r = TextQuality.c4LineFilter(df, "lines", minWords = 5,
      blocklist = Seq("slow"), minLines = 2).head()
    assert(r.getAs[Int]("n_lines") == 4)
    assert(r.getAs[Int]("n_kept") == 1)
    assert(!r.getAs[Boolean]("kept"))
    assert(r.getAs[String]("kept_text") == "alpha beta gamma delta epsilon")
  }

  test("token lines: fixed-width windows cover all tokens, last line short") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
      .withColumn("_toks", TextQuality.tokens(col("text")))
      .withColumn("lines", TextQuality.tokenLines("_toks", 2))
    val lines = df.select("lines").as[Seq[String]].head()
    assert(lines == Seq("a b", "c d", "e"))
  }

  test("classifier score: margin is the mean of per-feature weights") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r = TextQuality.classifierScore(df, "doc_id", "text").head()
    assert(r.getAs[Int]("n_feats") == 2) // bigrams: "a b", "b c"
    val raw = r.getAs[Long]("raw_margin")
    assert(raw >= -1000L && raw <= 1000L)
    assert(r.getAs[Double]("margin") == raw.toDouble / 2000.0)
    assert(r.getAs[Boolean]("label") == (raw > 0))
  }

  test("classifier score: 0- and 1-token docs still get a verdict row") {
    // a quality gate must emit SOMETHING for every input row — q117
    // filters on `label`, so a vanished row would silently pass the gate
    val df = Seq((1L, ""), (2L, "solo"), (3L, "a b")).toDF("doc_id", "text")
    val rows = TextQuality.classifierScore(df, "doc_id", "text")
      .select("doc_id", "n_feats", "raw_margin", "margin", "label")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    for (id <- Seq(1L, 2L)) {
      assert(rows(id).getAs[Int]("n_feats") == 0)
      assert(rows(id).getAs[Long]("raw_margin") == 0L)
      assert(rows(id).getAs[Double]("margin") == 0.0)
      assert(!rows(id).getAs[Boolean]("label"))
    }
    assert(rows(3L).getAs[Int]("n_feats") == 1)
  }

  test("sparse cosine join: clones score 1.0, disjoint docs never pair, df caps prune") {
    import org.apache.spark.sql.functions._
    // doc 1 ≡ doc 2 (clones over terms a,b); docs 3/5/6 pairwise share ONE
    // of their two kept terms (c,g / c,h / g,h); doc 4's only term appears
    // once → minDf prunes it out of every vector
    val toks = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "c"), (3L, "g"), (4L, "e"),
      (5L, "c"), (5L, "h"), (6L, "g"), (6L, "h")
    ).toDF("id", "term")
    val out = Retrieval.sparseCosineJoin(toks, "id", "term",
      tau = 0.0, minDf = 2, maxDf = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(math.abs(out((1L, 2L)) - 1.0) < 1e-12) // identical sparse vectors
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L))) // no shared term
    assert(out.keySet.forall { case (a, b) => a < b })
    // docs 3 and 5 share c of their two equal-weight terms: cosine = 1/2
    assert(math.abs(out((3L, 5L)) - 0.5) < 1e-12)
    // a stopword-grade term is pruned by maxDf: with maxDf=1 nothing pairs
    val pruned = Retrieval.sparseCosineJoin(toks, "id", "term",
      tau = 0.0, minDf = 2, maxDf = 1)
    assert(pruned.count() === 0L)
  }

  test("phraseMatch: consecutive-only, counts overlaps, 1-based positions") {
    val docs = Seq(
      (1L, "a b c a b"),   // "a b" at 1 and 4
      (2L, "b a c"),       // reversed — no match
      (3L, "a x b"),       // gap — no match
      (4L, "a"),           // shorter than the phrase
      (5L, "A B")          // analyzer lowercases
    ).toDF("doc_id", "text")
    val out = Retrieval.phraseMatch(docs, "doc_id", "text", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == Map(1L -> ((2L, 1)), 5L -> ((1L, 1))))
  }

  test("minSpanProximity: hand-checked spans; docs missing a term drop") {
    val docs = Seq(
      (1L, "x p q x r"),     // p..r span 4 (pos 2..5); q..r also in it
      (2L, "p x x q r p"),   // tightest cover: q(4) r(5) p(6) → 3
      (3L, "p q p q")        // r never appears → excluded
    ).toDF("doc_id", "text")
    val out = Retrieval.minSpanProximity(docs, "doc_id", "text",
        Seq("p", "q", "r")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 4, 2L -> 3))
  }

  test("bm25Fielded: a title hit outranks the same hit in the body") {
    // same weighted dl (2·1 + 2 = 4); doc 1 has the query term in the
    // boosted field → wtf 2 vs 1 → strictly higher score
    val docs = Seq((1L, "p", "x y"), (2L, "x", "p y"))
      .toDF("doc_id", "title", "body")
    val out = Retrieval.bm25Fielded(docs, "doc_id",
        Seq("title" -> 2, "body" -> 1), Seq("p"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out(0)._2 > out(1)._2 && out(1)._2 > 0.0)
  }

  test("passageAggregate: best-passage dominance with decayed extras") {
    val chunks = Seq(
      (1L, "1_0", "p p p x"),  // score 3 (best)
      (1L, "1_1", "p x x x"),  // score 1
      (2L, "2_0", "p p x x"),  // score 2
      (3L, "3_0", "x x x x")   // score 0 → dropped
    ).toDF("doc_id", "chunk_id", "chunk")
    val out = Retrieval.passageAggregate(chunks, "doc_id", "chunk_id",
        "chunk", Seq("p"), decay = 0.2, k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getDouble(5)))).toMap
    // doc 1: best 3, total 4 → 3 + 0.2·1 = 3.2, best chunk 1_0
    assert(out(1L) == ((2L, 3L, 4L, "1_0", 3.2)))
    assert(out(2L) == ((1L, 2L, 2L, "2_0", 2.0)))
    assert(!out.contains(3L))
  }

  test("bestSnippet: densest window wins, ties go to the earliest start") {
    val docs = Seq(
      // q(4) r(5) p(6) pack 3 distinct terms; the window at p(1) holds 1
      (1L, "p x x q r p x"),
      // p(1) q(2) both in the window from 1 (2 terms); r is far right
      (2L, "p q x x x x x x x x r")
    ).toDF("doc_id", "text")
    val out = Retrieval.bestSnippet(docs, "doc_id", "text",
        Seq("p", "q", "r"), width = 3).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((4, 3L, "q r p")))
    assert(out(2L) == ((1, 2L, "p q x")))
  }

  test("queryLikelihood: tf-monotone, length-penalized, exact value") {
    val df = Seq(
      (1L, "p p x x"), // tf=2, dl=4
      (2L, "p x x x"), // tf=1, dl=4
      (3L, "p x x x x x x x"), // tf=1, dl=8 — longer, same match
      (4L, "x x x x")).toDF("doc_id", "text")
    val out = Retrieval.queryLikelihood(df, "doc_id", "text", Seq("p"),
        10, mu = 10.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val scores = out.map(t => t._1 -> t._2).toMap
    // only matching docs are ranked
    assert(scores.keySet == Set(1L, 2L, 3L))
    // more occurrences beat fewer at equal length; at equal tf the
    // longer doc pays the ln(mu/(dl+mu)) length penalty
    assert(scores(1L) > scores(2L) && scores(2L) > scores(3L))
    // exact: C=20 tokens, cf(p)=4 → doc2: ln(1 + 1·20/(10·4)) + ln(10/14)
    val expected = BigDecimal(math.log(1.5)).setScale(15, BigDecimal.RoundingMode.HALF_UP) +
      BigDecimal(math.log(10.0 / 14.0)).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    assert(scores(2L) == expected.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.find(_._1 == 1L).get._3 == 1L) // n_matched counts terms
  }

  test("bm25ImpactPruned: top-tf postings survive, full-corpus stats") {
    val df = Seq(
      (1L, "p p p x"), (2L, "p p x x"), (3L, "p x x x"),
      (4L, "p x x x"), (5L, "x x x x")).toDF("doc_id", "text")
    val full = Retrieval.bm25(df, "doc_id", "text", Seq("p"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pruned = Retrieval.bm25ImpactPruned(df, "doc_id", "text", Seq("p"),
        10, keepPerTerm = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // only the two highest-tf postings survive the tier-1 cut...
    assert(pruned.keySet == Set(1L, 2L))
    // ...and score identically to the exact tier: df/avgdl stay full-corpus
    assert(pruned(1L) == full(1L) && pruned(2L) == full(2L))
    // a keep depth >= df is the exact ranking
    val wide = Retrieval.bm25ImpactPruned(df, "doc_id", "text", Seq("p"),
        10, keepPerTerm = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wide == full)
  }

  test("prfExpandTerms: in-set tf × idf ranking, base terms excluded") {
    val df = Seq((1L, "q a a b"), (2L, "q a c"), (3L, "a x"), (4L, "y y"))
      .toDF("doc_id", "text")
    val out = Retrieval.prfExpandTerms(df, "doc_id", "text", Seq("q"),
        k = 10, nExpand = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // pseudo-relevant set = docs 1,2 (the only 'q' docs); candidates:
    // a tf 3 df 3 → 3·ln(4/3)≈1.151, b/c tf 1 df 1 → ln 4≈1.386 each;
    // ties break by term: b then c
    assert(out.map(_._1).toSeq == Seq("b", "c"))
    assert(out.forall(_._2 == 1L))
    val expected = BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.forall(_._3 == expected))
  }

  test("queryPerformance: peaked list has positive gap/clarity; flat list has null sd") {
    import spark.implicits._
    val docs = Seq((1L, "apple apple apple pear"), (2L, "apple pear pear"),
      (3L, "apple plum plum plum"), (4L, "plum plum plum plum"))
      .toDF("doc_id", "text")
    val out = graft.operators.Retrieval.queryPerformance(docs, "doc_id",
        "text", Seq("qa" -> Seq("apple"), "qf" -> Seq("plum")), k = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    val qa = out("qa")
    assert(qa.getAs[Long]("n_hits") == 3L)
    assert(qa.getAs[Double]("top1") > qa.getAs[Double]("top2"))
    assert(qa.getAs[Double]("gap") > 0.0 &&
      qa.getAs[Double]("clarity") > 0.0)
    // round-trip identity: gap is exactly top1 − top2 at 6 dp
    assert(qa.getAs[Double]("gap") ==
      BigDecimal(qa.getAs[Double]("top1") - qa.getAs[Double]("top2"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out("qf").getAs[Long]("n_hits") == 2L)
  }

  test("bordaFusion: linear points sum; absent items score 0 from that list") {
    import spark.implicits._
    val r1 = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("id", "s")
    val r2 = Seq((3L, 9L), (2L, 8L)).toDF("id", "s") // item 1 absent
    val out = Retrieval.bordaFusion(
      Seq("a" -> r1, "b" -> r2), "id", "s", universe = 100L, topK = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // ranks: a → 1,2,3; b → 3:1, 2:2
    assert(out(1L) == ((1L, 99L)))        // only list a: 100−1
    assert(out(2L) == ((2L, 98L + 98L)))  // 100−2 twice
    assert(out(3L) == ((2L, 97L + 99L)))  // 100−3, 100−1
  }
}
