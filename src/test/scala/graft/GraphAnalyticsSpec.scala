package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphAnalytics

class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000000000L

  test("pageRank on a ring stays exactly uniform") {
    // 0→1→...→9→0: deg 1 everywhere, insum = pr, so every round maps the
    // uniform vector to itself (up to identical truncation) — all equal
    val edges = (0 until 10).map(i => (i.toLong, ((i + 1) % 10).toLong))
      .toDF("src", "dst")
    val pr = GraphAnalytics.pageRank(edges, "src", "dst", iters = 4)
      .select("pr").as[Long].collect()
    assert(pr.length == 10)
    assert(pr.distinct.length == 1)
    // fixed point of x = (15·base)div100 + (85·x)div100 from x = base
    val base = S / 10
    var x = base
    (1 to 4).foreach(_ => x = (15L * base) / 100L + (85L * x) / 100L)
    assert(pr.head == x)
  }

  test("pageRank on a 2-chain matches hand-computed fixed-point values") {
    // 1→2 only: base = S/2; r1(1) = 15%·base, r1(2) = 15%·base + 85%·base
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphAnalytics.pageRank(edges, "src", "dst", iters = 1)
      .select("id", "pr").as[(Long, Long)].collect().toMap
    val base = S / 2
    assert(out(1L) == (15L * base) / 100L)
    assert(out(2L) == (15L * base) / 100L + (85L * base) / 100L)
  }

  test("star graph: center outranks every spoke") {
    val edges = ((1 to 8).map(i => (i.toLong, 0L)) ++
      (1 to 8).map(i => (0L, i.toLong))).toDF("src", "dst")
    val ranked = GraphAnalytics.ranked(
      GraphAnalytics.pageRank(edges, "src", "dst", iters = 3))
      .select("id", "rk").as[(Long, Int)].collect().toMap
    assert(ranked(0L) == 1)
  }

  test("inDegreeHistogram counts zero-in-degree antihubs") {
    // edges: 1→0, 2→0, 3→0 (0 is a hub), 0→1; nodes 0..4 (4 isolated)
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L)).toDF("src", "dst")
    val nodes = (0L to 4L).toDF("id")
    val h = GraphAnalytics.inDegreeHistogram(edges, "dst", nodes, "id")
      .as[(Long, Long)].collect().toMap
    // in-degrees: 0→3, 1→1, 2/3/4→0 ⇒ hist {0:3, 1:1, 3:1}
    assert(h == Map(0L -> 3L, 1L -> 1L, 3L -> 1L))
  }

  test("kCorePeel: clique survives, pendant path peels away; extra rounds no-op") {
    // 5-clique (deg 4 each) + path 0-10-11-12 hanging off node 0
    val clique = for (i <- 0 until 5; j <- 0 until 5 if i != j)
      yield (i.toLong, j.toLong)
    val path = Seq((0L, 10L), (10L, 11L), (11L, 12L))
    val edges = (clique ++ path).toDF("src", "dst")
    val core = GraphAnalytics.kCorePeel(edges, "src", "dst", k = 4, rounds = 3)
      .select("id", "deg").as[(Long, Long)].collect().toMap
    assert(core.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(core.values.toSet == Set(4L))
    // fixpoint: more rounds change nothing
    val core5 = GraphAnalytics.kCorePeel(edges, "src", "dst", k = 4, rounds = 5)
      .select("id", "deg").as[(Long, Long)].collect().toMap
    assert(core5 == core)
  }

  test("kCorePeel peels iteratively, not just by initial degree") {
    // path 1-2-3-4-5: every internal node has deg 2, but the 2-core of a
    // path is EMPTY — endpoints peel first, exposing new endpoints
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    // one round only removes the endpoints' neighbors' support gradually
    val r1 = GraphAnalytics.kCorePeel(edges, "src", "dst", k = 2, rounds = 1)
      .select("id").as[Long].collect().toSet
    assert(r1 == Set(2L, 3L, 4L)) // internal nodes still look 2-ish
    val r3 = GraphAnalytics.kCorePeel(edges, "src", "dst", k = 2, rounds = 3)
      .count()
    assert(r3 == 0L) // fully peeled
  }

  test("pageRank is deterministic under repartitioning") {
    val edges = (0 until 60).flatMap { i =>
      Seq((i.toLong, ((i * 7 + 1) % 60).toLong),
        (i.toLong, ((i * 13 + 2) % 60).toLong))
    }.toDF("src", "dst")
    val a = GraphAnalytics.pageRank(edges, "src", "dst", 3)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val b = GraphAnalytics.pageRank(edges.repartition(7), "src", "dst", 3)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("personalized pageRank: non-seed mass comes only through in-edges") {
    // 1→2→3, 3→1; seed {1}: teleport lands on 1 only, 2 and 3 gain rank
    // purely by diffusion; node 4 (4→1 edge, unreachable FROM the seed)
    // ends with pr 0 and is filterable
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val out = GraphAnalytics.personalizedPageRank(
        edges, "src", "dst", seeds, "id", iters = 3)
      .select("id", "base", "pr").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val share = (15L * S / 100L) / 1L
    assert(out(1L)._1 == share && out(2L)._1 == 0L && out(4L)._1 == 0L)
    assert(out(2L)._2 > 0L && out(3L)._2 > 0L)
    assert(out(4L)._2 == 0L)
    // hand-roll round 1 for node 2: base(2)=0, insum = pr(1) div deg(1)=share
    // (1's only out-edge is →2) → pr(2) = 85%·share
    val r1n2 = (85L * share) / 100L
    val oneRound = GraphAnalytics.personalizedPageRank(
        edges, "src", "dst", seeds, "id", iters = 1)
      .filter(col("id") === 2L).select("pr").as[Long].head()
    assert(oneRound == r1n2)
  }

  test("label propagation: clamped seeds, smallest-label ties, synchronous rounds") {
    // 1→2 and 3→2 (2 hears both seeds), 2→4 (second-hop), 4→5 (too far
    // for 2 rounds), 2→1 (the clamp: 1's vote would be 5, seed 7 wins)
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L), (4L, 5L), (2L, 1L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 7), (3L, 5)).toDF("id", "lab")
    val out = GraphAnalytics.labelPropagation(
        edges, "src", "dst", seeds, "id", "lab", iters = 2)
      .select("id", "label", "origin").as[(Long, Option[Int], String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == ((Some(7), "seed")), "seeds never change")
    assert(out(2L) == ((Some(5), "propagated")), "1-1 count tie → label 5")
    assert(out(4L) == ((Some(5), "propagated")), "second hop reached in round 2")
    assert(out(5L) == ((None, "unlabeled")),
      "synchronous rounds: round-2 votes use round-1 labels, 5 is 3 hops out")
  }

  test("total mass is conserved within truncation loss when no node dangles") {
    val edges = (0 until 20).map(i => (i.toLong, ((i + 3) % 20).toLong))
      .toDF("src", "dst")
    val pr = GraphAnalytics.pageRank(edges, "src", "dst", 3)
      .select("pr").as[Long].collect()
    val total = pr.sum
    // each node truncates < 1 unit at div-by-deg, the 15/85 split < 2 more,
    // per round → loss bounded by 3·rounds·n units
    assert(total <= S && total >= S - 3L * 3L * 20L)
  }

  test("linkPrediction: path endpoints pair via the middle; hub cap empties it") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id", "nbr_id")
    val out = graft.operators.GraphAnalytics
      .linkPrediction(edges, "id", "nbr_id", topN = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // only 1–3 (shared neighbor 2, not adjacent); J = 1/(1+1−1) = 1
    assert(out == Seq((1L, 3L, 1L, 1.0)))
    // maxDeg=1 drops node 2 from generation → no candidates at all
    assert(graft.operators.GraphAnalytics
      .linkPrediction(edges, "id", "nbr_id", 10, maxDeg = 1).count() == 0L)
    // existing edges are never proposed: a triangle yields nothing new
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id", "nbr_id")
    assert(graft.operators.GraphAnalytics
      .linkPrediction(tri, "id", "nbr_id", 10).count() == 0L)
  }

  test("textRankKeywords: the shared hub word out-ranks the leaves") {
    import spark.implicits._
    // "hub" co-occurs with every leaf; leaves only see the hub (+ the
    // adjacent leaf inside the ±2 window)
    val docs = Seq((1L, "aa hub bb"), (2L, "cc hub dd"), (3L, "ee hub ff"))
      .toDF("doc_id", "text")
    val out = graft.operators.GraphAnalytics
      .textRankKeywords(docs, "doc_id", "text")
      .as[(String, Long, Int)].collect().sortBy(_._3)
    assert(out.head._1 == "hub") // rk 1
    assert(out.map(_._1).toSet ==
      Set("hub", "aa", "bb", "cc", "dd", "ee", "ff"))
    // ranks are a permutation 1..7
    assert(out.map(_._3).toSeq == (1 to 7))
  }

  test("absorbingReach: hand-computed 4-step probabilities; target pinned at 1") {
    import spark.implicits._
    // chain: a →(2/4) b, a →(2/4) a; b →(1/2) purchase, b →(1/2) a
    val trans = Seq(
      ("a", "b", 2L), ("a", "a", 2L),
      ("b", "purchase", 1L), ("b", "a", 1L)).toDF("f", "t", "n")
    val out = graft.operators.GraphAnalytics
      .absorbingReach(trans, "f", "t", "n", "purchase", 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // v1: b=.5, a=0 ; v2: a=.25, b=.5 ; v3: a=.375, b=.625 ;
    // v4: a = .5·.625 + .5·.375 = .5, b = .5 + .5·.375 = .6875
    assert(out("purchase") == 1.0)
    assert(out("a") == 0.5 && out("b") == 0.6875)
    // x is a dead end (no out-transition), the c ↔ d loop never reaches
    // the target: both stay at 0; a splits evenly between b and x
    val dead = GraphAnalytics.absorbingReach(deadEndChain, "f", "t", "n",
        "done", 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dead == Map("a" -> 0.5, "b" -> 1.0, "x" -> 0.0, "c" -> 0.0,
      "d" -> 0.0, "done" -> 1.0))
  }

  private def deadEndChain = Seq(("a", "b", 1L), ("a", "x", 1L),
    ("b", "done", 1L), ("c", "d", 1L), ("d", "c", 1L)).toDF("f", "t", "n")

  test("mutualEdges: only reciprocated pairs survive, canonical order") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L),
      (1L, 3L)).toDF("src", "dst")
    val out = GraphAnalytics.mutualEdges(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (3L, 4L)))
  }

  test("clusteringCoefficient: triangle corners score, pendant is NULL") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val out = GraphAnalytics.clusteringCoefficient(edges, "a", "b")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 1.0)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L) == ((3L, 1L, 2.0 / 6)))
    assert(out(4L)._1 == 1L && out(4L)._2 == 0L && out(4L)._3.isNaN)
  }

  test("modularity: hand-computed per-community terms and global Q") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val comm = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"))
      .toDF("id", "comm")
    val out = GraphAnalytics.modularity(edges, "a", "b", comm, "id", "comm")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // m=4; A: 3 within, degree mass 7 → 3/4 − (7/8)² = −0.015625
    // B: 0 within, degree mass 1 → −(1/8)² = −0.015625; Q = −0.03125
    assert(out("A") == ((3L, 3L, 7L, -0.015625, -0.03125)))
    assert(out("B") == ((1L, 0L, 1L, -0.015625, -0.03125)))
  }

  test("absorbingSteps: deterministic chain converges to path length") {
    import spark.implicits._
    val trans = Seq(("a", "b", 10L), ("b", "done", 10L))
      .toDF("f", "t", "n")
    val out = GraphAnalytics.absorbingSteps(trans, "f", "t", "n", "done", 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 2.0, "b" -> 1.0, "done" -> 0.0))
    // the dead end x costs its one step and stops; the c ↔ d loop never
    // reaches the target and reports the capped partial sum (= rounds)
    val dead = GraphAnalytics.absorbingSteps(deadEndChain, "f", "t", "n",
        "done", 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dead == Map("a" -> 2.0, "b" -> 1.0, "x" -> 1.0, "c" -> 4.0,
      "d" -> 4.0, "done" -> 0.0))
  }

  test("hits: star graph — the shared authority dominates, hubs tie") {
    import spark.implicits._
    // hubs 1,2 each point at authority 10; hub 2 also points at 20.
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 20L)).toDF("s", "d")
    val out = GraphAnalytics.hits(edges, "s", "d", iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // iter1: a(10)=2, a(20)=1 → /√5; h(1)=2/√5, h(2)=3/√5 → /√13.
    // iter2: a(10)=5/√65, a(20)=3/√65 → /(√34/√65); h(1)=5/√34·…
    val s34 = math.sqrt(34)
    assert(math.abs(out(("authority", 10L)) - 5 / s34) < 1e-12)
    assert(math.abs(out(("authority", 20L)) - 3 / s34) < 1e-12)
    // h ∝ (a10, a10+a20) = (5, 8)/√89 after the second hub sweep
    val s89 = math.sqrt(89)
    assert(math.abs(out(("hub", 1L)) - 5 / s89) < 1e-12)
    assert(math.abs(out(("hub", 2L)) - 8 / s89) < 1e-12)
    // L2 norms are 1 by construction
    val hubs = out.collect { case (("hub", _), v) => v * v }.sum
    assert(math.abs(hubs - 1.0) < 1e-12)
  }

  test("eccentricitySweep: finds the path-graph diameter from a middle start") {
    import spark.implicits._
    import graft.operators.GraphAnalytics
    // path 0-1-2-3-4-5, start at 2: ecc 3 (to 5); sweep 2 from 5: ecc 5
    val edges = (0L to 4L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = GraphAnalytics.eccentricitySweep(edges, "src", "dst",
      startId = 2L, maxHops = 8).collect()
      .map(r => r.getAs[Int]("sweep") -> r).toMap
    assert(out(1).getAs[Long]("source") == 2L)
    assert(out(1).getAs[Int]("ecc") == 3)
    assert(out(1).getAs[Long]("farthest") == 5L)
    assert(out(1).getAs[Long]("n_reached") == 6L)
    assert(out(2).getAs[Long]("source") == 5L)
    assert(out(2).getAs[Int]("ecc") == 5) // the true diameter
    assert(out(2).getAs[Long]("farthest") == 0L)
  }

  test("brandesDependency: hand-computed dependencies on a path") {
    import spark.implicits._
    import graft.operators.GraphAnalytics
    // path 0-1-2-3 from source 0: σ=1 everywhere; δ(2)=1+δ(3)=1... wait
    // δ(3)=0, δ(2)=(1/1)(1+0)=1, δ(1)=(1)(1+1)=2, δ(0)=(1)(1+2)=3
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val out = GraphAnalytics.brandesDependency(edges, "s", "d",
      sourceId = 0L, maxDepth = 6, topK = 10)
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    assert(out(0L).getAs[Double]("delta") == 3.0)
    assert(out(1L).getAs[Double]("delta") == 2.0)
    assert(out(2L).getAs[Double]("delta") == 1.0)
    assert(out(3L).getAs[Double]("delta") == 0.0)
    assert(out(3L).getAs[Long]("sigma") == 1L)
    // diamond 0-{1,2}-3: σ(3)=2; δ(1)=δ(2)=(1/2)(1+0)=0.5
    val dia = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("s", "d")
    val o2 = GraphAnalytics.brandesDependency(dia, "s", "d", 0L, 6, 10)
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    assert(o2(3L).getAs[Long]("sigma") == 2L)
    assert(o2(1L).getAs[Double]("delta") == 0.5)
    assert(o2(2L).getAs[Double]("delta") == 0.5)
  }

  test("sampledBetweenness: mean of per-source dependencies on a path") {
    import spark.implicits._
    import graft.operators.GraphAnalytics
    // path 0-1-2-3, pivots {0, 3}: δ from 0 = (3,2,1,0); from 3 =
    // (0,1,2,3) → means (1.5, 1.5, 1.5, 1.5)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val out = GraphAnalytics.sampledBetweenness(edges, "s", "d",
      Seq(0L, 3L), maxDepth = 6, topK = 10).collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[Double]("mean_delta") == 1.5))
    assert(out.forall(_.getAs[Long]("n_sources_reached") == 2L))
  }

  test("wlRefinement: distinguishes path from star, stabilizes classes") {
    import spark.implicits._
    import graft.operators.GraphAnalytics
    // path 0-1-2-3: degrees (1,2,2,1) → 2 colors; round 1 splits ends
    // from middles by neighborhood? ends see {2}, middles see {1,2} and
    // {2,2}... wait middles 1,2 see {1,2} both → stay together: rounds
    // converge at 2 classes of 2
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val pr = GraphAnalytics.wlRefinement(path, "s", "d", rounds = 3)
      .collect().map(r => r.getAs[Int]("round") ->
        r.getAs[Long]("n_colors")).toMap
    assert(pr(0) == 2L)
    assert(pr(3) == 2L) // ends {0,3}, middles {1,2} — the true partition
    // star 0-1, 0-2, 0-3: hub vs leaves, 2 classes at every round
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val sr = GraphAnalytics.wlRefinement(star, "s", "d", rounds = 3)
      .collect().map(r => r.getAs[Int]("round") -> r).toMap
    assert(sr(3).getAs[Long]("n_colors") == 2L)
    assert(sr(3).getAs[Long]("largest_class") == 3L) // the leaves
  }

  test("removalAttribution: lost mass is NOT renormalized") {
    import spark.implicits._
    import graft.operators.GraphAnalytics
    // v → c → p and v → p equally; firsts all at v. Baseline converts
    // with certainty; removing c kills the v→c→p path WITHOUT
    // boosting v→p (tot stays 2) → p_without = 0.5, effect = 0.5
    val trans = Seq(("v", "c", 1L), ("c", "p", 1L), ("v", "p", 1L))
      .toDF("from", "to", "n")
    val firsts = Seq(("v", 2L)).toDF("ftype", "fn")
    val out = GraphAnalytics.removalAttribution(trans, firsts, "from",
      "to", "n", "ftype", "fn", target = "p", rounds = 4,
      channels = Seq("c")).head()
    assert(out.getAs[Double]("p_base") == 1.0)
    assert(out.getAs[Double]("p_without") == 0.5)
    assert(out.getAs[Double]("removal_effect") == 0.5)
    assert(out.getAs[Double]("attr_share") == 1.0)
  }

  test("assortativity: star graph is perfectly disassortative (r = -1)") {
    import spark.implicits._
    import graft.operators.GraphAnalytics
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val r = GraphAnalytics.assortativity(edges, "s", "d").head()
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 6L) // symmetrized
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  test("harmonicCentrality: path graph — hand harmonic/closeness; hop cap honored") {
    import spark.implicits._
    import graft.operators.GraphAnalytics
    // 0—1—2—3: from 0, dists 1,2,3 → H = 1 + 1/2 + 1/3; C = 3/6
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("s", "d")
    val out = GraphAnalytics.harmonicCentrality(edges, "s", "d",
      seeds = Seq(0L, 1L), maxHops = 8).collect()
    val r0 = out(0)
    assert(r0.getAs[Long]("n_reached") == 3L &&
      r0.getAs[Int]("ecc") == 3)
    assert(r0.getAs[Double]("harmonic") == 1.833333)
    assert(r0.getAs[Double]("closeness") == 0.5)
    // interior node 1: dists 1,1,2 → H = 2.5, C = 3/4
    val r1 = out(1)
    assert(r1.getAs[Double]("harmonic") == 2.5)
    assert(r1.getAs[Double]("closeness") == 0.75)
    // a 1-hop cap truncates node 0's reach to its sole neighbor
    val capped = GraphAnalytics.harmonicCentrality(edges, "s", "d",
      seeds = Seq(0L), maxHops = 1).head()
    assert(capped.getAs[Long]("n_reached") == 1L &&
      capped.getAs[Double]("harmonic") == 1.0)
  }

  test("harmonicCentrality with one seed matches eccentricitySweep sweep 1: " +
      "path, ring with a pendant") {
    // both run the same BFS; harmonic counts reached nodes other than the
    // seed, eccentricity counts the seed too
    val path = (0L to 4L).map(i => (i, i + 1)).toDF("s", "d")
    val ring = ((0L to 5L).map(i => (i, (i + 1) % 6)) :+ ((3L, 6L)))
      .toDF("s", "d")
    for ((edges, seeds) <- Seq(path -> Seq(0L, 2L), ring -> Seq(0L, 3L, 6L));
         seed <- seeds) {
      val h = GraphAnalytics.harmonicCentrality(edges, "s", "d", Seq(seed),
        maxHops = 8).head()
      val e = GraphAnalytics.eccentricitySweep(edges, "s", "d", seed, 8)
        .filter(col("sweep") === 1).head()
      assert(h.getAs[Int]("ecc") == e.getAs[Int]("ecc"))
      assert(h.getAs[Long]("n_reached") + 1 == e.getAs[Long]("n_reached"))
    }
    // ring with pendant from 0: 1,5 at 1; 2,4 at 2; 3 at 3; 6 at 4
    assert(GraphAnalytics.eccentricitySweep(ring, "s", "d", 0L, 8)
      .filter(col("sweep") === 1).head().getAs[Int]("ecc") == 4)
  }

  test("bellmanFord: weighted paths beat hop-shortest; rounds bound hops") {
    // 0→1 costs 5 direct but 2 via 0→2→1; 3 is cheapest via 3 hops
    val e = Seq((0L, 1L, 5L), (0L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 1L),
      (2L, 3L, 10L)).toDF("src", "dst", "w")
    val d4 = GraphAnalytics.bellmanFord(e, "src", "dst", "w", 0L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d4 == Map(0L -> 0L, 1L -> 2L, 2L -> 1L, 3L -> 3L))
    // one round only relaxes one hop: node 1 still at the direct cost,
    // node 3 unreached
    val d1 = GraphAnalytics.bellmanFord(e, "src", "dst", "w", 0L, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(0L -> 0L, 1L -> 5L, 2L -> 1L))
  }

  test("boruvkaMst: picks the classic MST; weight ties broken by (w,lo,hi)") {
    // square 0-1(1) 1-2(2) 2-3(1.5) 3-0(3) + diagonal 0-2(2.5):
    // MST = {0-1, 2-3, 1-2}, total 4.5 — 3-0 and the diagonal lose
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 1.5),
      (3L, 0L, 3.0), (0L, 2L, 2.5)).toDF("src", "dst", "w")
    val mst = GraphAnalytics.boruvkaMst(e, "src", "dst", "w")
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"),
        r.getAs[Double]("w"))).toSet
    assert(mst == Set((0L, 1L, 1.0), (2L, 3L, 1.5), (1L, 2L, 2.0)))
    // all-equal-weight triangle: the (w, lo, hi) total order forces
    // exactly {0-1, 0-2} — every run, every engine
    val tri = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 1.0))
      .toDF("src", "dst", "w")
    val tm = GraphAnalytics.boruvkaMst(tri, "src", "dst", "w")
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .toSet
    assert(tm == Set((0L, 1L), (0L, 2L)))
    // disconnected input spans each component separately: a FOREST,
    // with n - #components edges in total
    val two = Seq((0L, 1L, 1.0), (5L, 6L, 2.0), (6L, 7L, 3.0))
      .toDF("src", "dst", "w")
    val fm = GraphAnalytics.boruvkaMst(two, "src", "dst", "w").collect()
    assert(fm.length == 3)
  }

  test("boruvkaMst: driver and distributed contraction paths are identical") {
    // a weighted ring + chords forces multiple rounds and non-trivial
    // merge trees; maxDriverComponents = 0 forces the pointer-doubling
    // path, the default takes the driver union-find — same tree, same
    // round numbers, edge for edge
    val edges = (0 until 20).flatMap { i =>
      Seq((i.toLong, ((i + 1) % 20).toLong, 1.0 + (i % 7) * 0.1),
        (i.toLong, ((i + 5) % 20).toLong, 2.0 + (i % 4) * 0.1))
    }.toDF("src", "dst", "w")
    def run(thresh: Long) =
      GraphAnalytics.boruvkaMst(edges, "src", "dst", "w",
          maxDriverComponents = thresh)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    assert(run(0L) == run(4000000L))
  }

  test("sccLabels: directed cycles fuse, mere reachability does not") {
    // 1→2→3→1 is one SCC; 3→4 and the 4↔5 cycle another; 6→7 leaves
    // both trivial — direction matters, unlike undirected components
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (6L, 7L)).toDF("src", "dst")
    val out = GraphAnalytics.sccLabels(e, "src", "dst", maxIters = 16)
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("scc"), r.getAs[Long]("scc_size"))).toMap
    assert(out == Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      4L -> (4L, 2L), 5L -> (4L, 2L),
      6L -> (6L, 1L), 7L -> (7L, 1L)))
    // an iteration cap below the closure depth raises instead of
    // silently truncating reachability
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAnalytics.sccLabels(chain, "src", "dst", maxIters = 2).collect()
    }
    // a 3-cycle's closure needs a second (empty) step to settle
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAnalytics.sccLabels(cycle, "src", "dst", maxIters = 1).collect()
    }
    assert(GraphAnalytics.sccLabels(cycle, "src", "dst", maxIters = 2)
      .collect().map(_.getAs[Long]("scc")).toSet == Set(1L))
  }

  test("sccLabelsFwBw: equals sccLabels — hand graph, pseudo-random graph, " +
      "trim-only chain") {
    // the definitional hand graph above
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (6L, 7L)).toDF("src", "dst")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("scc"), r.getAs[Long]("scc_size"))).toMap
    assert(toMapOf(GraphAnalytics.sccLabelsFwBw(e, "src", "dst")) ==
      toMapOf(GraphAnalytics.sccLabels(e, "src", "dst", maxIters = 16)))
    // a pseudo-random directed graph (LCG, deterministic): 60 nodes,
    // 150 edges — mixed SCC sizes, multiple rounds, non-trivial splits
    var seed = 12345L
    def lcg(): Long = { seed = (seed * 1103515245L + 12345L) & 0x7fffffffL; seed }
    val rnd = (1 to 150).map(_ => (lcg() % 60, lcg() % 60))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    assert(toMapOf(GraphAnalytics.sccLabelsFwBw(rnd, "src", "dst")) ==
      toMapOf(GraphAnalytics.sccLabels(rnd, "src", "dst", maxIters = 64)))
    // a pure chain dissolves entirely in the TRIM cascade (every node
    // is a singleton SCC; endpoints peel outside-in) — one round
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainStats = new GraphAnalytics.FwBwStats
    val ch = toMapOf(GraphAnalytics.sccLabelsFwBw(chain, "src", "dst",
      stats = Some(chainStats)))
    assert(ch == (0L to 12L).map(i => i -> (i, 1L)).toMap)
    assert(chainStats.lastRounds.get() == 1)
    // depth caps raise rather than mislabel
    intercept[IllegalArgumentException] {
      GraphAnalytics.sccLabelsFwBw(chain, "src", "dst", maxDepth = 2)
        .collect()
    }
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAnalytics.sccLabelsFwBw(path, "src", "dst", maxDepth = 1)
        .collect()
    }
    // a 3-cycle trims nothing; each BFS from pivot 1 takes 2 steps to
    // reach the other two nodes and a third (empty) one to settle
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAnalytics.sccLabelsFwBw(cycle, "src", "dst", maxDepth = 1)
        .collect()
    }
    val cycleStats = new GraphAnalytics.FwBwStats
    assert(toMapOf(GraphAnalytics.sccLabelsFwBw(cycle, "src", "dst",
      maxDepth = 3, stats = Some(cycleStats))) ==
      Map(1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L)))
    assert(cycleStats.lastRounds.get() == 1)
    assert(cycleStats.lastBfsSteps.get() == 6) // forward 3 + backward 3
  }

  test("incrementalScc: merged ≡ rebuilt — SCC merge, new-node merge, " +
       "intra-SCC no-op, acyclic cross edge; untouched components keep labels") {
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("scc"), r.getAs[Long]("scc_size"))).toMap
    def rebuilt(edges: org.apache.spark.sql.DataFrame) =
      toMapOf(GraphAnalytics.sccLabelsFwBw(edges, "src", "dst"))
    // old: cycle {1,2,3}, chain 3→4→5, disjoint cycle {6,7}
    val oldE = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 6L)).toDF("src", "dst")
    val oldLabels = GraphAnalytics.sccLabelsFwBw(oldE, "src", "dst")
      .localCheckpoint()
    val cond = GraphAnalytics.condensationEdges(oldE, "src", "dst",
      oldLabels).localCheckpoint()
    def merged(batch: org.apache.spark.sql.DataFrame) =
      toMapOf(GraphAnalytics.incrementalScc(oldLabels, cond, batch,
        "src", "dst"))
    // back edge 5→1 closes the chain: {1,2,3,4,5} fuse; {6,7} untouched
    val b1 = Seq((5L, 1L)).toDF("src", "dst")
    val m1 = merged(b1)
    assert(m1 == rebuilt(oldE.union(b1)))
    assert(m1(6L) == (6L, 2L) && m1(7L) == (6L, 2L))
    // NEW node 10 in a mutual pair with 1: joins the {1,2,3} SCC
    val b2 = Seq((10L, 1L), (1L, 10L)).toDF("src", "dst")
    assert(merged(b2) == rebuilt(oldE.union(b2)))
    // edge inside an existing SCC: a no-op (sn empties, early return)
    val b3 = Seq((2L, 1L)).toDF("src", "dst")
    assert(merged(b3) == rebuilt(oldE.union(b3)))
    assert(merged(b3) == toMapOf(GraphAnalytics.sccLabelsFwBw(oldE,
      "src", "dst")))
    // cross-component edge that closes NO cycle: condensation grows,
    // no SCC merges anywhere
    val b4 = Seq((5L, 6L)).toDF("src", "dst")
    assert(merged(b4) == rebuilt(oldE.union(b4)))
    // a batch doing all of it at once: merge + new node + acyclic edge
    val b5 = Seq((5L, 1L), (10L, 6L), (7L, 10L), (4L, 9L))
      .toDF("src", "dst")
    assert(merged(b5) == rebuilt(oldE.union(b5)))
    // condensation maintenance: merged condensation ≡ the union graph's
    // definitional condensation under rebuilt labels, for every batch
    def condSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def rebuiltCond(edges: org.apache.spark.sql.DataFrame) =
      condSet(GraphAnalytics.condensationEdges(edges, "src", "dst",
        GraphAnalytics.sccLabelsFwBw(edges, "src", "dst")))
    def mergedCond(batch: org.apache.spark.sql.DataFrame) = {
      val nl = GraphAnalytics.incrementalScc(oldLabels, cond, batch,
        "src", "dst")
      condSet(GraphAnalytics.incrementalCondensation(nl, cond, batch,
        "src", "dst"))
    }
    Seq(b1, b2, b3, b4, b5).foreach { b =>
      assert(mergedCond(b) == rebuiltCond(oldE.union(b)))
    }
    // the standing-WCC discovery path (oldCondWcc) lands on identical
    // labels — the O(batch) touched-component step is a pure speedup
    val standingWcc = GraphAnalytics.condensationWcc(cond).localCheckpoint()
    Seq(b1, b2, b4, b5).foreach { b =>
      assert(toMapOf(GraphAnalytics.incrementalScc(oldLabels, cond, b,
        "src", "dst", oldCondWcc = Some(standingWcc))) == merged(b))
    }
  }

  test("bidirectionalBfsDistance: exact distances on paths/rings, " +
      "disconnected -1, meet rule never under- or over-shoots") {
    def dist(edges: Seq[(Long, Long)], a: Long, b: Long): Long =
      GraphAnalytics.bidirectionalBfsDistance(
        edges.toDF("src", "dst"), "src", "dst", a, b)
    // path 0-1-2-...-8: all pairwise hops exact
    val path = (0L until 8L).map(i => (i, i + 1))
    assert(dist(path, 0L, 8L) == 8L)
    assert(dist(path, 0L, 1L) == 1L)
    assert(dist(path, 3L, 3L) == 0L)
    // ring of 6: antipodal distance 3 (two equal shortest paths)
    val ring = (0L until 6L).map(i => (i, (i + 1) % 6))
    assert(dist(ring, 0L, 3L) == 3L)
    // short-cut trap: a long arm meets first in one ordering, but the
    // direct 2-hop path must win (the best <= lA + lB rule)
    val trap = Seq((0L, 1L), (1L, 9L), (0L, 2L), (2L, 3L), (3L, 9L))
    assert(dist(trap, 0L, 9L) == 2L)
    // disconnected components and absent endpoints give -1
    assert(dist(path ++ Seq((100L, 101L)), 0L, 101L) == -1L)
    assert(dist(path, 0L, 55L) == -1L)
  }

  test("dagLevels: longest-path depths on a hand DAG; cycles raise") {
    // diamond with a long arm: 0→1→3, 0→2→3→4, 0→4 — level(4) must be
    // 3 (via 2,3), not 1 (the direct edge): MAX relaxation, not BFS
    val dag = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (0L, 4L)).toDF("src", "dst")
    val lv = GraphAnalytics.dagLevels(dag, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lv == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // a cycle never reaches a fixpoint — raises instead of a silent
    // wrong depth (this is the cycle check q549 leans on)
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAnalytics.dagLevels(cyc, "src", "dst", maxDepth = 16).collect()
    }
  }

  test("kTruss: K4 survives k=4, spokes and lone triangles peel; cascades") {
    // K4 on 0-3 (every edge backed by 2 triangles) + pendant 3-4 + a
    // detached triangle 5-6-7 (support 1 everywhere)
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L))
    val e = (k4 ++ Seq((3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L)))
      .toDF("src", "dst")
    val out = GraphAnalytics.kTruss(e, "src", "dst", k = 4, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2))).toSet
    assert(out == k4.map { case (a, b) => (a, b, 2L) }.toSet)
    // at k=3 the lone triangle survives too, support 1 each
    val out3 = GraphAnalytics.kTruss(e, "src", "dst", k = 3, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out3 == (k4 ++ Seq((5L, 6L), (6L, 7L), (5L, 7L))).toSet)
    // cascade: two triangles sharing edge 1-2 — the shared edge has
    // support 2 and survives round 1, then loses both triangles and
    // peels in round 2; the 4-truss is empty
    val twoTri = Seq((0L, 1L), (0L, 2L), (1L, 2L), (1L, 3L), (2L, 3L))
      .toDF("src", "dst")
    assert(GraphAnalytics.kTruss(twoTri, "src", "dst", k = 4, rounds = 3)
      .count() == 0L)
    // an under-sized round schedule RAISES instead of silently
    // returning a superset (the cascade needs 2 deleting rounds, so
    // rounds=1 is not at fixpoint — and the SQL oracle replays the
    // same unroll, so the hash gate could never catch it)
    intercept[IllegalArgumentException] {
      GraphAnalytics.kTruss(twoTri, "src", "dst", k = 4, rounds = 1)
        .count()
    }
  }

  test("BFS and Brandes stop at the first empty frontier: a 40-hop cap " +
      "returns the rows and costs the jobs of an ecc + 1 cap") {
    // path 0-1-…-9: the BFS from either end has eccentricity 9
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("s", "d")
    val runs = Seq[(String, Int => org.apache.spark.sql.DataFrame)](
      "eccentricitySweep" ->
        (h => GraphAnalytics.eccentricitySweep(edges, "s", "d", 0L, h)),
      "harmonicCentrality" ->
        (h => GraphAnalytics.harmonicCentrality(edges, "s", "d", Seq(0L), h)),
      "brandesDependency" ->
        (h => GraphAnalytics.brandesDependency(edges, "s", "d", 0L, h, 10)))
    for ((name, run) <- runs) {
      val (tight, tightJobs) = withJobCount(run(10).collect().toSeq)
      val (loose, looseJobs) = withJobCount(run(40).collect().toSeq)
      assert(loose == tight, name)
      // one job or more per hop would put 30 idle hops at 30+ jobs
      assert(looseJobs <= tightJobs + 3,
        s"$name: $tightJobs jobs at a 10-hop cap, $looseJobs at 40")
    }
    val ecc = GraphAnalytics.eccentricitySweep(edges, "s", "d", 0L, 10)
      .collect().map(_.getAs[Int]("ecc"))
    assert(ecc.toSeq == Seq(9, 9))
  }

  test("counted: its checkpoint job returns the exact, empty and " +
      "predicate counts; a metric that never arrives throws") {
    val ids = spark.range(0, 1000).toDF("id")
    val (all, n) = Lineage.counted(ids, "all")
    assert(n == 1000L && all.count() == 1000L)
    val (none, n0) = Lineage.counted(ids.filter(col("id") < 0), "none")
    assert(n0 == 0L && none.isEmpty)
    // dagLevels' stop test: the nodes whose level moved this round
    val lv = Seq((1L, 2L, 1L), (2L, 0L, 0L), (3L, 3L, 1L), (4L, 1L, 1L))
      .toDF("node", "level", "_old")
    val ((kept, moved), jobs) = withJobCount(
      Lineage.counted(lv, "moved", col("level") =!= col("_old")))
    assert(moved == 2L && kept.count() == 4L)
    assert(jobs == 1L, s"the count took $jobs jobs, not the checkpoint's one")
    import scala.concurrent.duration._
    val never = org.apache.spark.sql.Observation("never_reported")
    val err = intercept[IllegalStateException] {
      Lineage.awaitObserved(never, 200.millis)
    }
    assert(err.getMessage.contains("never_reported"))
  }
}
