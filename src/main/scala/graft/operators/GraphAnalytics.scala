package graft.operators

import graft.Lineage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph centrality over document/vector graphs — the corpus-structure
  * signal of prototypicality-based data curation: rank examples by how
  * central they are in the near-neighbor graph (central ≈ representative,
  * isolated ≈ noise or exotica), then select or weight by that rank. The
  * reference ranks retrieval results by vector distance alone
  * (`src/server/app/embed/vector_store.py`); centrality extends the same
  * kNN machinery (q101) from per-query ranking to corpus-level structure.
  *
  * Superstep materialization: an iterative op whose next round reads
  * the round's state more than once ends every round with an EAGER
  * [[graft.Lineage.cut]] — without truncation the logical plan (and even
  * its description string) grows exponentially in the round count;
  * caching dedups execution but not the plan tree. The Markov value
  * iterations ([[valueIteration]]) read the previous value vector once
  * per round, so their lineage grows linearly and they do not
  * checkpoint. The frontier and pointer-doubling loops, which join
  * their own cut output, cut with `dropStats = true`. Trade-off, on
  * purpose: the cut's blocks are unreplicated executor state, so an
  * executor lost mid-iteration fails the job instead of recomputing
  * (swap `Lineage.cut` to a reliable `checkpoint()` when running with
  * preemptible executors or dynamic deallocation), and superseded round
  * blocks are freed by the ContextCleaner when their RDDs are GC'd
  * rather than eagerly —
  * bounded by one round's state times the GC lag, negligible for the
  * node/edge tables these loops carry.
  *
  * Replay-exactness: PageRank's textbook form is all double division and
  * order-dependent float sums. Here rank mass rides as FIXED-POINT
  * BIGINTs (`scale` units spread over the nodes) and every step is
  * integer arithmetic — `pr div deg` per edge, BIGINT sums (exact and
  * order-independent under any partitioning), and the damping mix
  * `(15·base) div 100 + (85·insum) div 100`. The DuckDB oracle replays
  * every iteration bit-for-bit with `//`. Truncation loses at most a few
  * units of 10⁻¹² mass per node per round — irrelevant to ranking, vital
  * to determinism. */
object GraphAnalytics {

  /** r11: run `body` with shuffle partitions DERIVED FROM `input`'s size
    * ([[graft.SessionConf.sizedPartitions]]) — the iterative operators'
    * per-round joins/aggregates stop paying session-default-partition
    * task counts when the graph is control-plane-sized, while a
    * corpus-scale input clamps the derivation to the session default,
    * making the override a no-op exactly when data is big. Only the
    * EAGER work inside `body` (the per-round localCheckpoints) plans
    * under the override; the returned frame's final assembly is
    * checkpoint-backed and coalesces via AQE. */
  private def sized[A](input: DataFrame)(body: => A): A =
    graft.SessionConf.withShufflePartitions(input.sparkSession,
      graft.SessionConf.sizedPartitions(input))(body)

  /** The symmetrized, de-duplicated (a, b) edge set of a directed edge
    * list, localCheckpointed: every round of the BFS, Brandes and WL
    * loops below re-reads it. */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().transform(Lineage.cut(_, "GraphAnalytics.undirected"))
  }

  /** Canonical undirected edges (a < b), self-loops dropped,
    * de-duplicated (one shuffle) — not materialized: each caller picks
    * its own checkpoint form. */
  private def canonical(edges: DataFrame, srcCol: String,
                        dstCol: String): DataFrame =
    edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Directed (src, dst) edges cast to long, self-loops dropped,
    * de-duplicated — not materialized, like [[canonical]]. */
  private def directed(edges: DataFrame, srcCol: String,
                       dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()

  /** Level-synchronous BFS over `und` (an [[undirected]] edge set) from
    * every seed row at once, on [[closure]]: per hop one join of the
    * frontier against the edges, anti-joined on the visited set; it
    * stops at the first empty frontier, or after `maxHops` hops on a
    * graph deeper than that. `seeds` is (node) for one BFS or
    * (source, node) for one BFS per source, each source's rows exactly
    * its own single-source BFS. (A single BFS stays keyed by node alone:
    * a constant source key would cost hop 1 its reuse of the frontier's
    * exchange by the anti-join, one job per BFS.) Returns the seed
    * columns plus d, the hop distance. */
  private def bfs(und: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val keys = seeds.columns.toSeq
    val carried = keys.filter(_ != "node").map(col)
    val (levels, _) = closure(seeds.withColumn("d", lit(0))
      .transform(Lineage.cut(_, "GraphAnalytics.bfs.seeds")),
        keys, maxHops) { (frontier, h) =>
      frontier.join(und, frontier("node") === und("a"))
        .select(carried :+ col("b").as("node"): _*).distinct()
        .withColumn("d", lit(h))
    }
    levels.reduce(_ unionByName _)
  }

  /** Fixed-point PageRank (Page et al. 1999, damping d = 0.85) over an
    * edge list, `iters` synchronous power iterations from a uniform
    * start.
    *
    * Scale shape: out-degrees and the degree-annotated edge list are
    * computed ONCE; each iteration is one equi-join of the rank table
    * onto the edges' src plus one `groupBy(dst)` BIGINT sum — the
    * Pregel shape, 2 shuffles per round, with map-side partial sums
    * doing the heavy lifting. The node count rides as a one-row
    * broadcast. Nothing is collected to the driver.
    *
    * Dangling nodes (in-edges only) receive the teleport share but
    * forward nothing — the standard "removed dangling" simplification;
    * total mass then shrinks by their share each round. Deterministic
    * either way, and a kNN graph has none (every member of a cell of
    * size ≥ 2 has out-neighbors).
    *
    * Returns (id, base, pr): the node id, the uniform start mass, and
    * the final fixed-point rank — all BIGINT. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale >= 1L, "need iters >= 1 and scale >= 1")
    rankIteration(edges, srcCol, dstCol, iters,
      start = nodes => nodes
        .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
        .select(col("id"), expr(s"${scale}L div n").as("base")),
      teleport = expr("(15L * base) div 100L"))
  }

  /** [[pageRank]] with teleport restricted to `seedPred` nodes —
    * personalized PageRank (random walk with restart): diffusion from a
    * seed set through the graph, the classic "related documents" /
    * seed-expansion signal for retrieval and curation (expand a small
    * trusted set along near-duplicate edges). Seeds split the full
    * teleport mass `(15·scale) div 100` equally; non-seeds get rank only
    * through in-edges. Same fixed-point arithmetic, same 2-shuffle
    * Pregel rounds. Returns (id, base, pr) where `base` is the node's
    * personal teleport share (0 for non-seeds). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedIdCol: String,
                           iters: Int = 3,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale >= 1L, "need iters >= 1 and scale >= 1")
    val seedIds = seeds.select(col(seedIdCol).cast("long").as("id")).distinct()
    // teleport share: seeds split (15% of scale) equally; start = share
    rankIteration(edges, srcCol, dstCol, iters,
      start = _.join(seedIds.withColumn("_s", lit(1)), Seq("id"), "left")
        .crossJoin(broadcast(seedIds.agg(count(lit(1)).as("ns"))))
        .select(col("id"),
          when(col("_s").isNotNull,
            expr(s"((15L * ${scale}L) div 100L) div ns")).otherwise(lit(0L))
            .as("base")),
      teleport = col("base"))
  }

  /** The fixed-point power iteration shared by [[pageRank]] and
    * [[personalizedPageRank]]: `start` maps the node table (id) to each
    * node's (id, base) teleport mass, which is also the round-0 rank;
    * every round sends `pr div deg` along each out-edge, sums it per
    * `dst`, and sets pr = `teleport` + (85·insum) div 100. Returns
    * (id, base, pr). */
  private def rankIteration(edges: DataFrame, srcCol: String, dstCol: String,
                            iters: Int, start: DataFrame => DataFrame,
                            teleport: Column): DataFrame = sized(edges) {
    // every iteration re-joins the edge list; cache the projection so an
    // expensive upstream build (e.g. the q101 kNN pair join) runs once,
    // not once per round (the q56 pairs.cache() precedent)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).cache()
    // the final ranks frame is localCheckpoint-truncated, so releasing
    // the edge cache on exit is safe — a long-lived session calling the
    // iterative operators repeatedly must not accumulate storage memory
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val ewd = e.join(deg, "src") // static across iterations
      var ranks = start(nodes).withColumn("pr", col("base"))
      (1 to iters).foreach { _ =>
        val sums = ewd
          .join(ranks.select(col("id").as("src"), col("pr")), "src")
          .select(col("dst"), expr("pr div deg").as("c"))
          .groupBy("dst").agg(sum("c").as("insum"))
        // the next round reads `ranks` TWICE (mass send + teleport mix), so
        // lineage doubles per iteration; an eager localCheckpoint both
        // materializes the superstep (Pregel barrier) and TRUNCATES the
        // plan to depth 1 — caching alone dedups execution but leaves the
        // 2^iters plan tree (even its description string is exponential)
        ranks = ranks.select("id", "base")
          .join(sums, col("id") === col("dst"), "left")
          .select(col("id"), col("base"),
            (teleport + expr("(85L * coalesce(insum, 0L)) div 100L")).as("pr"))
          .transform(Lineage.cut(_, "GraphAnalytics.rankIteration.ranks"))
      }
      ranks
    } finally e.unpersist()
  }

  /** Rank rows of a [[pageRank]] result: (id, pr, rk) ordered by
    * descending rank, ties to the smaller id. The global window is the
    * presentation step — at corpus scale, select by a pr threshold from
    * a histogram sketch instead (q108 shape). */
  def ranked(pr: DataFrame): DataFrame =
    pr.select(col("id"), col("pr"),
      row_number().over(Window.orderBy(col("pr").desc, col("id")))
        .cast("int").as("rk"))

  /** Global triangle census of a directed edge list treated as an
    * UNDIRECTED graph: nodes, undirected edges, wedges (paths of length
    * 2) and triangles, plus the transitivity ratio `3·T / W` — the
    * standard structure audit of a kNN graph (a healthy near-neighbor
    * graph is highly transitive; a transitivity collapse means the
    * candidate generation is mixing unrelated cells).
    *
    * Shape: edges canonicalize to a < b and dedup (one shuffle); the
    * triangle join is the node-iterator algorithm — (a,b)⋈(b,c) then a
    * closing semi-equi-join on (a,c), all on the canonical ordering so
    * each triangle counts exactly ONCE. On a kNN graph the join fan-out
    * is bounded by the degree cap (≤ 2k), which is what makes this the
    * 100 TB-safe formulation (arbitrary graphs would first orient edges
    * by degree). Wedge terms `deg·(deg-1) div 2` are exact (the product
    * is even). Returns one row (n_nodes, n_edges, n_wedges,
    * n_triangles, transitivity). */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = canonical(edges, srcCol, dstCol)
      // referenced three times by the triangle join
      .transform(Lineage.cut(_, "GraphAnalytics.triangleStats.und"))
    val counts = und.agg(count(lit(1)).as("n_edges"))
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wedge = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).cast("long").as("n_wedges"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    wedge.crossJoin(broadcast(counts)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        ((lit(3L) * col("n_triangles")).cast("double") / col("n_wedges"))
          .as("transitivity"))
  }

  /** Hubness audit of a directed kNN graph (Radovanović et al. 2010):
    * the distribution of k-OCCURRENCE — how many other points' top-k
    * lists each node appears in (its in-degree; out-degree is fixed at
    * k). High-dimensional embedding spaces grow "hubs" that appear in
    * thousands of neighbor lists while antihubs appear in none; a
    * heavy-tailed k-occurrence histogram predicts degraded ANN recall
    * and is the standard trigger for dominant-direction removal
    * ([[Spectral.topComponent]]) or norm re-centering.
    *
    * `nodes` supplies the full population so zero-in-degree antihubs are
    * COUNTED, not silently absent (the q100/recallAtK lesson). Shape:
    * one in-degree aggregate over the edge list, a left join from the
    * node table, one |distinct degrees|-sized histogram aggregate —
    * map-side partials everywhere, nothing driver-side. Returns
    * (n_in, n_nodes) ordered by n_in. */
  def inDegreeHistogram(edges: DataFrame, dstCol: String,
                        nodes: DataFrame, nodeIdCol: String): DataFrame = {
    val indeg = edges.groupBy(col(dstCol).cast("long").as("_d"))
      .agg(count(lit(1)).as("_n_in"))
    nodes.select(col(nodeIdCol).cast("long").as("_id"))
      .join(indeg, col("_id") === col("_d"), "left")
      .select(coalesce(col("_n_in"), lit(0L)).as("n_in"))
      .groupBy("n_in").agg(count(lit(1)).as("n_nodes"))
  }

  /** Bounded synchronous k-core peel (Seidman 1983) of a directed edge
    * list treated as UNDIRECTED: each round computes degrees over the
    * surviving subgraph, drops nodes with degree < `k`, and drops their
    * incident edges. After enough rounds this is exactly the k-core (the
    * maximal subgraph of minimum degree ≥ k) — the graph-density
    * complement to component-based dedup clustering: dense cores of a
    * near-neighbor graph are template/boilerplate families even when no
    * single pair crosses a duplicate threshold. A round that removes
    * nothing is a fixpoint, so extra rounds are no-ops (idempotent) —
    * callers gate a FIXED `rounds` for replay determinism and pick it ≥
    * the expected peel depth.
    *
    * Shape: canonicalize+dedup is one shuffle, done ONCE; each round is
    * one degree aggregate plus two semi-joins of the edge list onto the
    * survivor set — all equi-joins with map-side partial counts, nothing
    * driver-side. Each round's edge set references the previous round's
    * THREE times (degree count + two semi-joins), so the lineage grows
    * 3^rounds — `localCheckpoint` (eager) truncates it to depth 1 per
    * round; without it even the plan-description STRING is exponential
    * (caching dedups execution but not the plan tree). Returns the
    * surviving nodes as (id, deg) with the degree measured in the LAST
    * round's subgraph. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    sized(edges) {
    var und = Lineage.cut(canonical(edges, srcCol, dstCol),
      "GraphAnalytics.kCorePeel.edges")
    var keep: DataFrame = null
    (1 to rounds).foreach { r =>
      val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      // materialized once, read by 2 joins + output
      keep = Lineage.cut(deg, "GraphAnalytics.kCorePeel.degrees")
        .filter(col("deg") >= k)
      // the final round's survivor set is the result — don't pay two
      // joins + a materialization for an edge set nobody reads
      if (r < rounds)
        und = und
          .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
          .transform(Lineage.cut(_, "GraphAnalytics.kCorePeel.round"))
    }
    keep.select(col("v").as("id"), col("deg"))
    }
  }

  /** Synchronous label propagation (Zhu & Ghahramani 2002 hard-label
    * variant): spread known labels from a seed subset along graph edges
    * by per-node majority vote — the semi-supervised way to extend a
    * small set of human quality/domain tags across a near-duplicate
    * graph. `labeled` nodes are CLAMPED (they never change); an
    * unlabeled node takes, each round, the most common label among its
    * in-neighbors' current labels (ties to the SMALLEST label value —
    * fully deterministic), or keeps NULL if no in-neighbor is labeled
    * yet.
    *
    * Each round is one equi-join of the label table onto the edges' src
    * plus one (dst, label) count aggregate and an argmax fold — integer
    * counts only, so an oracle replays every round exactly. Returns
    * (id, label, origin) where origin is 'seed', 'propagated', or
    * 'unlabeled'. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       labeled: DataFrame, labIdCol: String,
                       labCol: String, iters: Int = 2): DataFrame = {
    require(iters >= 1, "need iters >= 1")
    sized(edges) {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).cache()
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      val seeds = labeled.select(col(labIdCol).cast("long").as("id"),
        col(labCol).cast("int").as("_seed")).distinct()
      var labels = nodes.join(seeds, Seq("id"), "left")
        .select(col("id"), col("_seed"), col("_seed").as("label"))
        .transform(Lineage.cut(_, "GraphAnalytics.labelPropagation.seeded"))
      (1 to iters).foreach { _ =>
        val votes = e
          .join(labels.select(col("id").as("src"), col("label")), "src")
          .filter(col("label").isNotNull)
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("_n"))
          .groupBy(col("dst"))
          .agg(min_by(col("label"),
            struct((-col("_n")).as("n"), col("label").as("l"))).as("_vote"))
        // superstep barrier + lineage truncation — see [[rankIteration]]
        labels = labels.select("id", "_seed", "label")
          .join(votes, col("id") === col("dst"), "left")
          .select(col("id"), col("_seed"),
            coalesce(col("_seed"), col("_vote"), col("label")).as("label"))
          .transform(Lineage.cut(_, "GraphAnalytics.labelPropagation.round"))
      }
      labels.select(col("id"), col("label"),
        when(col("_seed").isNotNull, lit("seed"))
          .when(col("label").isNotNull, lit("propagated"))
          .otherwise(lit("unlabeled")).as("origin"))
    } finally e.unpersist()
    }
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003):
    * for non-adjacent node pairs of the undirected graph, the shared
    * neighbor count and Jaccard coefficient |N(a)∩N(b)| / |N(a)∪N(b)|,
    * top `topN` by (jaccard DESC, a, b) — the "these two SHOULD be
    * neighbors" readout used to densify a kNN graph before NN-descent.
    *
    * Scale shape: candidate pairs come from one self-join of the
    * neighbor list on the shared neighbor — cost Σ_v deg(v)², bounded on
    * a kNN graph (out-degree k; in-degree = hubness, audited by q194).
    * `maxDeg > 0` drops hub nodes from candidate GENERATION (standard
    * hub exclusion) so a celebrity node can't quadratically explode the
    * join at 100 TB; degrees for the Jaccard denominator keep the full
    * graph. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     topN: Int, maxDeg: Int = 0): DataFrame = {
    val und = edges.filter(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .distinct()
    val nbrs = und.select(col("a").as("v"), col("b").as("n"))
      .union(und.select(col("b").as("v"), col("a").as("n")))
    val deg = nbrs.groupBy("v").agg(count(lit(1)).as("deg"))
    // the self-join below fans out deg(n)² pairs per SHARED neighbor n,
    // so the hub cap excludes rows whose shared neighbor is a hub
    val gen = if (maxDeg > 0)
      nbrs.join(broadcast(deg.filter(col("deg") > maxDeg)
        .select(col("v").as("n"))), Seq("n"), "left_anti")
    else nbrs
    val cand = gen.select(col("v").as("x"), col("n"))
      .join(gen.select(col("v").as("y"), col("n")), "n")
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("n_common"))
      .join(und, col("x") === col("a") && col("y") === col("b"), "left_anti")
    cand
      .join(deg.select(col("v").as("x"), col("deg").as("_dx")), "x")
      .join(deg.select(col("v").as("y"), col("deg").as("_dy")), "y")
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("_dx") + col("_dy") - col("n_common")))
      .orderBy(col("jaccard").desc, col("x"), col("y")).limit(topN)
      .select(col("x").as("node_a"), col("y").as("node_b"),
        col("n_common"), col("jaccard"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): [[pageRank]]
    * over the word co-occurrence graph — distinct unordered word pairs
    * co-occurring within `coWindow` tokens anywhere in the corpus, both
    * directions — returning every vocabulary word with its fixed-point
    * rank and position. The corpus-heavy stages (position explode,
    * windowed pair self-join keyed by doc) are the familiar shuffle-by-doc
    * shapes; the PR iterations then run on the VOCABULARY graph, which is
    * bounded (so is the global `row_number` dictionary window — vocab,
    * never corpus). */
  def textRankKeywords(docs: DataFrame, idCol: String, textCol: String,
                       coWindow: Int = 2, iters: Int = 3): DataFrame = {
    val pos = docs.select(col(idCol).as("_doc"),
        posexplode(Retrieval.analyze(col(textCol))).as(Seq("p0", "term")))
      .select(col("_doc"), (col("p0") + 1).as("pos"), col("term"))
    // pairs within coWindow via LEADS on the one per-doc window — a
    // positional self-join with the range predicate degrades to a
    // per-doc cartesian (len² per doc; 3 s vs sub-second at sf0.1)
    val w = Window.partitionBy("_doc").orderBy("pos")
    // ALL coWindow leads ride ONE window pass (r12): the per-offset
    // union re-ran the posexplode + per-doc sort once per offset; the
    // exploded (term, lead_o) rows are the identical multiset
    val up = pos
      .withColumn("_nbrs",
        array((1 to coWindow).map(o => lead("term", o).over(w)): _*))
      .select(col("term"), explode(col("_nbrs")).as("nbr"))
      .filter(col("nbr").isNotNull && col("term") =!= col("nbr"))
      .select(least(col("term"), col("nbr")).as("w1"),
        greatest(col("term"), col("nbr")).as("w2"))
      .distinct()
      // vocabulary-bounded; feeds dict, edges AND the final term join —
      // materialize once so the corpus window never re-runs per branch
      .transform(Lineage.cut(_, "GraphAnalytics.textRankKeywords.pairs"))
    val dict = up.select(col("w1").as("term"))
      .union(up.select(col("w2").as("term"))).distinct()
      .withColumn("wid",
        row_number().over(Window.orderBy("term")).cast("long"))
    val edges = up
      .join(dict.select(col("term").as("w1"), col("wid").as("ida")), "w1")
      .join(dict.select(col("term").as("w2"), col("wid").as("idb")), "w2")
      .select(col("ida").as("src"), col("idb").as("dst"))
    val both = edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    ranked(pageRank(both, "src", "dst", iters))
      .join(dict.select(col("wid").as("id"), col("term")), "id")
      .select(col("term"), col("pr"), col("rk"))
  }

  /** Probability of reaching the absorbing `target` state within `rounds`
    * steps of the empirical Markov chain, by value iteration:
    * v₀(s) = [s = target]; v_{k+1}(s) = 1 if s = target else
    * Σ_t p(s,t)·v_k(t), p(s,t) = n(s,t)/Σ_t n(s,t).
    *
    * The chain's state space is the distinct event-type set — tiny by
    * construction once the corpus collapses to transition counts — so
    * every round is a join over a broadcast-scale frame; the corpus is
    * touched exactly once, upstream, to build `trans`. Each per-edge
    * contribution is one double division times the previous value
    * (identical expression tree both engines), and the per-state sum
    * accumulates in exact decimal, so every intermediate v_k is
    * bit-identical to the oracle's unrolled-CTE replay. States that
    * never occur as a `from` state keep v = v₀ (they cannot move). */
  def absorbingReach(trans: DataFrame, fromCol: String, toCol: String,
                     nCol: String, target: String, rounds: Int): DataFrame = {
    val m = transitions(trans, fromCol, toCol, nCol)
    valueIteration(m, states(m), target, rounds, 1.0)(identity)
      .select(col("s").as("state"), round(col("v"), 6).as("p_reach"))
  }

  /** Expected steps to reach `target` from each state under the
    * empirical transition matrix, truncated at a `rounds` horizon
    * (value iteration v ← 1 + Pv with v(target) = 0 — the fundamental-
    * matrix answer without a matrix inverse; states that cannot reach
    * the target within the horizon report the capped partial sum, which
    * is the honest finite-session read anyway). The "how far is this
    * user from converting" companion to [[absorbingReach]]'s "how
    * likely". Same per-round shape: one broadcast-sized join + fold. */
  def absorbingSteps(trans: DataFrame, fromCol: String, toCol: String,
                     nCol: String, target: String, rounds: Int): DataFrame = {
    val m = transitions(trans, fromCol, toCol, nCol)
    valueIteration(m, states(m), target, rounds, 0.0)(lit(1.0) + _)
      .select(col("s").as("state"), round(col("v"), 6).as("exp_steps"))
  }

  /** The empirical Markov chain of transition counts: (s, t, n, tot),
    * tot = Σ n over the row's `from` state. */
  private def transitions(trans: DataFrame, fromCol: String, toCol: String,
                          nCol: String): DataFrame =
    trans.select(col(fromCol).as("s"), col(toCol).as("t"),
        col(nCol).cast("long").as("n"))
      .withColumn("tot", sum("n").over(Window.partitionBy("s")))

  /** Every state of a [[transitions]] chain, as (s). */
  private def states(m: DataFrame): DataFrame =
    m.select(col("s")).union(m.select(col("t").as("s"))).distinct()

  /** `rounds` synchronous value-iteration rounds over the chain `m`:
    * v₀ = `targetV` at `target`, 0 elsewhere; each round
    * v(s) = `targetV` at `target`, else `next`(Σ_t p(s,t)·v(t)), where
    * the sum is 0 for a state with no outgoing transition. Each per-edge
    * term is one double division times v, accumulated in exact decimal,
    * so every round replays bit-for-bit. Returns (s, v). */
  private def valueIteration(m: DataFrame, states: DataFrame, target: String,
                             rounds: Int, targetV: Double)
                            (next: Column => Column): DataFrame = {
    var v = states.withColumn("v",
      when(col("s") === target, lit(targetV)).otherwise(lit(0.0)))
    for (_ <- 1 to rounds) {
      val folded = m
        .join(v.select(col("s").as("t"), col("v")), Seq("t"))
        .groupBy("s")
        .agg(sum(((col("n").cast("double") / col("tot")) * col("v"))
          .cast("decimal(27,15)")).cast("double").as("v_next"))
      v = states.join(folded, Seq("s"), "left")
        .withColumn("v", when(col("s") === target, lit(targetV))
          .otherwise(next(coalesce(col("v_next"), lit(0.0)))))
        .select("s", "v")
    }
    v
  }

  /** Mutual (reciprocated) edges of a directed graph: (a, b) with a < b
    * such that both a→b and b→a exist. On a kNN graph this is the
    * standard symmetrization for density clustering (HDBSCAN/SemDeDup):
    * a one-sided kNN edge often crosses a density gap; a MUTUAL edge is
    * evidence both endpoints sit in each other's local neighborhood.
    * One self-equi-join on the reversed edge set — shuffle keyed by the
    * edge pair, no expansion beyond the edge list. */
  def mutualEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    e.join(e.select(col("v").as("u"), col("u").as("v")),
        Seq("u", "v"), "left_semi")
      .filter(col("u") < col("v"))
      .select(col("u").as("a"), col("v").as("b"))
  }

  /** Local clustering coefficient per node of an UNDIRECTED graph given
    * as canonical (a < b) edges: coef = 2·triangles(v) / (d·(d−1)), the
    * "are my neighbors each other's neighbors" density that separates
    * tight near-dup cliques from hub-and-spoke topology in a kNN graph.
    * Triangles enumerate once in a < b < c orientation (two equi-joins +
    * one semi-join, the [[triangleStats]] shape) and credit all three
    * corners; nodes with degree < 2 report coefficient NULL. */
  def clusteringCoefficient(canonEdges: DataFrame, aCol: String,
                            bCol: String): DataFrame = {
    val mu = canonEdges.select(col(aCol).as("a"), col(bCol).as("b"))
    val deg = mu.select(col("a").as("u"))
      .unionByName(mu.select(col("b").as("u")))
      .groupBy("u").agg(count(lit(1)).as("degree"))
    val tris = mu.toDF("a", "b")
      .join(mu.toDF("b", "c"), Seq("b"))
      .join(mu.toDF("a", "c"), Seq("a", "c"), "left_semi")
    val triPerNode = tris.select(col("a").as("u"))
      .unionByName(tris.select(col("b").as("u")))
      .unionByName(tris.select(col("c").as("u")))
      .groupBy("u").agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("u"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coef", when(col("degree") >= 2,
        (lit(2L) * col("n_tri")).cast("double") /
          (col("degree") * (col("degree") - 1))))
      .select(col("u").as("id"), col("degree"), col("n_tri"), col("coef"))
  }

  /** Newman modularity of a node partition over an undirected graph
    * (canonical a < b edges): per community c, term_c = m_c/m −
    * (d_c/2m)², Q = Σ term_c — positive when communities hold more edge
    * mass than a degree-preserving random graph would give them. Here
    * it scores how well a partition (e.g. the IVF cell assignment)
    * captures the neighbor graph it is supposed to localize. Every node
    * of the graph must carry a community row. Edge-count aggregates
    * only; the per-community fold is bounded by the partition size. */
  def modularity(canonEdges: DataFrame, aCol: String, bCol: String,
                 communities: DataFrame, idCol: String,
                 commCol: String): DataFrame = {
    val mu = canonEdges.select(col(aCol).as("a"), col(bCol).as("b"))
    val cm = communities.select(col(idCol).as("u"), col(commCol).as("c"))
    val lab = mu
      .join(cm.toDF("a", "ca"), Seq("a"))
      .join(cm.toDF("b", "cb"), Seq("b"))
    val mTot = lab.agg(count(lit(1)).as("m"))
    val within = lab.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("m_within"))
    val ends = mu.select(col("a").as("u")).unionByName(mu.select(col("b").as("u")))
    val degC = ends.join(cm, Seq("u")).groupBy("c").agg(count(lit(1)).as("d_c"))
    val nodesC = ends.distinct().join(cm, Seq("u"))
      .groupBy("c").agg(count(lit(1)).as("n_nodes"))
    nodesC.join(degC, Seq("c"))
      .join(within, Seq("c"), "left")
      .crossJoin(broadcast(mTot))
      .withColumn("m_within", coalesce(col("m_within"), lit(0L)))
      .withColumn("term", col("m_within").cast("double") / col("m") -
        (col("d_c").cast("double") / (lit(2L) * col("m"))) *
        (col("d_c").cast("double") / (lit(2L) * col("m"))))
      .withColumn("q", sum(col("term").cast("decimal(38,18)"))
        .over(Window.partitionBy(lit(1))).cast("double"))
      .select(col("c"), col("n_nodes"), col("m_within"), col("d_c"),
        round(col("term"), 6).as("term"), round(col("q"), 6).as("q"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a directed/bipartite
    * edge set — the mutual-reinforcement complement of PageRank (q136):
    * a good hub points at good authorities and vice versa. `iters` full
    * update rounds, each an L2-normalized sweep:
    * `auth = Σ_in hub / ‖·‖₂`, then `hub = Σ_out auth / ‖·‖₂`.
    *
    * Replay-exactness: every Σ is a decimal(38,18) accumulate of the
    * incoming doubles (order-independent), the norm is sqrt of a decimal
    * sum of squares (sqrt is IEEE-exact), and each division is one
    * correctly-rounded double op — the PageRank discipline, so the
    * oracle replays every intermediate bit-for-bit. Scale shape per
    * round: two equi-join + hash-aggregate passes over the edge set plus
    * two one-row norm broadcasts; the raw authority and hub sums are
    * localCheckpoint'd every round, so lineage stays flat at any
    * `iters`.
    * Returns (kind 'hub'|'authority', id, score). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,18)")
    // the distinct edge set is referenced twice per round and by both
    // output branches — materialize it ONCE (and truncate each round's
    // score lineage) or the fact scan + distinct re-run per reference:
    // the pageRank/bradleyTerry localCheckpoint discipline
    sized(edges) {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
        .transform(Lineage.cut(_, "GraphAnalytics.hits.edges"))
    var hub: DataFrame = null
    var auth: DataFrame = null
    for (it <- 1 to iters) {
      // round 1's hub vector is identically 1.0 on every source, so the
      // join against it degenerates to the grouped decimal sum of 1.0
      // per dst — the exact form the oracle states (r12: drops the hub
      // init distinct and the first edge join; decimal adds identical)
      val araw = (if (it == 1)
          e.groupBy(col("dst").as("aid"))
            .agg(sum(d38(lit(1.0))).cast("double").as("a"))
        else
          e.join(hub, e("src") === hub("id"))
            .groupBy(col("dst").as("aid"))
            .agg(sum(d38(col("h"))).cast("double").as("a")))
        // read twice (norm + scale) per round
        .transform(Lineage.cut(_, "GraphAnalytics.hits.authority"))
      val anorm = araw.agg(
        sqrt(sum(d38(col("a") * col("a"))).cast("double")).as("nrm"))
      auth = araw.crossJoin(broadcast(anorm))
        .select(col("aid").as("id"), (col("a") / col("nrm")).as("a"))
      val hraw = e.join(auth, e("dst") === auth("id"))
        .groupBy(col("src").as("hid"))
        .agg(sum(d38(col("a"))).cast("double").as("h"))
        .transform(Lineage.cut(_, "GraphAnalytics.hits.hub"))
      val hnorm = hraw.agg(
        sqrt(sum(d38(col("h") * col("h"))).cast("double")).as("nrm"))
      hub = hraw.crossJoin(broadcast(hnorm))
        .select(col("hid").as("id"), (col("h") / col("nrm")).as("h"))
    }
    hub.select(lit("hub").as("kind"), col("id"), col("h").as("score"))
      .unionByName(auth.select(lit("authority").as("kind"), col("id"),
        col("a").as("score")))
    }
  }

  /** Single-source Brandes dependency (Brandes 2001 §4): the exact
    * contribution δ_s(v) of source `s` to every node's betweenness
    * centrality — forward BFS accumulating shortest-path COUNTS σ per
    * level, then the backward dependency recursion
    * δ(u) = Σ_{v ∈ succ(u)} σ(u)/σ(v) · (1 + δ(v)) level by level.
    * Sampled-pivot betweenness (Brandes & Pich 2007) is this operator
    * averaged over a handful of sources — one source keeps the oracle
    * replay bounded while exercising the full forward/backward
    * machinery; at scale you run K pivots and average.
    *
    * σ values are exact BIGINT path counts; each δ term is one double
    * division times (1 + δ) with per-level decimal accumulation, so
    * every level replays bit-for-bit. Per level: one edge join + one
    * aggregate, localCheckpoint'd (Pregel discipline). Returns the
    * `topK` nodes by δ (ties → smaller id) with dist/σ. */
  def brandesDependency(edges: DataFrame, srcCol: String, dstCol: String,
                        sourceId: Long, maxDepth: Int,
                        topK: Int): DataFrame = sized(edges) {
    val und = undirected(edges, srcCol, dstCol)
    brandesFrom(und, sourceId, maxDepth)
      .withColumn("_rk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("delta").desc, col("node"))))
      .filter(col("_rk") <= topK)
      .select(col("_rk").as("rank"), col("node"), col("dist"),
        col("sigma"), round(col("delta"), 6).as("delta"))
      .orderBy("rank")
  }

  /** Sampled-pivot betweenness (Brandes & Pich 2007): average the
    * single-source dependencies over a pivot set — the practical
    * betweenness estimator at scale (exact betweenness is all-sources;
    * K pivots is the standard unbiased sample). Nodes a pivot never
    * reaches contribute 0 for that pivot; the average divides by the
    * FIXED pivot count. Returns the topK nodes by mean dependency. */
  def sampledBetweenness(edges: DataFrame, srcCol: String, dstCol: String,
                         sources: Seq[Long], maxDepth: Int,
                         topK: Int): DataFrame = sized(edges) {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val und = undirected(edges, srcCol, dstCol)
    // ALL pivots ride one columnar pass (src keys every frontier/level
    // frame): 2·maxDepth rounds total instead of 2·maxDepth·|pivots| —
    // the landmark-batching form that makes K=64 pivots at 100 TB cost
    // the same round count as K=1
    val all = brandesFromAll(und, sources, maxDepth)
      .select(col("node"), col("delta"))
    all.groupBy("node")
      .agg(count(lit(1)).as("n_sources_reached"),
        (sum(d18(col("delta"))).cast("double") / sources.size)
          .as("mean_delta"))
      .withColumn("_rk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("mean_delta").desc, col("node"))))
      .filter(col("_rk") <= topK)
      .select(col("_rk").as("rank"), col("node"),
        col("n_sources_reached"), round(col("mean_delta"), 6)
          .as("mean_delta"))
      .orderBy("rank")
  }

  /** Forward-σ / backward-δ pass from one source over a symmetrized,
    * checkpointed edge list — shared by [[brandesDependency]] and
    * [[sampledBetweenness]]. Returns (node, dist, sigma, delta) for
    * every reached node. */
  private def brandesFrom(und: DataFrame, sourceId: Long,
                          maxDepth: Int): DataFrame =
    brandesFromAll(und, Seq(sourceId), maxDepth).drop("src")

  /** [[brandesFrom]] for a WHOLE pivot set in one columnar pass: every
    * frontier/level frame carries a `src` key, so the K sources share
    * each round's joins instead of multiplying the round count — the
    * per-source arithmetic (σ sums, δ decimal accumulation, level
    * structure) is IDENTICAL to running K independent passes (frames
    * partition by src by construction: a (src, node) row never mixes
    * with another source's rows). The forward pass is a [[closure]]
    * from the pivots, so it stops at the first empty level; the
    * backward pass starts from the deepest non-empty level (a deeper,
    * empty level would only contribute δ = 0). Returns (src, node,
    * dist, sigma, delta) for every (pivot, reached node) pair. */
  private def brandesFromAll(und: DataFrame, sources: Seq[Long],
                             maxDepth: Int): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val spark = und.sparkSession
    import spark.implicits._
    // forward: levels with path counts, keyed by (src, node). The
    // closure hands back each level's checkpointed frame, so the
    // backward pass reads level h directly instead of filtering a
    // consolidated info frame three times per level
    val level0 = und.select(col("a").as("node")).distinct()
      .join(sources.toDF("src"), col("node") === col("src"))
      .select(col("src"), col("node"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .transform(Lineage.cut(_, "GraphAnalytics.brandesFromAll.level0"))
    val (levels, _) = closure(level0, Seq("src", "node"), maxDepth) {
      (frontier, h) => frontier
        .join(und, frontier("node") === und("a"))
        .groupBy(col("src"), col("b").as("node"))
        .agg(sum("sigma").as("sigma"))
        .select(col("src"), col("node"), lit(h).as("dist"), col("sigma"))
    }
    // backward: dependencies level by level, still keyed by src. delta
    // carries (dist, sigma) through, so no per-level "re-attach sigma"
    // join onto the reached set and no final reached⋈acc join — acc IS
    // the (src, node, dist, sigma, delta) result (each reached node has
    // exactly one dist, so the level frames partition the reached set)
    val deepest = levels.size - 1
    var delta = levels(deepest)
      .select(col("src"), col("node"), col("dist"), col("sigma"),
        lit(0.0).as("delta"))
    var acc = delta
    for (h <- (deepest - 1) to 0 by -1) {
      val upper = delta.select(col("src"), col("node").as("b"),
        col("sigma").as("sv"), col("delta").as("dv"))
      val lvlNodes = levels(h)
      val lvl = lvlNodes
        .join(und, lvlNodes("node") === und("a"))
        .join(upper, Seq("src", "b"))
        .groupBy(col("src"), col("node"))
        .agg(sum(d18((col("sigma").cast("double") / col("sv")) *
          (lit(1.0) + col("dv")))).cast("double").as("delta"))
      val lvlFull = lvlNodes
        .join(lvl, Seq("src", "node"), "left")
        .select(col("src"), col("node"), col("dist"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .transform(Lineage.cut(_, "GraphAnalytics.brandesFromAll.level"))
      delta = lvlFull
      acc = acc.union(lvlFull) // leaves checkpointed; read once at the end
    }
    acc
  }

  /** 1-dimensional Weisfeiler–Lehman color refinement (Weisfeiler &
    * Lehman 1968; the node-fingerprint behind WL graph kernels and the
    * GIN expressiveness bound): colors start as degrees, and each round
    * re-colors every node with a hash of (own color, SORTED multiset of
    * neighbor colors). The color-class CURVE per round (distinct
    * colors, largest class, singleton count) is the structural-
    * diversity readout — stabilized classes = the graph's automorphism-
    * ish partition, and two graphs with different curves are certainly
    * non-isomorphic. The hash is the repo's SQL-replayable polynomial
    * fold `acc·B1 + c mod p` over [own ++ sorted(neighbors)] — a
    * SCALAR left fold (safe in DuckDB's list_reduce, unlike struct
    * state; the fold's first step 0·B1+own equals DuckDB's
    * first-element init by construction).
    *
    * Scale shape: per round one join of the edge list against the
    * color table + one sorted-collect per node (neighbor lists are
    * k-bounded on a kNN graph); edge set and per-round colors
    * localCheckpoint (Pregel lineage discipline). */
  def wlRefinement(edges: DataFrame, srcCol: String, dstCol: String,
                   rounds: Int): DataFrame = {
    val p = 2147483647L
    val b1 = graft.plans.HashExpressions.PolyBase1
    sized(edges) {
    val und = undirected(edges, srcCol, dstCol)
    var colors = und.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("color"))
      .transform(Lineage.cut(_, "GraphAnalytics.wlRefinement.colors0"))
    def summary(r: Int, c: DataFrame): DataFrame =
      c.groupBy("color").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_colors"), max("n").as("largest_class"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("singletons"))
        .select(lit(r).as("round"), col("n_colors"),
          col("largest_class"), col("singletons"))
    var out = summary(0, colors)
    for (r <- 1 to rounds) {
      val nbr = und
        .join(colors.select(col("id").as("b"), col("color").as("nc")),
          Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(sort_array(collect_list(col("nc"))).as("ns"))
      colors = nbr.join(colors, Seq("id"))
        .select(col("id"),
          aggregate(concat(array(col("color")), col("ns")), lit(0L),
            (acc, x) => (acc * b1 + x) % p).as("color"))
        .transform(Lineage.cut(_, "GraphAnalytics.wlRefinement.round"))
      out = out.unionByName(summary(r, colors))
    }
    out.orderBy("round")
    }
  }

  /** Double-BFS eccentricity sweep (the classic diameter lower-bound
    * heuristic — Magnien, Latapy & Habib 2009): BFS from `startId` on
    * the UNDIRECTED graph, jump to the farthest node reached (ties →
    * smallest id), BFS again — sweep 2's eccentricity is a certified
    * diameter LOWER bound and in practice usually the diameter. Both
    * BFS runs are capped at `maxHops` (the honest bounded read on a
    * graph whose diameter might exceed the horizon). Returns one row
    * per sweep: source, farthest, ecc, n_reached.
    *
    * Scale shape: two frontier-expansion [[bfs]] runs; nothing
    * exponential (the oracle's bounded-walk UNION recursion dedups
    * (node, depth) pairs, so it is n·maxHops rows, and min-depth == BFS
    * distance). */
  def eccentricitySweep(edges: DataFrame, srcCol: String, dstCol: String,
                        startId: Long, maxHops: Int): DataFrame = sized(edges) {
    val und = undirected(edges, srcCol, dstCol)
    // `source` is evaluated inside the aggregate: sweep 1 names startId
    // even when it is not in the graph; sweep 2's source is its seed,
    // the one d = 0 row, so sweep 1's farthest is never collected or
    // broadcast
    def summarize(dist: DataFrame, sweep: Int, source: Column): DataFrame =
      dist.agg(count(lit(1)).as("n_reached"), max("d").as("ecc"),
        max(struct(col("d").as("d"), (-col("node")).as("nn"))).as("_f"),
        source.as("source"))
        .select(lit(sweep).as("sweep"), col("source"),
          (-col("_f").getField("nn")).as("farthest"), col("ecc"),
          col("n_reached"))
    val d1 = bfs(und, und.select(col("a").as("node"))
      .filter(col("node") === startId).distinct(), maxHops)
    val s1 = Lineage.cut(summarize(d1, 1, lit(startId)),
      "GraphAnalytics.eccentricitySweep.sweep1")
    val d2 = bfs(und, s1.select(col("farthest").as("node")), maxHops)
    s1.unionByName(summarize(d2, 2, max(when(col("d") === 0, col("node")))))
      .orderBy("sweep")
  }

  /** Markov-chain removal-effect attribution (Anderl et al. 2016 — the
    * `ChannelAttribution` model): each channel's credit for conversion
    * is how much the chain's conversion probability DROPS when that
    * channel's state is deleted (its in/out transitions removed; a
    * journey through it dies). Baseline and per-channel conversion are
    * Σ_s π₀(s)·v(s) over the first-touch distribution π₀, with v from
    * [[absorbingReach]]'s truncated value iteration; a first-touch
    * state missing from the (filtered) chain contributes v = 0 (v = 1
    * for the target itself). `removal_effect = 1 − p_without/p_base`
    * (clamped at 0 — horizon truncation can leave ε noise) and
    * `attr_share` normalizes effects over the channel set.
    *
    * Scale shape: the corpus collapses ONCE to transition counts and
    * first-touch counts upstream; each of the |channels|+1 value
    * iterations runs on the tiny state space. */
  def removalAttribution(trans: DataFrame, firsts: DataFrame,
                         fromCol: String, toCol: String, nCol: String,
                         firstTypeCol: String, firstNCol: String,
                         target: String, rounds: Int,
                         channels: Seq[String]): DataFrame = {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    // CRUCIAL removal semantics: edges through the removed channel
    // disappear but every surviving transition keeps its ORIGINAL
    // probability n/tot — the lost mass is exactly the point (a
    // renormalized chain would route journeys around the channel for
    // free and report near-zero effects). Hence tot is frozen on the
    // UNFILTERED chain: each channel filters m0 after `transitions`
    // computed it, and every chain iterates over the full state set.
    val m0 = Lineage.cut(transitions(trans, fromCol, toCol, nCol),
      "GraphAnalytics.removalAttribution.transitions")
    val st = Lineage.cut(states(m0), "GraphAnalytics.removalAttribution.states")
    def reach(m: DataFrame): DataFrame =
      valueIteration(m, st, target, rounds, 1.0)(identity)
        .select(col("s").as("state"), round(col("v"), 6).as("p_reach"))
    def conv(m: DataFrame): DataFrame =
      firsts.select(col(firstTypeCol).as("ftype"),
          col(firstNCol).cast("long").as("fn"))
        .join(reach(m).select(col("state").as("ftype"), col("p_reach")),
          Seq("ftype"), "left")
        .agg((sum(d18(col("fn") * coalesce(col("p_reach"),
            when(col("ftype") === target, 1.0).otherwise(0.0))))
          .cast("double") / sum("fn")).as("p"))
    val base = conv(m0).select(col("p").as("p_base"))
    val rows = channels.map { c =>
      conv(m0.filter(col("s") =!= c && col("t") =!= c))
        .select(lit(c).as("channel"), col("p").as("p_without"))
    }.reduce(_ unionByName _)
    val wAll = Window.partitionBy(lit(1))
    rows.crossJoin(broadcast(base))
      .withColumn("effect", when(col("p_base") > 0,
        greatest(lit(0.0), lit(1.0) - col("p_without") / col("p_base"))))
      .withColumn("_tot", sum(d18(col("effect"))).over(wAll).cast("double"))
      .select(col("channel"), round(col("p_base"), 6).as("p_base"),
        round(col("p_without"), 6).as("p_without"),
        round(col("effect"), 6).as("removal_effect"),
        round(when(col("_tot") > 0, col("effect") / col("_tot")), 6)
          .as("attr_share"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive means
    * hubs attach to hubs (social-graph shape), negative means hub-spoke
    * (kNN graphs are typically disassortative: everyone's neighbor list
    * fills with a few central prototypes). Completes the global-shape
    * trio with modularity and clustering coefficient.
    *
    * Exactness: degrees are exact ints; the correlation uses the q111
    * decimal-moment tree (one double expression at the end). Two
    * shuffles: degree aggregate + the two hash joins back onto the
    * symmetrized edges. */
  def assortativity(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val d24 = (c: Column) => c.cast("decimal(24,6)")
    val und = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
    val deg = und.groupBy("a").agg(count(lit(1)).as("d"))
    und
      .join(deg.select(col("a"), col("d").as("dx")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("d").as("dy")), Seq("b"))
      .agg(count(lit(1)).as("n_edges"),
        countDistinct("a").as("n_nodes"),
        sum(d24(col("dx"))).cast("double").as("sx"),
        sum(d24(col("dy"))).cast("double").as("sy"),
        sum(d24(col("dx") * col("dx"))).cast("double").as("sxx"),
        sum(d24(col("dy") * col("dy"))).cast("double").as("syy"),
        sum(d24(col("dx") * col("dy"))).cast("double").as("sxy"))
      .select(col("n_nodes"), col("n_edges"),
        round((col("n_edges") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n_edges") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n_edges") * col("syy") - col("sy") * col("sy"))),
          12).as("assortativity"))
  }

  /** Exact harmonic + closeness centrality of a FIXED pivot set: one
    * bounded BFS per pivot on the undirected graph, then
    * H(p) = Σ_{d(p,u)>0} 1/d(p,u) (decimal-accumulated — order-free)
    * and closeness = n_reached / Σd (the within-component Wasserman–
    * Faust form). The honest per-node centrality at scale: all-pairs is
    * off the table at 100 TB, but a handful of exact pivot rows (hubs,
    * suspected outliers, random probes) reads connectivity the degree
    * distribution can't. One source-keyed [[bfs]] carries every pivot:
    * ≤ maxHops joins of a shrinking frontier in all. */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: Seq[Long], maxHops: Int): DataFrame = sized(edges) {
    val d18 = (c: Column) => c.cast("decimal(38,18)")
    val und = undirected(edges, srcCol, dstCol)
    // all seeds ride one source-keyed BFS (the q428 landmark-batching
    // form): maxHops rounds total instead of maxHops·|seeds|
    val spark = edges.sparkSession
    import spark.implicits._
    bfs(und, und.select(col("a").as("node")).distinct()
        .join(seeds.toDF("source"), col("node") === col("source"))
        .select(col("source"), col("node")), maxHops)
      .filter(col("d") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_reached"), max("d").as("ecc"),
        sum(col("d").cast("long")).as("sum_d"),
        sum(d18(lit(1.0) / col("d"))).cast("double").as("h"))
      .select(col("source"), col("n_reached"), col("ecc"),
        round(col("h"), 6).as("harmonic"),
        when(col("sum_d") > 0, round(
          col("n_reached").cast("double") / col("sum_d"), 6))
          .as("closeness"))
      .orderBy("source")
  }

  /** Single-source shortest paths with nonnegative INTEGER edge weights
    * by `rounds` synchronous Bellman-Ford relaxations (Bellman 1958).
    * Dijkstra's priority queue is inherently sequential; the
    * round-synchronous relax is the Pregel form — one join + one
    * min-aggregate (2 shuffles) per round, `rounds` bounds the hop
    * length of any improving path exactly like the BFS oracles' bounded
    * walks. Distances are exact BIGINTs, so the replay is
    * engine-independent (no float path-sum ordering hazards).
    * `localCheckpoint` truncates the per-round lineage doubling (the
    * q136 PageRank lesson). Returns (node, min_cost) for every node
    * reachable within `rounds` hops of `sourceId`. */
  def bellmanFord(edges: DataFrame, srcCol: String, dstCol: String,
                  wCol: String, sourceId: Long, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    sized(edges) {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(wCol).cast("long").as("w")).cache()
    try {
      var dist = spark.range(1).select(lit(sourceId).as("node"),
        lit(0L).as("cost"))
      // delta frontier: relax only out of nodes whose distance improved
      // last round — a settled node's edges were already relaxed the
      // round it last improved, so re-relaxing them cannot lower any
      // neighbor below the min-merge result. Round-k dists are identical
      // to the full-frontier form (dist_k(v) = min cost over ≤k-edge
      // paths), but dense graphs stop re-relaxing every settled edge
      // every round.
      var frontier = dist
      for (_ <- 1 to rounds) {
        val relaxed = frontier.join(e, frontier("node") === e("src"))
          .select(col("dst").as("node"),
            (col("cost") + col("w")).as("cost"))
          .groupBy("node").agg(min("cost").as("cost"))
        val improved = relaxed
          .join(dist.select(col("node"), col("cost").as("_old")),
            Seq("node"), "left")
          .filter(col("_old").isNull || col("cost") < col("_old"))
          .select("node", "cost")
          .transform(Lineage.cut(_, "GraphAnalytics.bellmanFord.improved"))
        dist = dist.union(improved).groupBy("node")
          .agg(min("cost").as("cost"))
          .transform(Lineage.cut(_, "GraphAnalytics.bellmanFord.dist"))
        frontier = improved
      }
      dist.select(col("node"), col("cost").as("min_cost"))
    } finally e.unpersist()
    }
  }

  /** The one semi-naive frontier loop: from `seed`, each step `expand`s
    * the last delta (the step number is its second argument),
    * anti-joins it against everything reached on `keys` and
    * [[Lineage.counted]]-checkpoints it; the first empty delta is the
    * fixpoint.
    * Runs at most `maxSteps` steps. Returns the levels — `seed` then
    * every non-empty delta, in step order — and whether it settled;
    * callers that must not truncate (`sccLabels`, FwBw) `require` it.
    *
    * The reached set stays a UNION TREE of checkpointed deltas, never
    * re-materialized per step (that would rewrite O(reached) rows every
    * step): plan width grows one LogicalRDD per step, bounded by
    * `maxSteps`, and the default-constant leaf stats SUM across a union
    * (the squaring hazard needs self-composition). Measured, do not
    * redo: folding the fixpoint probe into a manual Row-rdd
    * persist+count saved one tiny job per step but paid Row↔InternalRow
    * conversion on every later step's scan of the delta blocks — net
    * SLOWER than localCheckpoint + isEmpty. The observed count of
    * [[Lineage.counted]] saves the same job without that round trip: the
    * delta is still the checkpoint's own block. */
  private def closure(seed: DataFrame, keys: Seq[String], maxSteps: Int)
                     (expand: (DataFrame, Int) => DataFrame)
      : (IndexedSeq[DataFrame], Boolean) = {
    val levels = scala.collection.mutable.ArrayBuffer(seed)
    var reached = seed
    var settled = false
    while (!settled && levels.size <= maxSteps) {
      val (delta, n) = Lineage.counted(
        expand(levels.last, levels.size).join(reached, keys, "left_anti"),
        "GraphAnalytics.closure.delta")
      if (n == 0) settled = true
      else { levels += delta; reached = reached.unionByName(delta) }
    }
    (levels.toIndexedSeq, settled)
  }

  /** Borůvka minimum spanning tree — the MST algorithm that is actually
    * distributed (Kruskal/Prim are sequential folds): each round, every
    * component selects its minimum-weight outgoing edge under the total
    * order (w, lo, hi) (the lexicographic tie-break makes the
    * edge-selection deterministic and the algorithm correct even with
    * duplicate weights — equivalent to perturbing into distinct
    * weights), selected edges join the tree by the cut property, and
    * the pointer graph they induce (each component → its min-edge
    * partner, every merge-tree containing exactly one mutual 2-cycle,
    * rooted at its smaller id) is contracted by pointer doubling run to
    * FIXPOINT — extra doubling steps past the fixpoint are identity, so
    * an adaptive step count here and a fixed unroll in the SQL replay
    * land on the identical root map; the same argument makes trailing
    * empty rounds no-ops. Components at least halve per round:
    * ⌈log₂ n⌉ rounds suffice; non-convergence within the caps RAISES,
    * a silent partial tree cannot escape. Returns the tree edges
    * (round, lo, hi, w) — a minimum spanning FOREST when the input is
    * disconnected (each component spans itself and stops).
    * MST = single-linkage dendrogram: cutting the output at weight θ
    * gives exactly the θ-threshold single-linkage clusters — the
    * scale path to hierarchical dedup clustering over near-dup edge
    * sets ([[graft.operators.Dedup.dedupClusters]] gives the flat cut).
    *
    * Scale shape: per round, one join of edges against the node→label
    * map, one map-side-combinable argmin per component, then the
    * CONTRACTION, which is dual-path exactly like
    * [[graft.operators.Dedup.dedupClusters]]: the per-round pointer
    * frame has one row per component, so while components ≤
    * `maxDriverComponents` (default 4M) the chase runs as a driver
    * union-find over one collect — replicating the distributed form's
    * two steps verbatim (2-cycle break at the smaller id, fixpoint
    * chase) — and above the threshold it runs as `maxJumps` pointer-
    * doubling self-joins of the (halving) pointer frame. Components at
    * least halve per round, so even a corpus-scale round 1 drops under
    * the driver threshold within a few rounds. The edge frame is
    * touched once per round, labels checkpoint-truncated with stats
    * dropped. No structure ever exceeds edges + nodes. */
  def boruvkaMst(edges: DataFrame, srcCol: String, dstCol: String,
                 wCol: String, maxRounds: Int = 24,
                 maxJumps: Int = 24,
                 maxDriverComponents: Long = 4000000L): DataFrame = {
    val spark = edges.sparkSession
    sized(edges) {
    val e = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"),
        col(wCol).cast("double").as("w"))
      .filter(col("lo") =!= col("hi"))
      .groupBy("lo", "hi").agg(min("w").as("w"))
      .transform(Lineage.cut(_, "GraphAnalytics.boruvkaMst.edges",
        dropStats = true))
    // component count only gates the contraction path (the dual-path
    // switch of Dedup.dedupClusters); it shrinks by the merge count
    // each round, so the first labels checkpoint's count tracks it
    // exactly thereafter
    var (labels, nComponents) = Lineage.counted(e.select(col("lo").as("v"))
      .unionByName(e.select(col("hi").as("v"))).distinct()
      .select(col("v"), col("v").as("lab")),
      "GraphAnalytics.boruvkaMst.labels0")
    var mst: DataFrame = null
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      r += 1
      val ce = e
        .join(labels.select(col("v").as("lo"), col("lab").as("cl")),
          Seq("lo"))
        .join(labels.select(col("v").as("hi"), col("lab").as("ch")),
          Seq("hi"))
        .filter(col("cl") =!= col("ch"))
      val inc = ce.select(col("cl").as("c"), col("ch").as("o"),
          col("w"), col("lo"), col("hi"))
        .unionByName(ce.select(col("ch").as("c"), col("cl").as("o"),
          col("w"), col("lo"), col("hi")))
      val wSel = Window.partitionBy("c")
        .orderBy(col("w"), col("lo"), col("hi"))
      val (sel, nSel) = Lineage.counted(
        inc.withColumn("rn", row_number().over(wSel))
          .filter(col("rn") === 1).select("c", "o", "w", "lo", "hi"),
        "GraphAnalytics.boruvkaMst.selected")
      if (nComponents <= maxDriverComponents) {
        // DRIVER contraction: sel has one row per component with an
        // outgoing edge (≤ nComponents, gated), and the pointer chase
        // below replicates the distributed path's two steps EXACTLY —
        // break each merge-tree's unique mutual 2-cycle at its smaller
        // id, then follow pointers to the fixpoint (memoized; doubling
        // computes the same fixpoint in log steps). One collect per
        // round replaces ~2·maxJumps tiny distributed actions.
        val selRows = sel.select("c", "o").collect()
          .map(row => row.getLong(0) -> row.getLong(1))
        if (selRows.isEmpty) converged = true
        else {
          val selMap = selRows.toMap
          def broken(x: Long): Long = {
            val p = selMap.getOrElse(x, x)
            if (selMap.getOrElse(p, p) == x) math.min(x, p) else p
          }
          val memo = scala.collection.mutable.Map.empty[Long, Long]
          def root(x: Long): Long = {
            var path = List.empty[Long]
            var cur = x
            while (!memo.contains(cur) && broken(cur) != cur) {
              path ::= cur; cur = broken(cur)
            }
            val rt = memo.getOrElse(cur, cur)
            path.foreach(memo(_) = rt)
            rt
          }
          val rootRows = selRows.map { case (c, _) => (c, root(c)) }
          nComponents -= rootRows.length - rootRows.map(_._2).distinct.length
          val newEdges = sel
            .select(lit(r).as("round"), col("lo"), col("hi"), col("w"))
            .distinct()
          mst = (if (mst == null) newEdges else mst.unionByName(newEdges))
            .transform(Lineage.cut(_, "GraphAnalytics.boruvkaMst.unionFindMst",
              dropStats = true))
          import scala.jdk.CollectionConverters._
          val rootDf = spark.createDataFrame(
            rootRows.toSeq.map(t => org.apache.spark.sql.Row(t._1, t._2))
              .asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("lab",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("root",
                org.apache.spark.sql.types.LongType))))
          labels = labels
            .join(broadcast(rootDf), Seq("lab"), "left")
            .select(col("v"),
              coalesce(col("root"), col("lab")).as("lab"))
            .transform(Lineage.cut(_, "GraphAnalytics.boruvkaMst.unionFindLabels",
              dropStats = true))
        }
      } else if (nSel == 0) converged = true // no inter-component edge
      else {
        val newEdges = sel
          .select(lit(r).as("round"), col("lo"), col("hi"), col("w"))
          .distinct()
        mst = (if (mst == null) newEdges else mst.unionByName(newEdges))
          .transform(Lineage.cut(_, "GraphAnalytics.boruvkaMst.mst",
            dropStats = true))
        val p0 = labels.select(col("lab")).distinct()
          .join(sel.select(col("c").as("lab"), col("o")),
            Seq("lab"), "left")
          .select(col("lab").as("c"),
            coalesce(col("o"), col("lab")).as("p"))
        // root each merge-tree's unique 2-cycle at its smaller id, then
        // pointer-double to the fixpoint (each step MUST checkpoint AND
        // drop stats — the self-join references p twice, and both an
        // untruncated plan and an inherited size estimate double per
        // step: the q522 plan-reuse explosion and its stats twin).
        // Merges performed = components whose root is not themselves.
        // The only cycles were the mutual 2-cycles broken here, so a
        // component is a root iff it now points at itself: this
        // checkpoint counts the merges
        val (broken, merged) = Lineage.counted(p0.as("a")
          .join(p0.select(col("c").as("pc"), col("p").as("pp")),
            col("a.p") === col("pc"))
          .select(col("a.c").as("c"),
            when(col("pp") === col("a.c"), least(col("a.c"), col("a.p")))
              .otherwise(col("a.p")).as("p")),
          "GraphAnalytics.boruvkaMst.broken", col("p") =!= col("c"))
        var p = broken
        var settled = false
        var j = 0
        while (!settled && j < maxJumps) {
          j += 1
          // x.p is c's pointer before this step: the step settles when
          // no pointer moved
          val (p2, moved) = Lineage.counted(p.as("x")
            .join(p.select(col("c").as("yc"), col("p").as("yp")),
              col("x.p") === col("yc"))
            .select(col("x.c").as("c"), col("yp").as("p"),
              col("x.p").as("_old")), "GraphAnalytics.boruvkaMst.jump",
            col("p") =!= col("_old"))
          settled = moved == 0
          p = p2
        }
        require(settled,
          s"boruvkaMst: pointer doubling not settled in $maxJumps steps")
        nComponents -= merged
        labels = labels
          .join(p.select(col("c").as("lab"), col("p")), Seq("lab"))
          .select(col("v"), col("p").as("lab"))
          .transform(Lineage.cut(_, "GraphAnalytics.boruvkaMst.labels",
            dropStats = true))
      }
    }
    require(converged,
      s"boruvkaMst: inter-component edges remain after $maxRounds rounds")
    if (mst == null) // already-spanning input: nothing to select
      e.select(lit(1).as("round"), col("lo"), col("hi"), col("w")).limit(0)
    else mst.orderBy("w", "lo", "hi")
    }
  }

  /** Strongly connected components by DEFINITION on a bounded directed
    * graph: semi-naive transitive closure (frontier ⋈ edges, minus
    * known, until the delta empties — asserted, never silently
    * truncated), mutual-reach pairs from closure ∩ its transpose, and
    * scc(v) = min(v, min{u : u ↔ v}). Returns one row per node
    * (node, scc, scc_size) — the label that, unlike the undirected
    * [[graft.operators.Dedup.unionFindLabels]], respects edge
    * DIRECTION: a citation/dependency cycle is one component, a mere
    * shared ancestor is not.
    *
    * Scale shape: closure is O(n·reach) rows — this is the
    * CONTRACTED-graph instrument (run it on the component/summary graph
    * after an undirected contraction, dependency graphs, state
    * machines: thousands of nodes, not corpus scale), exactly as the
    * exact-PPJoin ground truth (q142) is the bounded twin of the LSH
    * path. The per-iteration work is one frontier join + one anti-join,
    * both checkpoint-truncated with stats dropped. */
  def sccLabels(edges: DataFrame, srcCol: String, dstCol: String,
                maxIters: Int): DataFrame = {
    val e = Lineage.cut(directed(edges, srcCol, dstCol),
      "GraphAnalytics.sccLabels.edges")
    // SEMI-NAIVE closure: frontier ∘ base-edges, minus known. The
    // path-doubling alternative (R ← R ∪ R∘R, ⌈log₂ d⌉ rounds) was
    // MEASURED 6× SLOWER here (30.5 s vs 5.0 s steady at sf0.1, do not
    // redo): on a dense contracted graph the closure's self-compose
    // multiplies in/out degrees of every mid node — ~10⁸ intermediate
    // rows per round against the frontier form's |frontier|·outdeg.
    // Fewer barriers only wins when the per-round work stays bounded.
    val (levels, settled) = closure(e, Seq("src", "dst"), maxIters) {
      (frontier, _) =>
        frontier.select(col("src"), col("dst").as("mid"))
          .join(e.select(col("src").as("mid"), col("dst")), Seq("mid"))
          .select("src", "dst").filter(col("src") =!= col("dst"))
          .distinct()
    }
    require(settled, s"sccLabels: closure not settled within $maxIters steps")
    val reach = levels.reduce(_ unionByName _)
    val mutual = reach.as("a")
      .join(reach.select(col("src").as("dst"), col("dst").as("src")),
        Seq("src", "dst"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    val scc = nodes
      .join(mutual.select(col("src").as("node"), col("dst").as("u")),
        Seq("node"), "left")
      .groupBy("node").agg(min("u").as("_mu"))
      .select(col("node"),
        least(col("node"), coalesce(col("_mu"), col("node"))).as("scc"))
    val sizes = scc.groupBy("scc").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, Seq("scc")).select("node", "scc", "scc_size")
  }

  /** Round/depth telemetry collector for ONE [[sccLabelsFwBw]] call: the
    * caller passes an instance and reads back that call's own counts — a
    * probe instrument (ScaleProbe prints it to show rounds stay flat
    * under disjoint replication), not part of the result. Per-call
    * rather than JVM-global so concurrent or interleaved calls cannot
    * clobber each other's telemetry (the r9 design was a process-wide
    * last-write-wins register that specs read after the fact). */
  final class FwBwStats {
    val lastRounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val lastBfsSteps = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  /** Strongly connected components at SCALE: forward–backward pivot
    * decomposition with trimming — the directed twin of the q311
    * distributed WCC, closing the gap [[sccLabels]] (definition-exact
    * but O(reachable pairs)) leaves for UNCONTRACTED graphs. Per round,
    * every active partition IN PARALLEL: (1) TRIM to fixpoint — a node
    * with no in-edge or no out-edge inside its partition can sit on no
    * cycle, so it is its own SCC (removals cascade); (2) pick the
    * partition's min node as PIVOT; (3) two BFS closures from the pivot
    * over the partition-restricted edges — forward along edges, backward
    * along reversed edges; (4) FW ∩ BW is exactly the pivot's SCC
    * (mutual reachability through the pivot), labeled `scc = pivot` —
    * equal to [[sccLabels]]' min-mutual-partner label because the pivot
    * is the partition's min and its SCC can contain nothing smaller;
    * (5) the remainder splits SCC-closed into FW-only / BW-only / REST
    * (no SCC ever straddles the cut — a cycle crossing it would put its
    * nodes in both FW and BW, i.e. in the SCC), each becoming a new
    * partition keyed by its own min node (disjoint subsets → distinct
    * mins → globally unique partition ids, and the pivot invariant
    * re-establishes itself). Every partition loses at least its pivot's
    * SCC per round; non-convergence within `maxRounds`/`maxDepth`
    * RAISES — a silent partial labeling cannot escape (the
    * [[boruvkaMst]] discipline).
    *
    * Returns (node, scc, scc_size), identical to [[sccLabels]]
    * (GraphAnalyticsSpec pins equality; q546 hash-gates it against
    * q538's definitional oracle on the same graph).
    *
    * Scale shape: NO pair materialization anywhere — every frame is
    * ≤ |nodes| rows ((node, part) tuples) or ≤ |edges| rows (one
    * partition-restriction join per BFS step against the STATIC edge
    * frame — the linear-growth loop shape audited safe in NOTES), so
    * the operator runs where [[sccLabels]]' closure (O(n·reach) rows)
    * cannot. Disjoint components decompose in PARALLEL (independent
    * partitions share each round's jobs), so replication leaves the
    * round count flat (ScaleProbe leg). Depth caps are real bounds for
    * the shapes this engine feeds it (near-dup/dependency/flow graphs
    * with shallow SCC recursion); a 10⁶-link pure path graph would
    * exhaust `maxDepth` and raise rather than mislabel.
    *
    * The per-step joins run [[sized]] by `edges`. */
  def sccLabelsFwBw(edges: DataFrame, srcCol: String, dstCol: String,
                    maxRounds: Int = 48,
                    maxDepth: Int = 256,
                    stats: Option[FwBwStats] = None): DataFrame =
    sized(edges)(fwBwLabels(edges, srcCol, dstCol, maxRounds, maxDepth, stats))

  private def fwBwLabels(edges: DataFrame, srcCol: String, dstCol: String,
                         maxRounds: Int, maxDepth: Int,
                         stats: Option[FwBwStats]): DataFrame = {
    val e = Lineage.cut(directed(edges, srcCol, dstCol),
      "GraphAnalytics.fwBwLabels.edges")
    val (nodes, nNodes) = Lineage.counted(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct(),
      "GraphAnalytics.fwBwLabels.nodes")
    val empty = nodes.limit(0)
      .select(col("node"), col("node").as("scc"),
        lit(0L).as("scc_size")).limit(0)
    if (nNodes == 0) return empty
    // initial partitions = WEAKLY connected components (the standard
    // FW-BW preprocessing): disjoint components must decompose in
    // PARALLEL from round 1 — a single shared start partition would
    // peel them apart one pivot per round, making rounds grow with the
    // component count (caught by the q546 replication guard). WCC rides
    // the engine's dual-path [[graft.operators.Dedup.dedupClusters]]
    // (driver union-find ≤ 4M edges, distributed min-label propagation
    // above), and its min-id labels ARE valid partition ids under the
    // pivot invariant (part id = min node of the partition). A round's
    // three-way REST split can still bundle sub-components that then
    // peel pivot-by-pivot — bounded by the SCC-DAG's width, not by the
    // corpus, and `maxRounds` raises rather than mislabels.
    var parts: DataFrame = null
    var nParts = 0L
    def setParts(df: DataFrame): Unit = {
      val (p, n) = Lineage.counted(df, "GraphAnalytics.fwBwLabels.parts")
      parts = p; nParts = n
    }
    setParts(Dedup.dedupClusters(
        e.select(col("src"), col("dst")), "src", "dst")
      .select(col("id").cast("long").as("node"),
        col("cluster_rep").cast("long").as("part")))
    // labeled SCCs accumulate as a union tree of checkpointed deltas
    // (the sccLabels discipline — never re-materialized per round)
    var done: DataFrame = null
    def append(df: DataFrame): Unit =
      done = if (done == null) df else done.unionByName(df)
    var r = 0
    var bfsSteps = 0
    var converged = false
    while (!converged && r < maxRounds) {
      r += 1
      // ---- trim cascade: no in- or no out-edge within the partition
      // ⇒ on no cycle ⇒ singleton SCC (its own min) ----
      var trimming = true
      var td = 0
      while (trimming && td < maxDepth) {
        td += 1
        val pe = e
          .join(parts.select(col("node").as("src"), col("part")),
            Seq("src"))
          .join(parts.select(col("node").as("dst"), col("part")),
            Seq("dst", "part"))
        // partitions are disjoint node sets, so node alone keys them
        val keep = pe.select(col("src").as("node")).distinct()
          .intersect(pe.select(col("dst").as("node")).distinct())
        val (trim, nTrim) = Lineage.counted(
          parts.join(keep, Seq("node"), "left_anti"),
          "GraphAnalytics.fwBwLabels.trim")
        if (nTrim == 0) trimming = false
        else {
          append(trim.select(col("node"), col("node").as("scc")))
          setParts(parts.join(trim.select("node"), Seq("node"), "left_anti"))
        }
      }
      require(!trimming,
        s"sccLabelsFwBw: trim cascade not settled in $maxDepth passes")
      if (nParts == 0) converged = true
      else {
        val piv = parts.groupBy("part").agg(min("node").as("pivot"))
          .transform(Lineage.cut(_, "GraphAnalytics.fwBwLabels.pivots",
            dropStats = true))
        // BFS closure from every pivot at once, restricted to each
        // pivot's own partition; one frontier⋈static-edges join +
        // one membership semi-join + one anti-join per step
        def fromPivots(dir: DataFrame): DataFrame = {
          val (levels, settled) = closure(
              piv.select(col("pivot").as("node"), col("part"))
                .transform(Lineage.cut(_, "GraphAnalytics.fwBwLabels.pivotSeeds",
                  dropStats = true)),
              Seq("node", "part"), maxDepth) { (frontier, _) =>
            frontier
              .join(dir.select(col("src").as("node"), col("dst")), Seq("node"))
              .select(col("dst").as("node"), col("part")).distinct()
              .join(parts, Seq("node", "part"), "left_semi")
          }
          require(settled,
            s"sccLabelsFwBw: BFS not settled within $maxDepth steps")
          bfsSteps += levels.size // the non-empty steps + the settling one
          levels.reduce(_ unionByName _)
            .transform(Lineage.cut(_, "GraphAnalytics.fwBwLabels.reached",
              dropStats = true))
        }
        val fw = fromPivots(e)
        val bw = fromPivots(e.select(col("dst").as("src"), col("src").as("dst")))
        val scc = fw.join(bw, Seq("node", "part"), "left_semi")
          .transform(Lineage.cut(_, "GraphAnalytics.fwBwLabels.scc",
            dropStats = true))
        append(scc.join(piv, Seq("part"))
          .select(col("node"), col("pivot").as("scc")))
        // SCC-closed three-way split; new partition id = subset min
        val rem = parts.join(scc, Seq("node", "part"), "left_anti")
        val tagged = rem
          .join(fw.withColumn("_f", lit(1)), Seq("node", "part"), "left")
          .join(bw.withColumn("_b", lit(1)), Seq("node", "part"), "left")
          .select(col("node"), col("part"),
            when(col("_f") === 1, lit(0))
              .when(col("_b") === 1, lit(1))
              .otherwise(lit(2)).as("branch"))
        setParts(tagged
          .withColumn("newpart",
            min("node").over(Window.partitionBy("part", "branch")))
          .select(col("node"), col("newpart").as("part")))
        if (nParts == 0) converged = true
      }
    }
    require(converged,
      s"sccLabelsFwBw: not converged within $maxRounds rounds")
    stats.foreach { s => s.lastRounds.set(r); s.lastBfsSteps.set(bfsSteps) }
    if (done == null) return empty
    val sizes = done.groupBy("scc").agg(count(lit(1)).as("scc_size"))
    done.join(sizes, Seq("scc")).select("node", "scc", "scc_size")
  }

  /** The inter-SCC CONDENSATION edges of a labeled graph — the standing
    * state [[incrementalScc]] consumes, computed ONCE per full build
    * (O(edges): two label joins, a filter, a distinct) and maintained
    * alongside the label frame the way the q554 WCC state rides its
    * cluster reps. Returns (src_scc, dst_scc), distinct, self-loops
    * (intra-SCC edges) dropped — by SCC maximality the condensation is a
    * DAG, typically orders smaller than the edge set. */
  def condensationEdges(edges: DataFrame, srcCol: String, dstCol: String,
                        labels: DataFrame): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .join(labels.select(col("node").as("src"), col("scc").as("src_scc")),
        Seq("src"))
      .join(labels.select(col("node").as("dst"), col("scc").as("dst_scc")),
        Seq("dst"))
      .filter(col("src_scc") =!= col("dst_scc"))
      .select("src_scc", "dst_scc").distinct()

  /** Incremental SCC maintenance — the q554 super-node discipline
    * applied to DIRECTED cluster state: merge a new edge batch into
    * standing SCC labels without re-running SCC over the corpus.
    * Adding edges can only MERGE SCCs (never split), and a merge can
    * only happen along a cycle through a new edge, so it suffices to
    * (1) map the batch into SUPER space — each endpoint becomes its old
    * SCC label, unseen nodes become themselves (O(batch) join through
    * the label frame); (2) find the WEAK components of the condensation
    * ∪ batch super-edges that contain a batch endpoint — only those can
    * change (an SCC-merging cycle is connected and passes through a new
    * super-edge); (3) re-run [[sccLabelsFwBw]] on the TOUCHED
    * components' super-edges only; (4) re-point the label frame through
    * the changed-label map with a broadcast join (the q554 re-point —
    * the corpus-scale label table never shuffles for the merge itself).
    *
    * Labels stay canonical: an old SCC label is the min node of its
    * SCC, so the merged super-SCC's min super-node id IS the min node
    * of the merged node set — merged ≡ rebuilt VERBATIM (q557 gates
    * this against q538's definitional oracle on the union graph;
    * GraphAnalyticsSpec pins the synthetic cases).
    *
    * `oldCondensation` is [[condensationEdges]] output for the old
    * graph. Cost: O(batch) mapping + touched-component discovery — a
    * WCC over condensation ∪ batch when `oldCondWcc` is None, or ONE
    * O(batch) incremental-WCC step (the q554 merge) when the
    * condensation's standing WCC labels ([[condensationWcc]]) are
    * passed — + FW-BW over the touched components + one size
    * re-aggregation over the label frame for the (node, scc, scc_size)
    * output shape — the same final exchange the rebuild pays. The
    * re-point map is bounded by the touched components' super-node
    * count (contracted space), the same boundedness class as q554's
    * super-rep map. GraphAnalyticsSpec pins the two discovery paths
    * label-identical. The eager steps run [[sized]] by `oldLabels`: the
    * batch joins through the label frame, the largest input. */
  def incrementalScc(oldLabels: DataFrame, oldCondensation: DataFrame,
                     newEdges: DataFrame, srcCol: String, dstCol: String,
                     oldCondWcc: Option[DataFrame] = None): DataFrame =
    sized(oldLabels) {
      val labels = Lineage.cut(oldLabels.select(col("node"), col("scc")),
        "GraphAnalytics.incrementalScc.labels")
      def withSizes(lbl: DataFrame): DataFrame = {
        val sizes = lbl.groupBy("scc").agg(count(lit(1)).as("scc_size"))
        lbl.join(sizes, Seq("scc")).select("node", "scc", "scc_size")
      }
      incrementalSccDelta(labels, oldCondensation, newEdges, srcCol, dstCol,
          oldCondWcc) match {
        case None => withSizes(labels)
        case Some((repoint, newNodes, _)) =>
          val relabeled = labels.unionByName(newNodes)
            .join(broadcast(repoint), col("scc") === col("_osl"), "left")
            .select(col("node"), coalesce(col("_nsl"), col("scc")).as("scc"))
          withSizes(relabeled)
      }
    }

  /** The label-CHANGE delta of [[incrementalScc]], exposed so a
    * bucketed on-disk label store ([[graft.store.SccStore]]) can merge
    * by rewriting ONLY the buckets the delta touches instead of the
    * corpus-scale label table (the AnnStore touched-cell discipline
    * applied to cluster state — a full-label rewrite per batch would be
    * O(corpus) ingest, exactly the term the incremental machinery
    * exists to remove). Returns None when the batch changes nothing
    * (every batch edge intra-SCC); otherwise
    * `(repoint (_osl, _nsl) — old label → merged label, bounded by the
    * touched super space; newNodes (node, scc=node) — batch nodes the
    * old graph never saw, UN-re-pointed: apply `repoint` to them too;
    * sn (ss, sd) — the batch in OLD super space, so the caller can
    * maintain the condensation as
    * distinct(repoint(oldCond) ∪ repoint(sn)) minus self-loops without
    * ever re-reading corpus labels)`. `labels` must carry (node, scc). */
  private[graft] def incrementalSccDelta(labels: DataFrame,
      oldCondensation: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String,
      oldCondWcc: Option[DataFrame])
      : Option[(DataFrame, DataFrame, DataFrame)] = {
    val ne = Lineage.cut(directed(newEdges, srcCol, dstCol),
      "GraphAnalytics.incrementalSccDelta.newEdges")
    // batch in super space: endpoints → their old SCC label; nodes the
    // old graph never saw are their own super-node
    val (sn, nSn) = Lineage.counted(ne
      .join(labels.select(col("node").as("src"), col("scc").as("_ss")),
        Seq("src"), "left")
      .join(labels.select(col("node").as("dst"), col("scc").as("_sd")),
        Seq("dst"), "left")
      .select(coalesce(col("_ss"), col("src")).as("ss"),
        coalesce(col("_sd"), col("dst")).as("sd"))
      .filter(col("ss") =!= col("sd")).distinct(),
      "GraphAnalytics.incrementalSccDelta.superNew")
    if (nSn == 0) return None
    val cond = oldCondensation
      .select(col("src_scc").as("ss"), col("dst_scc").as("sd"))
    val superEdges = Lineage.cut(cond.unionByName(sn),
      "GraphAnalytics.incrementalSccDelta.superEdges")
    // touched weak components: the only places SCCs can merge. With the
    // condensation's own WCC labels passed as standing state
    // ([[condensationWcc]], maintained per batch by the q554 merge),
    // this is ONE O(batch) incremental-WCC step instead of a
    // from-scratch WCC over the condensation — the remaining
    // full-condensation pass below is map-side relabeling, no closure
    val wcc = oldCondWcc match {
      case None =>
        graft.operators.Dedup.dedupClusters(superEdges, "ss", "sd")
      case Some(standing) =>
        graft.operators.Dedup.incrementalClusters(
          standing.select(col("id"), col("cluster_rep")), sn, "ss", "sd")
    }
    val touchedComps = sn
      .select(explode(array(col("ss"), col("sd"))).as("id")).distinct()
      .join(wcc, Seq("id")).select("cluster_rep").distinct()
    val touched = wcc.join(broadcast(touchedComps), Seq("cluster_rep"))
      .select("id")
      .transform(Lineage.cut(_, "GraphAnalytics.incrementalSccDelta.touched"))
    val touchedEdges = superEdges
      .join(touched.select(col("id").as("ss")), Seq("ss"), "left_semi")
    val superLabels = sccLabelsFwBw(touchedEdges, "ss", "sd")
    // changed-label re-point map, bounded by the touched super space
    val repoint = superLabels
      .select(col("node").as("_osl"), col("scc").as("_nsl"))
      .filter(col("_osl") =!= col("_nsl"))
    val newNodes = ne.select(col("src").as("node"))
      .unionByName(ne.select(col("dst").as("node"))).distinct()
      .join(labels.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("scc"))
    Some((repoint, newNodes, sn))
  }

  /** Weak-component labels OF THE CONDENSATION — the third piece of
    * standing SCC state (labels, condensation edges, condensation WCC):
    * pass it to [[incrementalScc]] as `oldCondWcc` and the
    * touched-component discovery becomes one O(batch) incremental-WCC
    * step (the q554 merge) instead of a from-scratch WCC closure over
    * the condensation. Maintain it per batch with
    * [[graft.operators.Dedup.incrementalClusters]] over the batch's
    * super-edges — the exact same call [[incrementalScc]] makes
    * internally. Returns (id, cluster_rep) in super space. */
  def condensationWcc(condensation: DataFrame): DataFrame =
    graft.operators.Dedup.dedupClusters(
      condensation.select(col("src_scc"), col("dst_scc")),
      "src_scc", "dst_scc")

  /** Incremental maintenance of the CONDENSATION edge set — the other
    * half of standing SCC state ([[incrementalScc]] maintains the
    * labels; this maintains [[condensationEdges]]' output), so a
    * standing directed-cluster store never recomputes either from the
    * corpus. The union graph's condensation is exactly: the OLD
    * condensation re-pointed through the merged labels (edges whose
    * endpoints fused become self-loops and drop — labels only ever
    * MERGE, so no new inter-SCC edge can appear from old edges), plus
    * the batch edges mapped through the merged labels, distinct.
    * Cost: O(old condensation + batch) in the CONTRACTED space — no
    * corpus-scale frame is touched (the label argument is consumed only
    * through the batch-endpoint and super-node joins).
    *
    * `newLabels` must be [[incrementalScc]]'s output for the SAME batch
    * (or any frame with identical (node, scc) content — e.g. a rebuild;
    * q559 gates merged ≡ rebuilt). Returns (src_scc, dst_scc). */
  def incrementalCondensation(newLabels: DataFrame,
                              oldCondensation: DataFrame,
                              newEdges: DataFrame, srcCol: String,
                              dstCol: String): DataFrame = {
    // checkpoint: the label frame (often incrementalScc's multi-join
    // output) is consumed FOUR times below; without a lineage cut the
    // repeated self-joins trip Catalyst's attribute dedup ("key not
    // found: scc#N") on the shared subplan
    val lbl = Lineage.cut(newLabels.select(col("node"), col("scc")),
      "GraphAnalytics.incrementalCondensation.labels")
    // old condensation nodes ARE node ids (an SCC label is its min
    // node), so the re-point map is the label frame restricted to them
    val oc = oldCondensation
      .select(col("src_scc").as("_os"), col("dst_scc").as("_od"))
    val repointed = oc
      .join(lbl.select(col("node").as("_os"), col("scc").as("_ns")),
        Seq("_os"))
      .join(lbl.select(col("node").as("_od"), col("scc").as("_nd")),
        Seq("_od"))
      .select(col("_ns").as("src_scc"), col("_nd").as("dst_scc"))
    val mapped = directed(newEdges, srcCol, dstCol)
      .join(lbl.select(col("node").as("src"), col("scc").as("_ns")),
        Seq("src"))
      .join(lbl.select(col("node").as("dst"), col("scc").as("_nd")),
        Seq("dst"))
      .select(col("_ns").as("src_scc"), col("_nd").as("dst_scc"))
    repointed.unionByName(mapped)
      .filter(col("src_scc") =!= col("dst_scc")).distinct()
  }

  /** Bidirectional BFS point distance on an undirected graph: exact
    * d(a, b) (or −1 when disconnected) by growing BFS layers from BOTH
    * endpoints, always expanding the currently SMALLER frontier, with
    * the classic exactness rule — a candidate best = min over meet
    * nodes of dA + dB is final once best ≤ lA + lB (any shorter path
    * would contain a node at distance lA from `a` that is within lB of
    * `b`, hence already a discovered meet) or either side exhausts its
    * component. This is THE point-query shape at scale: where a
    * one-sided BFS touches O(b^d) nodes, meeting in the middle touches
    * O(b^(d/2)) from each side — on a 100 TB graph the difference
    * between two pruned frontier scans and a full-component sweep.
    * The per-step joins run [[sized]] by `edges`.
    *
    * Scale shape: per step, one frontier⋈static-edges join + an
    * anti-join + a bounded one-row meet aggregate — the audited linear
    * loop shape; driver state is three scalars. Depth-capped with a
    * RAISE (never a silent wrong distance). */
  def bidirectionalBfsDistance(edges: DataFrame, srcCol: String,
      dstCol: String, a: Long, b: Long, maxDepth: Int = 64): Long =
    if (a == b) 0L else sized(edges) {
      val spark = edges.sparkSession
      import spark.implicits._
      // a self-loop's far end is the node itself, already reached, so the
      // anti-join below drops it
      val und = undirected(edges, srcCol, dstCol)
      var reachedA = Seq((a, 0L)).toDF("node", "d")
      var frontA = reachedA
      var reachedB = Seq((b, 0L)).toDF("node", "d")
      var frontB = reachedB
      var lA = 0L
      var lB = 0L
      var sizeA = 1L
      var sizeB = 1L
      var best = Long.MaxValue
      var steps = 0
      while (best > lA + lB && sizeA > 0 && sizeB > 0 &&
          steps < 2 * maxDepth) {
        steps += 1
        // expand the smaller frontier (ties → A): the meet-in-the-middle
        // work balance that keeps both balls at ~b^(d/2)
        val expandA = sizeA <= sizeB
        val (front, reached, other, l) =
          if (expandA) (frontA, reachedA, reachedB, lA + 1)
          else (frontB, reachedB, reachedA, lB + 1)
        val nf = front.select(col("node").as("a")).join(und, Seq("a"))
          .select(col("b").as("node")).distinct()
          .join(reached, Seq("node"), "left_anti")
          .select(col("node"), lit(l).as("d"))
          .transform(Lineage.cut(_,
            "GraphAnalytics.bidirectionalBfsDistance.frontier",
            dropStats = true))
        // ONE aggregate job yields both the frontier size and the best
        // meet through the other side (left join keeps non-meet rows for
        // the count; min ignores their null distances)
        val stats = nf
          .join(other.select(col("node"), col("d").as("_od")),
            Seq("node"), "left")
          .agg(count(lit(1)), min(col("d") + col("_od"))).head()
        val sz = stats.getLong(0)
        if (!stats.isNullAt(1)) best = math.min(best, stats.getLong(1))
        if (expandA) {
          lA = l; sizeA = sz
          if (sz > 0) { reachedA = reachedA.unionByName(nf); frontA = nf }
        } else {
          lB = l; sizeB = sz
          if (sz > 0) { reachedB = reachedB.unionByName(nf); frontB = nf }
        }
      }
      require(best <= lA + lB || sizeA == 0 || sizeB == 0,
        s"bidirectionalBfsDistance: depth cap $maxDepth exceeded before " +
          "the meet rule settled — raise maxDepth")
      if (best == Long.MaxValue) -1L else best
    }

  /** Longest-path levels of a DAG: level(v) = length of the longest
    * path from any source (in-degree-0 node) to v — the critical-path /
    * topological-depth measure for dependency scheduling, and the
    * natural consumer of an SCC CONDENSATION (contract each
    * [[sccLabelsFwBw]] component to one node and the cyclic graph
    * becomes the DAG this runs on). Computed by iterative max-
    * relaxation: next(v) = max over incoming u of level(u) + 1,
    * level = max(level, next), to fixpoint — a DAG converges within
    * its depth; a CYCLE never converges and `maxDepth` RAISES (this
    * doubles as a cycle check on the alleged DAG, never a silent
    * wrong answer).
    *
    * Scale shape: each round is one join of the static edge frame
    * against the |nodes|-row level frame + a max-aggregate — the
    * linear-growth loop shape, checkpoint-truncated per round; rounds
    * = DAG depth. Returns (node, level). */
  def dagLevels(edges: DataFrame, srcCol: String, dstCol: String,
                maxDepth: Int = 128): DataFrame = {
    val e = Lineage.cut(directed(edges, srcCol, dstCol),
      "GraphAnalytics.dagLevels.edges")
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var lvl = nodes.select(col("node"), lit(0L).as("level"))
      .transform(Lineage.cut(_, "GraphAnalytics.dagLevels.level0",
        dropStats = true))
    var converged = false
    var d = 0
    while (!converged && d < maxDepth) {
      d += 1
      val relaxed = e
        .join(lvl.select(col("node").as("src"), col("level")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(max(col("level") + 1).as("_cand"))
      // the checkpoint carries each node's old level, so its own job
      // counts the nodes whose level moved
      val (next, moved) = Lineage.counted(
        lvl.join(relaxed, Seq("node"), "left")
          .select(col("node"),
            greatest(col("level"), coalesce(col("_cand"), lit(0L)))
              .as("level"), col("level").as("_old")),
        "GraphAnalytics.dagLevels.round", col("level") =!= col("_old"))
      converged = moved == 0
      lvl = next.select("node", "level")
    }
    require(converged,
      s"dagLevels: no fixpoint within $maxDepth rounds — the input has " +
        "a cycle (or raise maxDepth for a deeper DAG)")
    lvl
  }

  /** k-truss peel, fixed rounds (the [[kCorePeel]] convention): each
    * round computes every edge's SUPPORT — the number of triangles it
    * closes in the CURRENT edge set — and deletes edges with support
    * < k−2; the k-truss is the fixpoint. The edge-cohesion complement
    * of the k-core: a degree-k node can be a hub of strangers, but an
    * edge of support s has s COMMON neighbors backing it, so trusses
    * isolate genuinely interlinked communities (a near-dup cluster
    * whose members all confirm each other) rather than high-degree
    * spokes. Rounds past the fixpoint delete nothing, so a fixed round
    * schedule here and a fixed SQL unroll replay identically (the
    * Borůvka/identity-stage argument); callers size `rounds` with
    * margin the way [[kCorePeel]] callers do — and the margin is
    * ENFORCED: after the last round the entering and surviving edge
    * counts must match (the final round deleted nothing ⟺ fixpoint),
    * otherwise this RAISES. Without the check an under-sized `rounds`
    * would silently return a superset of the k-truss, and since the SQL
    * oracle replays the same fixed unroll the hash gate could not catch
    * it — the same silent-partial-result class [[boruvkaMst]]'s
    * convergence require closes. Returns the surviving
    * edges as (a, b, support) with a < b, support as computed on the
    * final round's ENTERING edge set (the set equals the output set at
    * the fixpoint).
    *
    * Scale shape: triangles are enumerated once per round via the
    * oriented a<b<c three-way self-join — each edge row carries two
    * longs, the join is the standard distributed triangle count
    * (shuffle keyed on shared endpoints), and support aggregation is
    * map-side combinable. Edge sets only shrink; every round
    * checkpoint-truncates the lineage. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, "need k >= 3 and rounds >= 1")
    sized(edges) {
    var (und, entering) = Lineage.counted(canonical(edges, srcCol, dstCol),
      "GraphAnalytics.kTruss.edges")
    var out: DataFrame = null
    (1 to rounds).foreach { r =>
      // oriented triangles a<b<c, each counted once
      val tri = und.select(col("a"), col("b"))
        .join(und.select(col("a").as("b"), col("b").as("c")), Seq("b"))
        .join(und.select(col("a"), col("b").as("c")), Seq("a", "c"),
          "left_semi")
      val support = tri.select(col("a"), col("b"))
        .unionByName(tri.select(col("b").as("a"), col("c").as("b")))
        .unionByName(tri.select(col("a"), col("c").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      val (kept, surviving) = Lineage.counted(
        und.join(support, Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            coalesce(col("support"), lit(0L)).as("support"))
          .filter(col("support") >= k - 2), "GraphAnalytics.kTruss.round")
      out = kept
      // fixpoint assertion: both counts come from the checkpoint jobs
      // that wrote the entering and surviving edge sets
      if (r == rounds)
        require(surviving == entering,
          s"kTruss: not at fixpoint after $rounds rounds — the last " +
            s"round deleted ${entering - surviving} edges; increase " +
            s"`rounds` (and the oracle's unroll) in lockstep")
      else { und = out.select("a", "b"); entering = surviving }
    }
    out
    }
  }
}

