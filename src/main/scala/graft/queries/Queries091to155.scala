package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators._
import graft.pipeline.Embedder
import QueryHelpers._
import OracleHelpers._

/** Query builders + DuckDB oracles q091-q155, split verbatim from
  * SparkEntry (see its scaladoc for the oracle-parity contract; NOTES.md
  * for the hash/decimal replay rules). */
private[graft] object Queries091to155 extends QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    "q91_brand_disjunction" -> ((s, dir) => {
      // TPC-H Q19 shape: OR-of-ANDs predicate mixing fact and dim columns —
      // nothing prunes the scan, but the whole disjunction stays inside
      // one whole-stage-codegen'd filter after the join
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 21)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 25) &&
            col("l_quantity").between(20, 40)))
        .agg(dsum(rev).as("revenue"), count(lit(1)).as("n_items"))
    }),


    "q92_national_share" -> ((s, dir) => {
      // TPC-H Q8 shape: one supplier-nation's share of a customer-region's
      // revenue by order year — two broadcast dim pipelines (nation×2,
      // region, supplier) around one fact shuffle
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val asiaCust = tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")
            .join(tbl(s, dir, "region").filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val suppNation = tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      // reduce orders to ASIA customers BEFORE touching the facts: the
      // dim-filtered orders side is ~region-share of orders, so the
      // fact join's build side shrinks 5× (broadcastable far longer)
      val ordersAsia = tbl(s, dir, "orders")
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"))
      tbl(s, dir, "lineitem")
        .join(ordersAsia, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg((dsum(when(col("supp_nation") === "NATION_5", rev).otherwise(lit(0.0)))
            / dsum(rev)).as("mkt_share"),
          count(lit(1)).as("n_items"))
        .orderBy("o_year")
    }),


    "q93_top_supplier" -> ((s, dir) => {
      // TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
      // revenue — the scalar max is an aggregate of the already-reduced
      // per-supplier frame, broadcast back (no second scan of the facts)
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val perSupp = tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(dsum(rev).as("total_revenue"))
      perSupp
        .crossJoin(broadcast(perSupp.agg(max("total_revenue").as("_mx"))))
        .filter(col("total_revenue") === col("_mx"))
        .join(tbl(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    }),


    "q94_rich_idle_custs" -> ((s, dir) => {
      // TPC-H Q22 shape: above-average-balance customers with no recent
      // orders — scalar-avg subquery broadcast as a 1-row frame, anti-join
      // against recent orders, per-nation rollup
      val cust = tbl(s, dir, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(24,6)")).cast("double")
          / count(lit(1))).as("_avg"))
      val recent = tbl(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("_avg"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_custs"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("nation")
    }),


    "q95_rare_bigrams" -> ((s, dir) =>
      // perplexity-proxy quality gate: per-doc rare-bigram stats against
      // the corpus's own bigram counts (exact-integer CCNet stand-in)
      TextQuality.rareBigramStats(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),


    "q96_domain_cap" -> ((s, dir) =>
      // C4/RefinedWeb-style per-host page cap: at most 20 docs per source,
      // chosen by deterministic scrambled-hash rank (stable under
      // re-partitioning), rank-limit plans as WindowGroupLimit
      Sampling.domainCap(
          tbl(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", cap = 20)
        .orderBy("doc_id")),


    // ---- Lexical retrieval (beyond ref; pairs with the vector surface) --
    "q97_inverted_index" -> ((s, dir) =>
      // index build: (term, doc) partial-count → one per-TERM aggregate;
      // posting lists emerge sorted by doc id. The output reduces each
      // list to content/order checksums so the oracle compares scalars
      // (the array itself is pinned by RetrievalSpec)
      Retrieval.invertedIndex(tbl(s, dir, "documents"), "doc_id", "text")
        .select(col("term"), col("df"), col("cf"),
          element_at(col("postings"), 1).getField("id").as("first_id"),
          element_at(col("postings"), -1).getField("id").as("last_id"),
          expr("aggregate(postings, 0L, (a, p) -> a + p.id * p.tf)")
            .as("dot_check"),
          expr("aggregate(zip_with(postings, sequence(1, size(postings)), " +
            "(p, i) -> p.id * i), 0L, (a, x) -> a + x)").as("ord_check"))
        .orderBy("term")),


    "q98_bm25" -> ((s, dir) =>
      // BM25 ranking for a 4-term query: the token explode is filtered to
      // the query's terms BEFORE the shuffle, corpus stats ride along
      // broadcast, top-k plans as TakeOrderedAndProject
      Retrieval.bm25(tbl(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "join", "vector", "window"), 20)),


    "q99_c4_lines" -> ((s, dir) => {
      // C4-style line-level filter over 12-token pseudo-lines (the corpus
      // has no newlines): keep lines with ≥5 words, no blocklisted word,
      // first occurrence within the doc; doc kept iff ≥2 lines survive.
      // Pure map-side HOF logic — zero shuffle
      val d = tbl(s, dir, "documents")
        .withColumn("lines", TextQuality.tokenLinesFromText(col("text"), 12))
      TextQuality.c4LineFilter(d, "lines", minWords = 5,
          blocklist = Seq("slow"), minLines = 2)
        .select(col("doc_id"), col("n_lines"), col("n_kept"), col("kept"),
          length(col("kept_text")).as("kept_len"))
        .orderBy("doc_id")
    }),


    "q100_classifier" -> ((s, dir) =>
      // hashed-bigram linear quality classifier (fastText-shaped scoring
      // against a deterministic weight function): map-side feature hash →
      // weight fold → mean margin; no shuffle at any scale
      TextQuality.classifierScore(tbl(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_feats", "raw_margin", "margin", "label")
        .orderBy("doc_id")),


    "q101_knn_graph" -> ((s, dir) => {
      // bucket-local kNN graph (NN-descent/SemDeDup stage 1): map-side
      // IVF assignment to 8 centroids, then top-3 cosine neighbors within
      // each cell — the self-join shuffles only on centroid_id (free when
      // the corpus is stored partitionBy(centroid_id))
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      val assigned = Similarity.assignNearestCentroid(e, "embedding", "vec_id",
          centroids, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      Similarity.knnGraph(assigned, "embedding", "vec_id", 3)
        .withColumn("distance", round(col("distance"), 6))
        .orderBy("id", "rank")
    }),


    "q102_hll_merge" -> ((s, dir) => {
      // shard-mergeable HLL: per-(shard, group) register tables — what a
      // 1000-executor pipeline PERSISTS per partition — then a max-merge
      // and finish that never rescans the raw keys. Register max is
      // associative/commutative, so any merge tree gives the identical
      // estimate (spec-pinned against the direct single-pass sketch)
      val ev = events(s, dir)
        .withColumn("shard", (col("event_id") % 4).cast("int"))
      val regs = Sketches.hllRegisters(ev, Seq("shard", "event_type"), "user_id")
      Sketches.hllMergeEstimate(regs, "event_type")
        .orderBy("event_type")
    }),


    "q103_ann_recall" -> ((s, dir) => {
      // ANN quality gate: recall@3 of the declarative batch IVF probe
      // (nProbe=2 of 8 cells, probe set broadcast — the corpus never
      // shuffles) against the exact top-3 — the measurement that decides
      // whether an IVF config is safe to trust at full scale. Assignment
      // served from the standing AnnStore (q35 gates the build)
      val e = tbl(s, dir, "embeddings")
      val assigned = storedAssigned(s, dir)
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val approx = Similarity.ivfSearchBatch(assigned, "embedding", "vec_id",
        codebook(s, dir), "cid", "cv", queries, "qv", "qid", 3, 2)
      val exact = Similarity.topKBatch(e, "embedding", "vec_id",
        queries, "qv", "qid", 3)
      Similarity.recallAtK(approx, exact, "query_id", "vec_id", 3)
        .orderBy("query_id")
    }),


    "q104_index_store" -> ((s, dir) => {
      // persisted inverted index, bucketed by term hash: a term lookup is
      // a partition-pruned scan of |terms| bucket directories, not the
      // full index (IndexStoreSpec pins the PartitionFilters)
      val idx = Retrieval.invertedIndex(tbl(s, dir, "documents"), "doc_id", "text")
      val root = scratch("index-store")
      store.IndexStore.write(idx, root, nBuckets = 8)
      store.IndexStore.lookup(s, root, Seq("spark", "join", "vector"), 8)
        .select(col("term"), col("df"), col("cf"),
          expr("aggregate(postings, 0L, (a, p) -> a + p.id * p.tf)")
            .as("dot_check"))
        .orderBy("term")
    }),


    "q105_cms_merge" -> ((s, dir) => {
      // shard-mergeable count-min: per-shard 4×1024 grids (what each
      // ingest partition persists), summed into one grid — cells are
      // linear, so the merged grid is bit-identical to the single-pass
      // one (spec-pinned); heavy-hitter estimates read the merged grid
      val li = tbl(s, dir, "lineitem")
        .select(col("l_partkey").as("key"),
          (col("l_orderkey") % 4).cast("int").as("shard"))
      val merged = Sketches.cmsMerge(
        Sketches.cmsCountersSharded(li, Seq("shard"), "key", 4, 1024))
      val top = li.groupBy("key").agg(count(lit(1)).as("true_cnt"))
        .orderBy(desc("true_cnt"), col("key")).limit(10)
      Sketches.cmsEstimate(top, "key", merged, 4, 1024)
        .join(top, "key")
        .select(col("key"), col("true_cnt"), col("cms_est"))
        .orderBy(desc("true_cnt"), col("key"))
    }),


    "q106_index_bm25" -> ((s, dir) => {
      // BM25 served FROM the persisted bucketed index (q104's store):
      // posting lookup partition-prunes to |terms| buckets, each posting
      // carries its term's df, and the corpus totals enter as literals;
      // Catalyst/AQE pick the doc-length join from statistics.
      // Arithmetic-identical to q98 (same oracle)
      val d = tbl(s, dir, "documents")
      val idx = Retrieval.invertedIndex(d, "doc_id", "text")
      val root = scratch("index-store-bm25")
      store.IndexStore.write(idx, root, nBuckets = 8)
      val dl = d.select(col("doc_id").cast("long").as("id"),
        size(Retrieval.analyze(col("text"))).cast("long").as("dl"))
      Retrieval.bm25FromIndex(s, root, 8, dl, Retrieval.CorpusTotals.of(dl),
        Seq("spark", "join", "vector", "window"), 20)
    }),


    "q107_retention" -> ((s, dir) =>
      // weekly retention cohorts: first-seen week per user, then the
      // (cohort, week) engagement matrix — one user-keyed shuffle, one
      // (cohort, week) shuffle, cohort sizes broadcast
      streaming.EventStreams.retentionCohorts(events(s, dir))),


    "q108_hist_quantiles" -> ((s, dir) => {
      // mergeable numeric-profiling sketch: fixed 50-bin histogram of
      // l_quantity (O(nBuckets) state, layout-independent unlike
      // percentile_approx), then interpolated p50/p90/p99
      val hist = Sketches.histogramCounts(
        tbl(s, dir, "lineitem"), "l_quantity", 0.0, 50.0, 50)
      Sketches.histogramQuantiles(hist, 0.0, 50.0, 50, Seq(0.5, 0.9, 0.99))
    }),


    "q109_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 lexical ranks fused with dense cosine ranks
      // by Reciprocal Rank Fusion — rank-based, so the incompatible score
      // scales never matter; both lists are top-k-bounded, so the fuse is
      // trivially cheap no matter the corpus
      val lex = storedBm25(s, dir,
          Seq("spark", "join", "vector", "window"), 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id").asc)))
      val e = tbl(s, dir, "embeddings")
      val dense = Similarity.topKBatch(e, "embedding", "vec_id",
          e.filter(col("vec_id") === 0).select(col("vec_id").as("qid"),
            col("embedding").as("qv")), "qv", "qid", 20)
        .select(col("vec_id").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex.select(col("id"), col("rank")), dense), "id", 10)
    }),


    "q110_window_anomaly" -> ((s, dir) =>
      // per-type z-score anomalies from order-independent decimal sums
      // (Spark's stddev aggregates in partition order — not replayable);
      // one broadcast of per-group stats + a map-side filter
      Stats.zscoreAnomalies(
          events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", sigmas = 2.0)
        .orderBy("event_id")),


    "q111_group_corr" -> ((s, dir) =>
      // grouped Pearson correlation from the six order-independent sums —
      // one hash aggregate with map-side partials; sqrt is IEEE-exact so
      // the oracle replays the value bit-for-bit
      Stats.groupCorrelation(tbl(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")),


    "q112_incremental_dedup" -> ((s, dir) => {
      // incremental ingest dedup: the corpus's LSH band signatures are the
      // STORED table (hashed once, ever); a 50-doc new batch is hashed,
      // broadcast, and probed against matching band buckets — corpus
      // growth costs O(batch) per ingest, not O(corpus)
      val d = tbl(s, dir, "documents")
      val stored = Dedup.bandSignatures(
        d.select(col("doc_id"), col("text")), "doc_id", "text",
        shingleN = 5, numHashes = 64, bands = 8)
      val newBatch = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"),
          shortTwinText.as("text"))
      val newSigs = Dedup.bandSignatures(newBatch, "doc_id", "text",
        shingleN = 5, numHashes = 64, bands = 8)
      Dedup.incrementalDedupProbe(stored, newSigs, 64, threshold = 0.8)
        .orderBy("new_id", "stored_id")
    }),


    "q113_phash_neardup" -> ((s, dir) => {
      // perceptual-hash near-dup over (stub-)decoded binary assets: aHash
      // bits from the decoded pixel array, then the same 4×16-bit band
      // blocking + Hamming verify as SimHash — one pipeline for text and
      // image fingerprints. Twins perturb ONE leading byte, so they land
      // within Hamming ≤ 3 of their original
      // ASCII-only gate, mirrored in the oracle: the stub hashes UTF-8
      // BYTES while the oracle replays per-character CODE POINTS — equal
      // only for ASCII, so non-ASCII docs are excluded by construction on
      // both sides rather than trusting the corpus generator
      val d = tbl(s, dir, "documents")
        .filter(!col("text").rlike("[^\\x00-\\x7F]"))
      val corpus = d.select(col("doc_id"), col("text")).union(
        d.select(col("doc_id") + 1000000,
          expr("concat('X', substring(text, 2))")))
      val bin = corpus.select(col("doc_id"),
        col("text").cast("binary").as("content_bin"))
      // one tight per-row loop (decode → mean → bit vote); the declarative
      // featureMean/aHash64 twin is bit-identical (DedupSpec) but pays
      // ~128 interpreted lambda evals per row
      val hashed = Multimodal.perceptualHashes(bin, "doc_id", "content_bin", 64)
      Dedup.hammingPairs64(hashed, "doc_id", "ph", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),


    "q114_url_canonical" -> ((s, dir) => {
      // crawl-tier URL dedup: five cosmetic variants per URL group (case,
      // default port, fragment, tracking params, param order) collapse to
      // two canonical keys — the cheapest dedup tier, BEFORE any content
      // hashing; one groupBy on the canonical string
      val d = tbl(s, dir, "documents")
      val g = expr("cast(doc_id div 5 as string)")
      val p = expr("cast((doc_id div 5) % 7 as string)")
      val url = when(col("doc_id") % 5 === 0,
          concat(lit("https://SITE"), g, lit(".example.com/path"), p))
        .when(col("doc_id") % 5 === 1,
          concat(lit("https://site"), g, lit(".example.com:443/path"), p,
            lit("?utm_source=x")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("https://site"), g, lit(".example.com/path"), p, lit("#frag")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("https://site"), g, lit(".example.com/path"), p, lit("?b=2&a=1")))
        .otherwise(
          concat(lit("https://site"), g, lit(".example.com/path"), p,
            lit("?a=1&b=2&utm_campaign=z")))
      d.select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), Governance.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_variants"), min("doc_id").as("min_doc"))
        .orderBy("canonical_url")
    }),


    "q115_negative_samples" -> ((s, dir) => {
      // contrastive-training negatives: per anchor, the k smallest
      // scrambled pair hashes outside the anchor's IVF cell — pure
      // function of the ids, so pairs are reproducible across reruns,
      // repartitions, and cluster sizes; assignment served from the
      // standing AnnStore (column-pruned: ids + cells, no vectors read)
      val assigned = storedAssigned(s, dir)
        .select(col("vec_id"), col("centroid_id"))
      val anchors = assigned.filter(col("vec_id") < 5)
      Sampling.negativeSamples(assigned, "vec_id", "centroid_id",
          anchors, "vec_id", "centroid_id", k = 4)
        .orderBy("anchor_id", "rank")
    }),


    "q116_epoch_mix" -> ((s, dir) =>
      // epoch-weighted mixing (Llama-style): en runs 2.5 epochs (2 copies
      // + hash-coin third), fr thins to 0.5, others 1 — duplication and
      // thinning in one map-side operator, rows never shuffle
      Sampling.epochMix(
          tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", Map("en" -> 2.5, "de" -> 1.0, "fr" -> 0.5))
        .orderBy("doc_id", "epoch")),


    "q117_training_export" -> ((s, dir) => {
      // the capstone data-prep DAG in one query: Gopher quality gate →
      // hashed-bigram classifier gate → exact dedup (keep-first) →
      // per-source cap → per-lang sequence packing. Every stage is an
      // operator already proven under its own oracle; the composite
      // replays as one chained-CTE oracle. Map-side gates run before any
      // shuffle; the dedup/cap/pack shuffles operate on the SHRUNK corpus
      val d = tbl(s, dir, "documents")
      val gids = TextQuality.gopherMetrics(d, "doc_id", "text")
        .filter(col("quality_pass")).select("doc_id")
      val gated = d.join(gids, "doc_id")
        .select("doc_id", "text", "lang", "source")
      val classified = TextQuality.classifierScore(gated, "doc_id", "text")
        .filter(col("label"))
        .select("doc_id", "text", "lang", "source")
      val deduped = Dedup.exactDedup(classified, "text", "doc_id")
      val capped = Sampling.domainCap(deduped, "doc_id", "source", cap = 20)
      val withTokens = capped
        .withColumn("tokens", size(TextQuality.tokens(col("text"))))
        .filter(col("tokens") > 0)
        .select("doc_id", "lang", "source", "tokens")
      Chunker.packSequences(withTokens, "lang", "doc_id", "tokens", 2000)
        .select("doc_id", "lang", "source", "tokens", "pack_id", "spans_boundary")
        .orderBy("doc_id")
    }),


    "q118_hourly_hll" -> ((s, dir) => {
      // sketch-over-time: distinct users per hour via the same mergeable
      // HLL as q75/q102, with the exact count alongside — the dashboard
      // query a stream materializes from persisted hourly registers
      // instead of rescanning raw events
      val ev = events(s, dir)
        .withColumn("hr", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
        .select(col("hr"), col("user_id"))
      val est = Sketches.hllDistinctByGroup(ev, "hr", "user_id")
      val exact = ev.groupBy("hr").agg(countDistinct("user_id").as("n_exact"))
      est.join(exact, "hr").orderBy("hr")
    }),


    "q119_nn_descent" -> ((s, dir) => {
      // NN-descent refinement (HNSW-family graph build, Dong et al. 2011):
      // the bucket-local graph's components never LEAVE their IVF cell, so
      // the seed unions a deterministic ring (i → i+1 — the replayable
      // stand-in for NN-descent's random seed graph) to give expansion a
      // path between cells; one neighbor-of-neighbor round then reaches
      // true neighbors IVF blocking misses by construction. The sampled
      // recall@3 gate shows base vs refined side by side — refined can
      // only match or beat base (superset re-rank)
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      val assigned = Similarity.assignNearestCentroid(e, "embedding", "vec_id",
          centroids, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val base = Similarity.knnGraph(assigned, "embedding", "vec_id", 3)
      val ring = e.select(col("vec_id").as("id"), col("embedding").as("_lv"))
        .join(e.select((col("vec_id") - 1).as("id"), col("vec_id").as("nbr_id"),
          col("embedding").as("_rv")), Seq("id"))
        .select(col("id"), col("nbr_id"),
          call_function("graft_cosine_distance", col("_lv"), col("_rv")).as("distance"))
      val seed = base.select(col("id"), col("nbr_id"), col("distance"))
        .unionByName(ring)
      val refined = Similarity.nnDescentRefine(seed, e, "embedding", "vec_id", 3)
      val queries = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // exact top-3 TRUE neighbors (self excluded) of the sampled nodes
      val wEx = Window.partitionBy("query_id")
        .orderBy(col("distance").asc, col("vec_id").asc)
      val exact3 = Similarity.topKBatch(e, "embedding", "vec_id",
          queries, "qv", "qid", 4)
        .filter(col("query_id") =!= col("vec_id"))
        .withColumn("_rk", row_number().over(wEx)).filter(col("_rk") <= 3)
        .select(col("query_id").as("id"), col("vec_id").as("nbr_id"))
      def evalRecall(g: DataFrame) = Similarity.recallAtK(
        g.filter(col("id") < 50).select(col("id"), col("nbr_id")),
        exact3, "id", "nbr_id", 3)
      evalRecall(base)
        .withColumnRenamed("n_hit", "n_hit_base")
        .withColumnRenamed("recall", "recall_base")
        .join(evalRecall(refined)
          .withColumnRenamed("n_hit", "n_hit_ref")
          .withColumnRenamed("recall", "recall_ref"), Seq("id"))
        .orderBy("id")
    }),


    "q120_ann_store" -> ((s, dir) => {
      // the IVF store end-to-end (the 100 TB serving shape): assign →
      // persist partitionBy(centroid_id) → probe reads ONLY the nProbe
      // nearest cell DIRECTORIES — partition pruning in the scan's
      // PartitionFilters (IndexStoreSpec's ANN twin pins it), not a
      // post-scan filter
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      val assigned = Similarity.assignNearestCentroid(e, "embedding", "vec_id",
          centroids, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val root = scratch("ann-store")
      store.AnnStore.write(assigned, root)
      val cents = centroids.collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
      val qv = e.filter(col("vec_id") === 1).select("embedding").head().getSeq[Float](0)
      store.AnnStore.probe(s, root, cents, qv, "embedding", "vec_id", 8, 2)
        .select(col("vec_id"), col("centroid_id"),
          round(col("distance"), 6).as("distance"))
    }),


    "q121_index_merge" -> ((s, dir) => {
      // incremental index ingest: base build on the first 400 docs, then
      // MERGE the rest — only the batch's term-hash buckets are read,
      // re-aggregated, and atomically swapped; the lookup result must be
      // indistinguishable from a full rebuild (the oracle computes over
      // ALL documents)
      val d = tbl(s, dir, "documents")
      val root = scratch("index-merge")
      val base = Retrieval.invertedIndex(
        d.filter(col("doc_id") < 400), "doc_id", "text")
      store.IndexStore.write(base, root, nBuckets = 8)
      val batch = Retrieval.invertedIndex(
        d.filter(col("doc_id") >= 400), "doc_id", "text")
      store.IndexStore.merge(s, root, batch, nBuckets = 8)
      store.IndexStore.lookup(s, root, Seq("spark", "join", "vector"), 8)
        .select(col("term"), col("df"), col("cf"),
          expr("aggregate(postings, 0L, (a, p) -> a + p.id * p.tf)")
            .as("dot_check"))
        .orderBy("term")
    }),


    "q122_truncated_rerank" -> ((s, dir) => {
      // Matryoshka-style two-stage search: coarse rank on the first 32 of
      // 64 dims (half the scan arithmetic at full scale), exact re-rank of
      // the 50-row shortlist — both stages TakeOrderedAndProject, the
      // corpus never shuffles
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 2).select("embedding").head().getSeq[Float](0)
      Similarity.truncatedRerank(e, "embedding", "vec_id", qv,
          k = 8, dPrime = 32, shortlistK = 50)
        .select(col("vec_id"), round(col("coarse_dist"), 6).as("coarse_dist"),
          round(col("distance"), 6).as("distance"))
    }),


    "q123_kmeans" -> ((s, dir) => {
      // the IVF coarse-codebook BUILD (the step the reference delegates
      // to its DB's index build): 2 Lloyd rounds from a deterministic
      // seed — zero-join argmin assignment + one decimal-exact hash
      // aggregate per round; only k×dim doubles visit the driver
      val e = tbl(s, dir, "embeddings")
      val init = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      operators.Clustering.kmeans(e, "embedding", init, iters = 2)
        .select(col("cid"), col("dim"), round(col("mean"), 6).as("mean"))
        .orderBy("cid", "dim")
    }),


    "q124_pq_search" -> ((s, dir) => {
      // product quantization serving: 64-dim floats become 4 codes
      // (map-side argmin per subspace), then query scoring is pure table
      // lookups (ADC) — the memory/compute compression that makes a
      // 100 TB vector corpus scannable; recall trade-off gated like any
      // ANN config
      val e = tbl(s, dir, "embeddings")
      val cb = operators.Quantization.pqCodebook(64, 4, 4)
      val qv = e.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0)
      val encoded = operators.Quantization.pqEncode(e, "embedding", cb)
      operators.Quantization.pqSearch(encoded, "vec_id", qv, cb, 10)
        .select(col("vec_id"), round(col("adc_dist"), 6).as("adc_dist"))
    }),


    // ---- Multimodal REAL codecs (JDK ImageIO / javax.sound) -------------
    "q125_image_decode" -> ((s, dir) => {
      // REAL image codec round-trip: a deterministic 16×16 gray PNG per doc
      // (pixel(x,y) = (x·7 + y·13 + doc_id·31) mod 256) is encoded AND
      // decoded with the JDK's real PNG codec, then 8×8 average-pooled into
      // mean + 63-bit aHash. PNG is lossless, so the oracle replays the
      // stats arithmetically — the codec is in the loop, the math is exact.
      // Both stages are one map each: at 100 TB the decode cost rides the
      // scan stage, zero shuffle
      import s.implicits._
      val imgs = tbl(s, dir, "documents").select(col("doc_id"))
        .repartition(32) // spread codec work: ids are 8 bytes, encode is the cost
        .as[Long]
        .map { id =>
          val px = Array.tabulate(256)(i =>
            (((i % 16) * 7 + (i / 16) * 13 + id * 31) % 256).toInt)
          (id, graft.sources.BinaryMedia.encodeGrayPng(16, 16, px))
        }.toDF("doc_id", "img")
      Multimodal.decodeImageStats(imgs, "doc_id", "img")
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_gray"), 6).as("mean_gray"), col("ahash"))
        .orderBy("doc_id")
    }),


    "q126_image_neardup" -> ((s, dir) => {
      // perceptual near-dup over REAL decoded pixels: docs sharing
      // doc_id mod 20 get near-identical GIF images (one pixel bumped per
      // doc), decoded with the JDK's real GIF codec into aHash63, then the
      // same 4×16-band Hamming machinery as SimHash/q113 — proving the
      // image path feeds the existing dedup stack unchanged
      import s.implicits._
      val imgs = tbl(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 400)
        .repartition(32).as[Long]
        .map { id =>
          val px = Array.tabulate(256) { i =>
            val x = i % 16; val y = i / 16
            val base = (x * 7 + y * 13 + (id % 20) * 31) % 256
            val bump = if (x == id % 16 && y == (id / 16) % 16) 1 + id % 7 else 0L
            ((base + bump) % 256).toInt
          }
          (id, graft.sources.BinaryMedia.encodeGrayGif(16, 16, px))
        }.toDF("doc_id", "img")
      val hashed = Multimodal.decodeImageStats(imgs, "doc_id", "img")
        .select(col("doc_id"), col("ahash"))
      Dedup.hammingPairs64(hashed, "doc_id", "ahash", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    }),


    "q127_wav_decode" -> ((s, dir) => {
      // REAL audio codec: a deterministic 16-bit PCM mono WAV per doc
      // (128 + doc_id mod 64 samples, sample(i) = (doc_id·31 + i·17) mod
      // 4096 − 2048) decoded via javax.sound.sampled — count, peak and
      // mean-square energy replayed arithmetically by the oracle
      import s.implicits._
      val wavs = tbl(s, dir, "documents").select(col("doc_id"))
        .repartition(32).as[Long]
        .map { id =>
          val n = (128 + id % 64).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 17) % 4096) - 2048).toShort)
          (id, graft.sources.BinaryMedia.encodeWavPcm16(samples, 8000))
        }.toDF("doc_id", "wav")
      Multimodal.decodeWavStats(wavs, "doc_id", "wav")
        .select(col("doc_id"), col("n_samples"), col("sample_rate"),
          col("peak"), round(col("mean_square"), 6).as("mean_square"))
        .orderBy("doc_id")
    }),


    "q128_gif_frames" -> ((s, dir) => {
      // REAL video-style frame sampling: an animated GIF per doc
      // (3 + doc_id mod 5 frames of 8×8, pixel = (x·3 + y·5 + f·11 +
      // doc_id·7) mod 256), every 2nd frame decoded to its mean gray via
      // the JDK GIF reader — the explode shape of q59 with an actual codec
      // in the loop, still zero shuffle
      import s.implicits._
      val gifs = tbl(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 1000)
        .repartition(32).as[Long]
        .map { id =>
          val nf = (3 + id % 5).toInt
          val frames = (0 until nf).map(f => Array.tabulate(64)(i =>
            (((i % 8) * 3 + (i / 8) * 5 + f * 11 + id * 7) % 256).toInt))
          (id, graft.sources.BinaryMedia.encodeAnimatedGif(8, 8, frames))
        }.toDF("doc_id", "gif")
      Multimodal.gifFrameMeans(gifs, "doc_id", "gif", everyN = 2)
        .select(col("doc_id"), col("frame_index"),
          round(col("frame_mean"), 6).as("frame_mean"))
        .orderBy("doc_id", "frame_index")
    }),


    "q129_graph_search" -> ((s, dir) => {
      // the serving half of the graph-index (HNSW) family: greedy beam
      // search over the bucket-local kNN graph — entry points 0..3, two
      // expand→score→keep-8 rounds, top-5 answer for query vec 5. The
      // corpus is touched only via equi-joins on candidate ids
      // (O(beam·degree) scorings per round, never a scan)
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      val assigned = Similarity.assignNearestCentroid(e, "embedding", "vec_id",
          centroids, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val graph = Similarity.knnGraph(assigned, "embedding", "vec_id", 3)
      Similarity.graphBeamSearch(graph, e, "embedding", "vec_id",
          queryId = 5L, entryIds = Seq(0L, 1L, 2L, 3L),
          beam = 8, iters = 2, k = 5)
        .select(col("rank"), col("vec_id"),
          round(col("distance"), 6).as("distance"))
        .orderBy("rank")
    }),


    "q130_bpe_merges" -> ((s, dir) => {
      // BPE tokenizer induction over the corpus (Sennrich 2016): one
      // corpus pass builds the distinct-word table, then each merge round
      // is a vocab-sized pair count + a 1-row argmax broadcast back into a
      // map-side rewrite — rounds cost O(vocab), never O(corpus). Three
      // rounds, learned merges out; the oracle unrolls the loop as CTEs
      val wc = operators.Bpe.wordCounts(tbl(s, dir, "documents"), "text")
      operators.Bpe.learnMerges(wc, iters = 3).orderBy("rank")
    }),


    "q131_kmv_overlap" -> ((s, dir) => {
      // cross-corpus overlap with NO exact intersect: content fingerprints
      // → per-side KMV k-min sketches → union-sketch membership — Jaccard
      // and intersection-size estimates from 2×64 longs, however large the
      // corpora; the two windows share docs 150-349 by construction
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), TF.fingerprint("text").as("fp"))
      Sketches.kmvJaccard(
          d.filter(col("doc_id") < 350), d.filter(col("doc_id") >= 150),
          "fp", 64)
        .select(col("n_union"), col("n_both"),
          round(col("union_est"), 6).as("union_est"),
          round(col("jaccard_est"), 6).as("jaccard_est"),
          round(col("intersection_est"), 6).as("intersection_est"))
    }),


    "q132_ann_merge" -> ((s, dir) => {
      // incremental vector ingest: build the IVF store on even ids, MERGE
      // the odd-id batch — only the cells the batch lands in are read and
      // atomically swapped (ingest cost scales with the batch); the probe
      // must be indistinguishable from a full rebuild, so the oracle
      // computes over ALL embeddings
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      val base = Similarity.assignNearestCentroid(
          e.filter(col("vec_id") % 2 === 0), "embedding", "vec_id",
          centroids, "cid", "cv")
        .select(col("vec_id"), col("embedding"), col("centroid_id"))
      val root = scratch("ann-merge")
      store.AnnStore.write(base, root)
      store.AnnStore.merge(s, root, e.filter(col("vec_id") % 2 === 1),
        centroids, "cid", "cv", "embedding", "vec_id")
      val cents = centroids.collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
      val qv = e.filter(col("vec_id") === 2).select("embedding").head().getSeq[Float](0)
      store.AnnStore.probe(s, root, cents, qv, "embedding", "vec_id", 8, 2)
        .select(col("vec_id"), col("centroid_id"),
          round(col("distance"), 6).as("distance"))
    }),


    "q133_bpe_encode" -> ((s, dir) => {
      // the tokenize half of the BPE lifecycle: learn 3 merges (q130),
      // then APPLY them to the distinct-word table and report the top-20
      // vocabulary symbols by weighted occurrence — corpus tokenization is
      // a map-side rewrite of the vocab-sized word table, never a second
      // corpus pass; the 3 learned merges are the only driver-side rows
      val wc = operators.Bpe.wordCounts(tbl(s, dir, "documents"), "text")
      val merges = operators.Bpe.learnMerges(wc, iters = 3).orderBy("rank")
        .select("sym_a", "sym_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      operators.Bpe.applyMerges(wc, merges)
        .select(explode(col("tokens")).as("token"), col("word"), col("freq"))
        .groupBy("token")
        .agg(countDistinct("word").as("n_words"), sum("freq").as("occurrences"))
        .orderBy(col("occurrences").desc, col("token"))
        .limit(20)
    }),


    "q134_dsir_select" -> ((s, dir) => {
      // DSIR importance selection (Xie 2023): hashed-bigram bucket counts
      // for the src0 target domain vs the raw corpus -> fixed-point
      // importance ratios -> map-side per-doc weight fold -> top-25% keep;
      // integer arithmetic end to end, so the oracle replays it exactly
      Sampling.dsirSelect(tbl(s, dir, "documents"), "doc_id", "text",
          col("source") === "src0", buckets = 64, selectPct = 25)
        .select(col("doc_id"), col("n_feats"), col("weight"),
          col("rank"), col("selected"))
        .orderBy("doc_id")
    }),


    "q135_semantic_dedup" -> ((s, dir) => {
      // SemDeDup (Abbas 2023): map-side IVF cell assignment scopes the
      // cosine pair search; of any within-cell pair >= 0.35 the member
      // closer to its centroid is dropped, keeping the cluster's diverse
      // outliers — cluster-level semantic dedup over the same centroids
      // as q35, single equi-shuffle on the cell id
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      Dedup.semanticDedup(e, "vec_id", "embedding", centroids, "cid", "cv",
          minCosine = 0.35)
        .select(col("id").as("vec_id"), col("centroid_id"),
          round(col("centroid_dist"), 6).as("centroid_dist"), col("kept"))
        .orderBy("vec_id")
    }),


    "q136_pagerank" -> ((s, dir) => {
      // prototypicality selection: PageRank centrality over the q101 kNN
      // graph — central docs are representative, low-rank docs isolated;
      // fixed-point BIGINT mass so the 3 power iterations replay exactly;
      // each round is the 2-shuffle Pregel shape (join ranks on src,
      // groupBy dst) over the SAME degree-annotated edge list
      val graph = storedKnnGraph(s, dir)
      GraphAnalytics.ranked(GraphAnalytics.pageRank(graph, "id", "nbr_id", 3))
        .select(col("id").as("vec_id"), col("pr"), col("rk"))
        .orderBy("rk")
    }),


    "q137_ppr_expand" -> ((s, dir) => {
      // seed-set expansion by personalized PageRank: teleport mass
      // restricted to 5 trusted seeds diffuses along kNN edges — the
      // graph-diffusion "related documents" signal for curation; same
      // fixed-point rounds as q136, teleport share split across seeds
      val e = tbl(s, dir, "embeddings")
      val graph = storedKnnGraph(s, dir)
      val seeds = e.filter(col("vec_id") < 5).select("vec_id")
      GraphAnalytics.personalizedPageRank(graph, "id", "nbr_id",
          seeds, "vec_id", 3)
        .filter(col("pr") > 0)
        .select(col("id").as("vec_id"), col("base").as("teleport"), col("pr"))
        .orderBy("vec_id")
    }),


    "q138_semantic_contamination" -> ((s, dir) => {
      // embedding-level decontamination (q84's semantic twin): train docs
      // within cosine 0.35 of ANY eval doc are flagged, with hit count,
      // max cosine, and the witness eval id; cell-scoped train×eval with
      // the eval side broadcast — the train corpus is never shuffled
      val e = tbl(s, dir, "embeddings")
      val centroids = codebook(s, dir)
      val train = e.filter(col("vec_id") % 17 =!= 3)
      val evalDf = e.filter(col("vec_id") % 17 === 3)
      Dedup.semanticContamination(train, "vec_id", "embedding",
          evalDf, "vec_id", "embedding", centroids, "cid", "cv",
          minCosine = 0.35)
        .select(col("id").as("vec_id"), col("centroid_id"),
          col("n_eval_hits"), round(col("max_cosine"), 6).as("max_cosine"),
          col("witness_eid"), col("contaminated"))
        .orderBy("vec_id")
    }),


    "q139_label_propagation" -> ((s, dir) => {
      // semi-supervised label spreading: clamp the labels of the first
      // 200 vectors, majority-vote them 2 rounds along kNN edges (ties to
      // the smallest label) — each round one join + integer count agg,
      // replayed exactly by the oracle
      val e = tbl(s, dir, "embeddings")
      val graph = storedKnnGraph(s, dir)
      val seeds = e.filter(col("vec_id") < 200).select("vec_id", "label")
      GraphAnalytics.labelPropagation(graph, "id", "nbr_id",
          seeds, "vec_id", "label", iters = 2)
        .select(col("id").as("vec_id"), col("label"), col("origin"))
        .orderBy("vec_id")
    }),


    "q140_bloom_join" -> ((s, dir) => {
      // Bloom runtime-filter join pruning: the urgent-orders dim builds a
      // 16 KB packed bitmap; lineitem rows are dropped map-side in the
      // scan stage before the join shuffle. n_joined proves prefilter ∘
      // join ≡ plain join; n_false_pass is the bounded Bloom overshoot
      // that the join then discards
      val m = 131072; val k = 3
      val dim = tbl(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("key")).distinct()
        .transform(Lineage.cut(_, "q140.dim"))
      val fact = tbl(s, dir, "lineitem").select(col("l_orderkey"))
      val pruned = Joins.bloomPrefilter(fact, "l_orderkey", dim, "key", m, k)
        .transform(Lineage.cut(_, "q140.pruned"))
      val joined = pruned.join(dim, pruned("l_orderkey") === dim("key"))
      fact.agg(count(lit(1)).as("n_fact"))
        .crossJoin(pruned.agg(count(lit(1)).as("n_pass")))
        .crossJoin(joined.agg(count(lit(1)).as("n_joined")))
        .withColumn("n_false_pass", col("n_pass") - col("n_joined"))
    }),


    "q141_cluster_quality" -> ((s, dir) => {
      // codebook quality gate (the k-means elbow input): per-cell point
      // count + inertia from the SAME assignment as q35 — served from the
      // standing AnnStore (cells + distances only; vectors pruned) — with
      // a rollup total row; squared distances are exact double products,
      // accumulated in decimal so the sum is order-independent
      val assigned = storedAssigned(s, dir)
        .select(col("centroid_id"), col("centroid_dist"))
      Clustering.clusterQuality(assigned, "centroid_id", "centroid_dist")
        .orderBy(col("centroid_id").asc_nulls_last)
    }),


    "q142_similarity_join" -> ((s, dir) => {
      // EXACT all-pairs 5-gram-shingle Jaccard ≥ 0.6 via prefix + length
      // filtering — candidates only from each doc's rarest df-ordered
      // prefix shingles, so no LSH miss risk (q20 estimates; this is
      // ground truth). Exact all-pairs is the bounded-slice validation
      // tool (it measures q20/q21's recall); the slice is capped like
      // q22's, the LSH family is the open-corpus path
      val d = tbl(s, dir, "documents").filter(col("doc_id") < 600)
      val toks = d.select(col("doc_id").as("id"),
        explode(Dedup.shingleExpr("text", 5)).as("tok"))
      Dedup.prefixFilterJoin(toks, "id", "tok", tau = 0.6)
        .orderBy("doc_a", "doc_b")
    }),


    "q143_lsh_recall" -> ((s, dir) => {
      // the dedup-config qualification gate (the q103 recall@k idea
      // applied to LSH): on a bounded near-dup corpus, q20's MinHash-LSH
      // pairs are scored against q142's EXACT prefix-filtered ground
      // truth — recall says whether 64 hashes × 8 bands is safe to trust
      // before a full-corpus run, precision what the est_jaccard cut
      // over-flags
      val d = tbl(s, dir, "documents").filter(col("doc_id") < 300)
      val corpus = nearDupCorpus(d)
      val lsh = nearDupPairs(corpus)
        .select("doc_a", "doc_b").transform(Lineage.cut(_, "q143.lsh"))
      val toks = corpus.select(col("doc_id").as("id"),
        explode(Dedup.shingleExpr("text", 5)).as("tok"))
      val exact = Dedup.prefixFilterJoin(toks, "id", "tok", tau = 0.8)
        .select("doc_a", "doc_b").transform(Lineage.cut(_, "q143.exact"))
      val hit = exact.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
        .withColumn("precision", col("n_hit").cast("double") / col("n_lsh"))
    }),


    "q144_local_supplier_volume" -> ((s, dir) => {
      // TPC-H Q5: revenue from intra-nation trade in one region/year —
      // the 6-way join; region/nation/supplier/customer all broadcast,
      // lineitem⋈orders stays the only fact-fact shuffle
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val rn = broadcast(tbl(s, dir, "nation")
        .join(broadcast(tbl(s, dir, "region"))
          .filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey")))
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "customer")),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(rn, col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(rev).as("revenue"))
        .orderBy(desc("revenue"), col("n_name"))
    }),


    "q145_waiting_suppliers" -> ((s, dir) => {
      // TPC-H Q21 shape (adapted: lineitem has no commit/receipt dates, so
      // "the blocker" is the strictly-latest shipper on the order): for
      // 'F' orders with multiple suppliers, count per supplier the orders
      // where THEIR ship date beats every co-supplier's — semi + anti
      // equi-joins on the order key, no correlated re-scan
      val l = tbl(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      val l1 = l
        .join(tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val l2 = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
      val l3 = l.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"),
        col("l_shipdate").as("d3"))
      val waiting = l1
        .join(l2, col("l_orderkey") === col("k2") &&
          col("l_suppkey") =!= col("s2"), "left_semi")
        .join(l3, col("l_orderkey") === col("k3") &&
          col("l_suppkey") =!= col("s3") &&
          col("d3") >= col("l_shipdate"), "left_anti")
      waiting
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    }),


    "q146_nation_profit" -> ((s, dir) => {
      // TPC-H Q9 shape (no partsupp table → revenue in place of profit):
      // per supplier-nation per order-year revenue on 'red' parts; part/
      // supplier/nation broadcast, one fact-fact shuffle
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      tbl(s, dir, "lineitem")
        .join(broadcast(tbl(s, dir, "part")
          .filter(col("p_name").contains("red"))
          .select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .join(tbl(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tbl(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(dsum(rev).as("revenue"))
        .orderBy(col("nation"), desc("o_year"))
    }),


    "q147_drift_chi2" -> ((s, dir) => {
      // corpus-composition drift monitor: χ² of the source mix between a
      // third of the corpus and the rest (mod-3 split crosses the
      // generator's mod-20 source cycle, so every category lands in both
      // snapshots), per-category contributions plus a decimal-accumulated
      // total row (NULL category) — each term is a fixed parenthesization
      // of correctly-rounded double ops, so the oracle replays it
      // bit-for-bit
      val d = tbl(s, dir, "documents")
      val per = Stats.chiSquareDrift(
        d.filter(col("doc_id") % 3 === 0),
        d.filter(col("doc_id") % 3 =!= 0), "source")
      val total = per.agg(
        sum("n_ref").as("n_ref"), sum("n_cur").as("n_cur"),
        sum(col("contrib").cast("decimal(32,10)")).cast("double").as("_chi2"))
        .select(lit(null).cast("string").as("category"),
          col("n_ref"), col("n_cur"),
          lit(null).cast("double").as("expected"),
          col("_chi2").as("contrib"))
      per.unionByName(total).orderBy(col("category").asc_nulls_last)
    }),


    "q148_bq_search" -> ((s, dir) => {
      // the 1-bit end of the quantization family (q57 int8 → q124 PQ →
      // here 64 dims in ONE long): sign-bit pack map-side, Hamming
      // XOR+popcount shortlist as a bounded TakeOrdered heap, exact
      // cosine re-rank of the 50-row shortlist — the corpus never
      // shuffles in either stage
      val e = tbl(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 2).select("embedding")
        .head().getSeq[Float](0)
      Quantization.bqSearch(e, "vec_id", "embedding", qv,
          k = 8, shortlistK = 50)
        .select(col("vec_id"), col("hamming"),
          round(col("distance"), 6).as("distance"))
    }),


    "q149_shipping_priority" -> ((s, dir) => {
      // TPC-H Q3: revenue of yet-unshipped orders for one market segment
      // — the last partsupp-free TPC-H shape. Both date filters push to
      // the scans; the filtered customer dim broadcasts; top-10 is a
      // bounded TakeOrdered, never a global sort.
      val cutoff = lit("1995-03-15").cast("timestamp")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      tbl(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        .join(tbl(s, dir, "orders").filter(col("o_orderdate") < cutoff),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "customer")
            .filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(rev).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),


    "q150_margin_mining" -> ((s, dir) => {
      // LASER-style margin mining (Artetxe & Schwenk 2019) between the
      // even-id batch (bounded query slice) and the odd-id half of the
      // embedding corpus: best target per source by RATIO margin — raw
      // cosine normalized by both sides' k-NN neighborhood density —
      // two bounded-heap corpus passes, no corpus shuffle
      val e = tbl(s, dir, "embeddings")
      val src = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 400)
      val tgt = e.filter(col("vec_id") % 2 === 1)
      Similarity.marginMining(src, "vec_id", tgt, "vec_id", "embedding",
          k = 4, minMargin = 1.0)
        .select(col("src_id"), col("tgt_id"),
          round(col("cosine"), 6).as("cosine"),
          round(col("margin"), 6).as("margin"))
        .orderBy("src_id")
    }),


    "q151_split_assign" -> ((s, dir) => {
      // near-dup-safe train/val/test split: split keyed on the LSH dedup
      // CLUSTER representative, so near-duplicate families can never
      // straddle splits (train/test leakage); the audit output pins
      // per-split doc/cluster/char counts and n_straddle = 0
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      val pairs = nearDupPairs(corpus)
      val labels = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      val sp = Sampling.clusterSplit(corpus, "doc_id", labels, "id", "cluster_rep")
      val agg = sp.groupBy("split").agg(
        count(lit(1)).as("n_docs"),
        countDistinct("cluster_rep").as("n_clusters"),
        sum(length(col("text"))).cast("long").as("n_chars"))
      val straddle = sp.groupBy("cluster_rep")
        .agg(countDistinct("split").as("_ns"))
        .filter(col("_ns") > 1)
        .agg(count(lit(1)).as("n_straddle"))
      agg.crossJoin(broadcast(straddle)).orderBy("split")
    }),


    "q152_ewma_monitor" -> ((s, dir) => {
      // EWMA control chart over the per-type event stream: α=1/2
      // geometric weights over ≤16 predecessors, all arithmetic
      // replay-exact (power-of-two scaling + decimal accumulate)
      Stats.ewmaMonitor(events(s, dir), "event_type", "ts", "event_id",
          "value", window = 16, minHistory = 4, threshold = 120.0)
        .select(col("event_type"), col("event_id"), col("value"),
          col("n_history"), round(col("ewma"), 6).as("ewma"),
          round(col("deviation"), 6).as("deviation"))
        .orderBy("event_type", "event_id")
    }),


    "q153_span_corruption" -> ((s, dir) =>
      // deterministic T5-style span-corruption plan: per-doc mask layout
      // as a pure function of (doc_id, token count) — reproducible
      // across runs, partitionings, and engines
      Chunker.spanCorruptionPlan(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),


    "q154_priority_sample" -> ((s, dir) =>
      // token-weighted audit sample: 100 docs by Duffield-Lund-Thorup
      // priority, est_weight = max(w, τ) making char totals unbiased;
      // deterministic hash uniforms, bounded TakeOrdered heap
      Sampling.prioritySample(tbl(s, dir, "documents"), "doc_id",
          "n_chars", k = 100)
        .select(col("doc_id"), col("n_chars"),
          round(col("priority"), 6).as("priority"),
          round(col("est_weight"), 6).as("est_weight"))
        .orderBy("doc_id")),


    "q155_dedup_report" -> ((s, dir) => {
      // dedup savings audit: near-dup cluster size histogram with the
      // chars reclaimable under keep-representative — the planning
      // number a dedup run is justified by
      val d = tbl(s, dir, "documents")
      val corpus = nearDupCorpus(d)
      val pairs = nearDupPairs(corpus)
      val labels = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      val j = corpus
        .join(labels.select(col("id").as("doc_id"), col("cluster_rep")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("rep"),
          length(col("text")).as("len"))
      val perCluster = j.groupBy("rep").agg(
        count(lit(1)).as("cluster_size"),
        sum(col("len")).cast("long").as("chars_total"),
        min_by(col("len"), col("doc_id")).cast("long").as("chars_rep"))
      perCluster.groupBy("cluster_size").agg(
          count(lit(1)).as("n_clusters"),
          sum(col("chars_total")).cast("long").as("chars_total"),
          sum(col("chars_total") - col("chars_rep")).cast("long").as("chars_savable"))
        .orderBy("cluster_size")
    })
  )

  def oracleSql: Map[String, String] = Map(


      "q91_brand_disjunction" ->
        s"""SELECT ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
           |  COUNT(*) AS n_items
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           |       AND l_quantity BETWEEN 1 AND 21)
           |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
           |       AND l_quantity BETWEEN 10 AND 30)
           |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
           |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin,


      "q92_national_share" ->
        s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           |  ${dsumSql("CASE WHEN sn.n_name = 'NATION_5' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
           |    / ${dsumSql("l_extendedprice * (1 - l_discount)")} AS mkt_share,
           |  COUNT(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation cn ON c_nationkey = cn.n_nationkey
           |JOIN region ON cn.n_regionkey = r_regionkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation sn ON s_nationkey = sn.n_nationkey
           |WHERE r_name = 'ASIA'
           |GROUP BY o_year ORDER BY o_year""".stripMargin,


      "q93_top_supplier" ->
        s"""WITH pers AS (
           |  SELECT l_suppkey,
           |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS total_revenue
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           |    AND l_shipdate < TIMESTAMP '1996-04-01'
           |  GROUP BY l_suppkey)
           |SELECT s_suppkey, s_name, total_revenue
           |FROM pers JOIN supplier ON l_suppkey = s_suppkey
           |WHERE total_revenue = (SELECT max(total_revenue) FROM pers)
           |ORDER BY s_suppkey""".stripMargin,


      "q94_rich_idle_custs" ->
        s"""WITH avg_bal AS (
           |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DOUBLE)
           |    / COUNT(*) AS a
           |  FROM customer WHERE c_acctbal > 0)
           |SELECT n_name AS nation, COUNT(*) AS n_custs,
           |  ${dsumSql("c_acctbal")} AS total_bal
           |FROM customer CROSS JOIN avg_bal
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE c_acctbal > a
           |  AND NOT EXISTS (SELECT 1 FROM orders
           |    WHERE o_custkey = c_custkey
           |      AND o_orderdate >= TIMESTAMP '2000-01-01')
           |GROUP BY n_name ORDER BY nation""".stripMargin,

      "q95_rare_bigrams" -> rareBigramsOracleSql,


      "q96_domain_cap" ->
        """WITH h0 AS (SELECT doc_id, (doc_id * 1000003) % 2147483647 AS h FROM documents),
          |h1 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT doc_id, (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |rk AS (SELECT d.doc_id, d.source,
          |    ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY h2.h, d.doc_id) AS rk
          |  FROM documents d JOIN h2 USING (doc_id))
          |SELECT doc_id, source FROM rk WHERE rk <= 20 ORDER BY doc_id""".stripMargin,


      "q97_inverted_index" ->
        """WITH toks AS (SELECT doc_id AS id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS term
          |  FROM documents),
          |tf AS (SELECT term, id, COUNT(*) AS tf FROM toks GROUP BY term, id),
          |pos AS (SELECT term, id, tf,
          |    row_number() OVER (PARTITION BY term ORDER BY id) AS rn FROM tf)
          |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
          |  MIN(id) AS first_id, MAX(id) AS last_id,
          |  CAST(SUM(id * tf) AS BIGINT) AS dot_check,
          |  CAST(SUM(id * rn) AS BIGINT) AS ord_check
          |FROM pos GROUP BY term ORDER BY term""".stripMargin,


      "q98_bm25" -> bm25OracleSql,


      "q99_c4_lines" ->
        """WITH d AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
          |  FROM documents),
          |l AS (SELECT doc_id,
          |    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
          |    ELSE list_transform(range(0, CAST(floor((len(toks) - 1) / 12) AS BIGINT) + 1),
          |      i -> array_to_string(toks[CAST(i * 12 + 1 AS INT) : CAST(i * 12 + 12 AS INT)], ' '))
          |    END AS lines
          |  FROM d),
          |k AS (SELECT doc_id, lines,
          |    list_filter(lines, (ln, i) ->
          |      len(list_filter(str_split(ln, ' '), w -> w <> '')) >= 5
          |      AND len(list_filter(['slow'], w -> list_contains(str_split(ln, ' '), w))) = 0
          |      AND list_position(lines, ln) = i) AS kept_lines
          |  FROM l)
          |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
          |  CAST(len(kept_lines) AS INT) AS n_kept,
          |  len(kept_lines) >= 2 AS kept,
          |  CAST(length(coalesce(array_to_string(kept_lines, ' '), '')) AS INT) AS kept_len
          |FROM k ORDER BY doc_id""".stripMargin,

      "q100_classifier" -> classifierOracleSql,


      "q101_knn_graph" ->
        s"""WITH $codebookCte,
          |$assignedCte,
          |$cellPairsCte,
          |rk AS (SELECT id, nbr_id, distance,
          |    CAST(row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS INT) AS rank
          |  FROM p)
          |SELECT id, rank, nbr_id, round(distance, 6) AS distance
          |FROM rk WHERE rank <= 3 ORDER BY id, rank""".stripMargin,


      // Same register replay as q75 (shard-merge collapses exactly to the
      // direct sketch because max is associative): reuse that arithmetic.
      "q102_hll_merge" ->
        s"""WITH ev AS (SELECT event_type, user_id AS key FROM events),
          |kh0 AS (SELECT event_type, (key * 1000003) % 2147483647 AS a0 FROM ev),
          |kh1 AS (SELECT event_type, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1 FROM kh0),
          |kh2 AS (SELECT event_type, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h FROM kh1),
          |br AS (SELECT event_type, h >> 26 AS b,
          |    CASE WHEN (h & 67108863) = 0 THEN 27
          |         ELSE 27 - length(bin(h & 67108863)) END AS rho FROM kh2),
          |mb AS (SELECT event_type, b, MAX(rho) AS mx FROM br GROUP BY event_type, b),
          |hs AS (SELECT event_type,
          |    SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
          |    COUNT(*) AS nb FROM mb GROUP BY event_type)
          |SELECT event_type,
          |  ${Sketches.hllFactor(5)} / CAST(present + (32 - nb) * 134217728 AS DOUBLE) AS hll_est
          |FROM hs ORDER BY event_type""".stripMargin,


      "q103_ann_recall" ->
        s"""WITH $codebookCte,
          |$assignedCte,
          |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id < 5),
          |probe AS (SELECT query_id, qv, cid FROM (
          |    SELECT q.query_id, q.qv, c.cid,
          |      row_number() OVER (PARTITION BY q.query_id
          |        ORDER BY list_distance(qv, c.cv), c.cid) AS rn
          |    FROM q, c) WHERE rn <= 2),
          |approx AS (SELECT query_id, vec_id FROM (
          |    SELECT p.query_id, a.vec_id,
          |      row_number() OVER (PARTITION BY p.query_id
          |        ORDER BY 1.0 - list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), p.qv),
          |          a.vec_id) AS rk
          |    FROM a JOIN probe p ON a.centroid_id = p.cid) WHERE rk <= 3),
          |exact AS (SELECT query_id, vec_id FROM (
          |    SELECT q.query_id, e.vec_id,
          |      row_number() OVER (PARTITION BY q.query_id
          |        ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv),
          |          e.vec_id) AS rk
          |    FROM embeddings e, q) WHERE rk <= 3),
          |hits AS (SELECT x.query_id, COUNT(*) AS n_hit
          |  FROM exact x JOIN approx ap USING (query_id, vec_id)
          |  GROUP BY x.query_id)
          |SELECT qs.query_id, coalesce(h.n_hit, 0) AS n_hit,
          |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 3 AS recall
          |FROM (SELECT DISTINCT query_id FROM exact) qs
          |LEFT JOIN hits h USING (query_id) ORDER BY qs.query_id""".stripMargin,


      "q104_index_store" ->
        """WITH toks AS (SELECT doc_id AS id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS term
          |  FROM documents),
          |tf AS (SELECT term, id, COUNT(*) AS tf FROM toks GROUP BY term, id)
          |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
          |  CAST(SUM(id * tf) AS BIGINT) AS dot_check
          |FROM tf WHERE term IN ('spark', 'join', 'vector')
          |GROUP BY term ORDER BY term""".stripMargin,

      // shard-merged CMS grid ≡ the single-pass grid (cells are linear
      // counts), so the merge query replays against the same oracle
      "q105_cms_merge" -> cmsHeavyHittersOracleSql,

      // index-served BM25 is arithmetic-identical to the scan path —
      // same oracle proves the persisted index serves the same scores
      "q106_index_bm25" -> bm25OracleSql,


      "q107_retention" ->
        """WITH ev AS (SELECT DISTINCT user_id,
          |    CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') // 7 AS INT) AS wk
          |  FROM events),
          |cohort AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id),
          |sizes AS (SELECT cohort_week, COUNT(*) AS cohort_n FROM cohort GROUP BY cohort_week),
          |m AS (SELECT c.cohort_week, e.wk, COUNT(*) AS n_users
          |  FROM ev e JOIN cohort c USING (user_id) GROUP BY c.cohort_week, e.wk)
          |SELECT m.cohort_week, m.wk - m.cohort_week AS week_offset, n_users,
          |  CAST(n_users AS DOUBLE) / cohort_n AS frac
          |FROM m JOIN sizes USING (cohort_week)
          |ORDER BY cohort_week, week_offset""".stripMargin,


      "q108_hist_quantiles" ->
        """WITH h AS (SELECT CAST(least(greatest(floor((l_quantity - 0.0) / 1.0), 0), 49) AS BIGINT) AS b,
          |    COUNT(*) AS c
          |  FROM lineitem GROUP BY b),
          |cum AS (SELECT b, c, CAST(SUM(c) OVER (ORDER BY b) AS BIGINT) AS cum FROM h),
          |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
          |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
          |t AS (SELECT q, CAST(ceil(q * n) AS BIGINT) AS target FROM qs, n),
          |sel AS (SELECT q, target, b, c, cum,
          |    row_number() OVER (PARTITION BY q ORDER BY b) AS rn
          |  FROM t JOIN cum ON cum >= target)
          |SELECT q, 0.0 + 1.0 * (b + CAST(target - (cum - c) AS DOUBLE) / c) AS est
          |FROM sel WHERE rn = 1 ORDER BY q""".stripMargin,


      "q109_hybrid_rrf" ->
        s"""WITH lexbase AS ($bm25OracleSql),
          |lex AS (SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS INT) AS rank
          |  FROM lexbase),
          |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
          |dense AS (SELECT vec_id AS id, rank FROM (
          |    SELECT e.vec_id,
          |      CAST(row_number() OVER (ORDER BY
          |        1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv),
          |        e.vec_id) AS INT) AS rank
          |    FROM embeddings e, q) WHERE rank <= 20),
          |u AS (SELECT id, 1.0 / (60 + rank) AS contrib FROM lex
          |  UNION ALL SELECT id, 1.0 / (60 + rank) FROM dense)
          |SELECT id,
          |  CAST(SUM(CAST(contrib AS DECIMAL(27,15))) AS DOUBLE) AS rrf_score,
          |  COUNT(*) AS n_lists
          |FROM u GROUP BY id
          |ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin,


      "q110_window_anomaly" ->
        """WITH ev AS (SELECT event_id, event_type, value FROM events),
          |st AS (SELECT event_type, COUNT(*) AS n,
          |    CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS s,
          |    CAST(SUM(CAST(value * value AS DECIMAL(24,6))) AS DOUBLE) AS ss
          |  FROM ev GROUP BY event_type)
          |SELECT event_id, event_type, value,
          |  (value - s / n) / sqrt((ss - s * s / n) / n) AS z
          |FROM ev JOIN st USING (event_type)
          |WHERE abs((value - s / n) / sqrt((ss - s * s / n) / n)) > 2.0
          |ORDER BY event_id""".stripMargin,


      "q111_group_corr" ->
        """WITH st AS (SELECT l_returnflag, COUNT(*) AS n,
          |    CAST(SUM(CAST(l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sx,
          |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sy,
          |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(24,6))) AS DOUBLE) AS sxx,
          |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS syy,
          |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sxy
          |  FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, n,
          |  round((n * sxy - sx * sy) /
          |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12) AS corr
          |FROM st ORDER BY l_returnflag""".stripMargin,

      "q112_incremental_dedup" -> incrementalDedupOracleSql,

      "q113_phash_neardup" -> phashOracleSql,


      "q114_url_canonical" ->
        """WITH base AS (SELECT doc_id,
          |    CAST(doc_id // 5 AS VARCHAR) AS g,
          |    CAST((doc_id // 5) % 7 AS VARCHAR) AS p
          |  FROM documents),
          |u AS (SELECT doc_id,
          |    CASE doc_id % 5
          |      WHEN 0 THEN 'https://SITE' || g || '.example.com/path' || p
          |      WHEN 1 THEN 'https://site' || g || '.example.com:443/path' || p || '?utm_source=x'
          |      WHEN 2 THEN 'https://site' || g || '.example.com/path' || p || '#frag'
          |      WHEN 3 THEN 'https://site' || g || '.example.com/path' || p || '?b=2&a=1'
          |      ELSE 'https://site' || g || '.example.com/path' || p || '?a=1&b=2&utm_campaign=z'
          |    END AS url FROM base),
          |parts AS (SELECT doc_id,
          |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
          |    lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
          |    regexp_extract(url, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1) AS port,
          |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS rawpath,
          |    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query FROM u),
          |canon AS (SELECT doc_id,
          |    scheme || '://' || host ||
          |    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
          |        AND NOT (scheme = 'https' AND port = '443')
          |      THEN ':' || port ELSE '' END ||
          |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END ||
          |    CASE WHEN len(list_filter(str_split(query, '&'), q ->
          |        q <> '' AND NOT starts_with(q, 'utm_')
          |        AND NOT starts_with(q, 'fbclid=') AND NOT starts_with(q, 'gclid='))) > 0
          |      THEN '?' || array_to_string(list_sort(list_filter(str_split(query, '&'), q ->
          |        q <> '' AND NOT starts_with(q, 'utm_')
          |        AND NOT starts_with(q, 'fbclid=') AND NOT starts_with(q, 'gclid='))), '&')
          |      ELSE '' END AS canonical_url
          |  FROM parts)
          |SELECT canonical_url, COUNT(*) AS n_variants, MIN(doc_id) AS min_doc
          |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,


      "q115_negative_samples" ->
        s"""WITH $codebookCte,
          |a AS (SELECT vec_id, centroid_id FROM (
          |    SELECT e.vec_id, c.cid AS centroid_id,
          |      row_number() OVER (PARTITION BY e.vec_id
          |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
          |    FROM embeddings e, c) WHERE rn = 1),
          |anch AS (SELECT vec_id AS anchor_id, centroid_id AS acell FROM a WHERE vec_id < 5),
          |pairs AS (SELECT anchor_id, t.vec_id AS cid
          |  FROM a t, anch
          |  WHERE t.vec_id <> anchor_id AND t.centroid_id <> acell),
          |h0 AS (SELECT anchor_id, cid,
          |    ((anchor_id * 100003 + cid) * 1000003) % 2147483647 AS h FROM pairs),
          |h1 AS (SELECT anchor_id, cid, (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT anchor_id, cid, (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |rk AS (SELECT anchor_id, cid, h,
          |    CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY h, cid) AS INT) AS rank
          |  FROM h2)
          |SELECT anchor_id, rank, cid AS neg_id, h AS pair_hash
          |FROM rk WHERE rank <= 4 ORDER BY anchor_id, rank""".stripMargin,


      "q116_epoch_mix" ->
        """WITH w AS (SELECT doc_id, lang,
          |    CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0 WHEN 'fr' THEN 0.5
          |      ELSE 1.0 END AS wt
          |  FROM documents),
          |h0 AS (SELECT doc_id, (doc_id * 1000003) % 2147483647 AS h FROM documents),
          |h1 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 2147483647 AS h FROM h0),
          |h2 AS (SELECT doc_id, (xor(h, h >> 13) * 73244475) % 2147483647 AS h FROM h1),
          |n AS (SELECT w.doc_id, w.lang,
          |    CAST(floor(wt) AS BIGINT) +
          |      CASE WHEN CAST(h AS DOUBLE) / 2147483647 < wt - floor(wt)
          |        THEN 1 ELSE 0 END AS n
          |  FROM w JOIN h2 USING (doc_id))
          |SELECT doc_id, lang, epoch FROM n, unnest(range(0, n)) AS t(epoch)
          |WHERE n > 0 ORDER BY doc_id, epoch""".stripMargin,

      "q117_training_export" -> trainingExportOracleSql,


      "q118_hourly_hll" ->
        s"""WITH ev AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
          |    user_id AS key FROM events),
          |kh0 AS (SELECT hr, (key * 1000003) % 2147483647 AS a0 FROM ev),
          |kh1 AS (SELECT hr, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1 FROM kh0),
          |kh2 AS (SELECT hr, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h FROM kh1),
          |br AS (SELECT hr, h >> 26 AS b,
          |    CASE WHEN (h & 67108863) = 0 THEN 27
          |         ELSE 27 - length(bin(h & 67108863)) END AS rho FROM kh2),
          |mb AS (SELECT hr, b, MAX(rho) AS mx FROM br GROUP BY hr, b),
          |hs AS (SELECT hr,
          |    SUM(CAST(1 AS BIGINT) << CAST(27 - mx AS INT)) AS present,
          |    COUNT(*) AS nb FROM mb GROUP BY hr),
          |ex AS (SELECT hr, COUNT(DISTINCT key) AS n_exact FROM ev GROUP BY hr)
          |SELECT ex.hr, ${Sketches.hllFactor(5)} / CAST(present + (32 - nb) * 134217728 AS DOUBLE) AS hll_est,
          |  n_exact
          |FROM ex JOIN hs USING (hr) ORDER BY hr""".stripMargin,


      // q101's graph replayed, then one NN-descent round: undirected
      // expansion → neighbor-of-neighbor candidates → cosine re-rank →
      // recall@3 of base vs refined on the sampled nodes
      "q119_nn_descent" ->
        s"""WITH $codebookCte,
          |$assignedCte,
          |$cellPairsCte,
          |g0 AS (SELECT id, nbr_id, distance FROM (
          |    SELECT id, nbr_id, distance,
          |      row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS rk
          |    FROM p) WHERE rk <= 3),
          |seed AS (SELECT id, nbr_id FROM g0
          |  UNION ALL SELECT l.vec_id AS id, r.vec_id AS nbr_id
          |  FROM embeddings l JOIN embeddings r ON r.vec_id = l.vec_id + 1),
          |und AS (SELECT id, nbr_id FROM seed
          |  UNION SELECT nbr_id AS id, id AS nbr_id FROM seed),
          |nn AS (SELECT x.id, y.nbr_id FROM und x JOIN und y ON x.nbr_id = y.id
          |    WHERE x.id <> y.nbr_id
          |  UNION SELECT id, nbr_id FROM und),
          |sc AS (SELECT nn.id, nn.nbr_id,
          |    1.0 - list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
          |      CAST(r.embedding AS DOUBLE[])) AS distance
          |  FROM nn JOIN embeddings l ON nn.id = l.vec_id
          |    JOIN embeddings r ON nn.nbr_id = r.vec_id),
          |g1 AS (SELECT id, nbr_id FROM (
          |    SELECT id, nbr_id,
          |      row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS rk
          |    FROM sc) WHERE rk <= 3),
          |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
          |  FROM embeddings WHERE vec_id < 50),
          |ex AS (SELECT qid AS id, vec_id AS nbr_id FROM (
          |    SELECT q.qid, e.vec_id,
          |      row_number() OVER (PARTITION BY q.qid
          |        ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv),
          |          e.vec_id) AS rk
          |    FROM embeddings e, q WHERE e.vec_id <> q.qid) WHERE rk <= 3),
          |hb AS (SELECT ex.id, COUNT(*) AS n FROM ex
          |  JOIN (SELECT id, nbr_id FROM g0 WHERE id < 50) b USING (id, nbr_id)
          |  GROUP BY ex.id),
          |hr AS (SELECT ex.id, COUNT(*) AS n FROM ex
          |  JOIN (SELECT id, nbr_id FROM g1 WHERE id < 50) r USING (id, nbr_id)
          |  GROUP BY ex.id)
          |SELECT qs.id,
          |  CAST(coalesce(hb.n, 0) AS BIGINT) AS n_hit_base,
          |  CAST(coalesce(hb.n, 0) AS DOUBLE) / 3 AS recall_base,
          |  CAST(coalesce(hr.n, 0) AS BIGINT) AS n_hit_ref,
          |  CAST(coalesce(hr.n, 0) AS DOUBLE) / 3 AS recall_ref
          |FROM (SELECT DISTINCT id FROM ex) qs
          |LEFT JOIN hb USING (id) LEFT JOIN hr USING (id)
          |ORDER BY qs.id""".stripMargin,


      "q120_ann_store" ->
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
          |$codebookCte,
          |$assignCte,
          |probes AS (SELECT cid FROM c, q ORDER BY list_distance(cv, qv), cid LIMIT 2)
          |SELECT e.vec_id, a.centroid_id,
          |  round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS distance
          |FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
          |WHERE a.centroid_id IN (SELECT cid FROM probes)
          |ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), e.vec_id
          |LIMIT 8""".stripMargin,


      // identical to q104's full-corpus replay: the merged store must be
      // indistinguishable from an index built over ALL documents
      "q121_index_merge" ->
        """WITH toks AS (SELECT doc_id AS id,
          |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS term
          |  FROM documents),
          |tf AS (SELECT term, id, COUNT(*) AS tf FROM toks GROUP BY term, id)
          |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
          |  CAST(SUM(id * tf) AS BIGINT) AS dot_check
          |FROM tf WHERE term IN ('spark', 'join', 'vector')
          |GROUP BY term ORDER BY term""".stripMargin,


      "q122_truncated_rerank" ->
        """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 2),
          |short AS (
          |  SELECT vec_id, embedding,
          |    1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[])[1:32], qv[1:32]) AS coarse_dist
          |  FROM embeddings, q ORDER BY coarse_dist, vec_id LIMIT 50)
          |SELECT s.vec_id, round(s.coarse_dist, 6) AS coarse_dist,
          |  round(1.0 - list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), qv), 6) AS distance
          |FROM short s, q
          |ORDER BY 1.0 - list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), qv), s.vec_id
          |LIMIT 8""".stripMargin,


      // two Lloyd rounds replayed: window-argmin assignment (≡ the Spark
      // fold — sqrt is monotone, ties by cid), decimal-exact means,
      // list(m ORDER BY dim) rebuilds round-2 centroids
      "q123_kmeans" ->
        """WITH c0 AS (SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cv
          |  FROM embeddings WHERE vec_id < 8),
          |a1 AS (SELECT vec_id, embedding, centroid_id FROM (
          |    SELECT e.vec_id, e.embedding, c.cid AS centroid_id,
          |      row_number() OVER (PARTITION BY e.vec_id
          |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
          |    FROM embeddings e, c0 c) WHERE rn = 1),
          |m1 AS (SELECT centroid_id AS cid, CAST(i AS INT) AS dim,
          |    CAST(SUM(CAST(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS DECIMAL(27,15))) AS DOUBLE)
          |      / COUNT(*) AS m
          |  FROM a1, unnest(range(0, 64)) AS t(i) GROUP BY centroid_id, i),
          |c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
          |a2 AS (SELECT vec_id, embedding, centroid_id FROM (
          |    SELECT e.vec_id, e.embedding, c.cid AS centroid_id,
          |      row_number() OVER (PARTITION BY e.vec_id
          |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
          |    FROM embeddings e, c1 c) WHERE rn = 1),
          |m2 AS (SELECT centroid_id AS cid, CAST(i AS INT) AS dim,
          |    CAST(SUM(CAST(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS DECIMAL(27,15))) AS DOUBLE)
          |      / COUNT(*) AS m
          |  FROM a2, unnest(range(0, 64)) AS t(i) GROUP BY centroid_id, i)
          |SELECT cid, dim, round(m, 6) AS mean FROM m2 ORDER BY cid, dim""".stripMargin,


      "q124_pq_search" -> pqOracleSql,


      // PNG is lossless: the oracle replays decode(encode(img)) == img
      // arithmetically — generator pixels → integer 2×2 pool → mean/aHash
      "q125_image_decode" ->
        """WITH blocks AS (
          |  SELECT doc_id, by * 8 + bx AS j,
          |    (  ((2*bx)   * 7 + (2*by)   * 13 + doc_id * 31) % 256
          |     + ((2*bx+1) * 7 + (2*by)   * 13 + doc_id * 31) % 256
          |     + ((2*bx)   * 7 + (2*by+1) * 13 + doc_id * 31) % 256
          |     + ((2*bx+1) * 7 + (2*by+1) * 13 + doc_id * 31) % 256) // 4 AS bv
          |  FROM documents, unnest(range(0, 8)) t1(bx), unnest(range(0, 8)) t2(by)),
          |m AS (SELECT doc_id, sum(bv) / 64.0 AS mean FROM blocks GROUP BY doc_id),
          |h AS (SELECT b.doc_id,
          |    sum(CASE WHEN b.j < 63 AND CAST(b.bv AS DOUBLE) > m.mean
          |      THEN (CAST(1 AS BIGINT) << CAST(b.j AS INT)) ELSE 0 END) AS ahash
          |  FROM blocks b JOIN m ON b.doc_id = m.doc_id GROUP BY b.doc_id)
          |SELECT m.doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
          |  round(m.mean, 6) AS mean_gray, CAST(h.ahash AS BIGINT) AS ahash
          |FROM m JOIN h ON m.doc_id = h.doc_id ORDER BY m.doc_id""".stripMargin,


      "q126_image_neardup" -> imageNearDupOracleSql,


      "q127_wav_decode" ->
        """WITH s AS (
          |  SELECT doc_id, ((doc_id * 31 + i * 17) % 4096) - 2048 AS v
          |  FROM documents, unnest(range(0, 128 + doc_id % 64)) t(i)),
          |a AS (SELECT doc_id, count(*) AS n, max(abs(v)) AS peak,
          |    round(CAST(sum(v * v) AS DOUBLE) / count(*), 6) AS mean_square
          |  FROM s GROUP BY doc_id)
          |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
          |  CAST(8000 AS INT) AS sample_rate, CAST(peak AS BIGINT) AS peak,
          |  mean_square
          |FROM a ORDER BY doc_id""".stripMargin,


      "q128_gif_frames" ->
        """WITH f AS (
          |  SELECT doc_id, fi
          |  FROM documents, unnest(range(0, 3 + doc_id % 5)) t(fi)
          |  WHERE doc_id < 1000 AND fi % 2 = 0),
          |p AS (SELECT doc_id, fi,
          |    sum(((i % 8) * 3 + (i // 8) * 5 + fi * 11 + doc_id * 7) % 256) AS s
          |  FROM f, unnest(range(0, 64)) t2(i) GROUP BY doc_id, fi)
          |SELECT doc_id, CAST(fi AS INT) AS frame_index,
          |  round(CAST(s AS DOUBLE) / 64.0, 6) AS frame_mean
          |FROM p ORDER BY doc_id, frame_index""".stripMargin,


      // q101's graph replayed, then the beam rounds unrolled: each round
      // is expand-neighbors ∪ beam → score vs the query → keep 8
      "q129_graph_search" ->
        s"""WITH $codebookCte,
          |$assignedCte,
          |$cellPairsCte,
          |g AS (SELECT id, nbr_id FROM (
          |    SELECT id, nbr_id,
          |      row_number() OVER (PARTITION BY id ORDER BY distance, nbr_id) AS rk
          |    FROM p) WHERE rk <= 3),
          |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |q AS (SELECT v AS qv FROM ev WHERE vec_id = 5),
          |b0 AS (SELECT vec_id AS cand,
          |    1.0 - list_cosine_similarity(v, qv) AS distance
          |  FROM ev, q WHERE vec_id IN (0, 1, 2, 3)
          |  ORDER BY distance, cand LIMIT 8),
          |x1 AS (SELECT DISTINCT cand FROM (
          |  SELECT g.nbr_id AS cand FROM b0 JOIN g ON g.id = b0.cand
          |  UNION ALL SELECT cand FROM b0)),
          |b1 AS (SELECT x1.cand, 1.0 - list_cosine_similarity(v, qv) AS distance
          |  FROM x1 JOIN ev ON ev.vec_id = x1.cand, q
          |  ORDER BY distance, cand LIMIT 8),
          |x2 AS (SELECT DISTINCT cand FROM (
          |  SELECT g.nbr_id AS cand FROM b1 JOIN g ON g.id = b1.cand
          |  UNION ALL SELECT cand FROM b1)),
          |b2 AS (SELECT x2.cand, 1.0 - list_cosine_similarity(v, qv) AS distance
          |  FROM x2 JOIN ev ON ev.vec_id = x2.cand, q
          |  ORDER BY distance, cand LIMIT 8)
          |SELECT CAST(row_number() OVER (ORDER BY distance, cand) AS INT) AS rank,
          |  CAST(cand AS BIGINT) AS vec_id, round(distance, 6) AS distance
          |FROM b2 ORDER BY rank LIMIT 5""".stripMargin,


      "q130_bpe_merges" -> bpeOracleSql,


      // q66's hash chain over q26's fingerprint; side sketches → union
      // k-min → membership counts, estimates replayed in the same op order
      "q131_kmv_overlap" ->
        """WITH fp AS (SELECT doc_id,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT),
          |      list_transform(range(1, length(text) + 1),
          |        i -> CAST(ord(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
          |      (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
          |  FROM documents),
          |hs AS (SELECT doc_id, (xor(h1, h1 >> 13) * 73244475) % 2147483647 AS h FROM (
          |    SELECT doc_id, (xor(h0, h0 >> 16) * 73244475) % 2147483647 AS h1 FROM (
          |      SELECT doc_id, (fp * 1000003) % 2147483647 AS h0 FROM fp))),
          |ka AS (SELECT h FROM (SELECT DISTINCT h FROM hs WHERE doc_id < 350)
          |  ORDER BY h LIMIT 64),
          |kb AS (SELECT h FROM (SELECT DISTINCT h FROM hs WHERE doc_id >= 150)
          |  ORDER BY h LIMIT 64),
          |u AS (SELECT h, max(a) AS in_a, max(b) AS in_b FROM (
          |    SELECT h, 1 AS a, 0 AS b FROM ka
          |    UNION ALL SELECT h, 0 AS a, 1 AS b FROM kb) s
          |  GROUP BY h ORDER BY h LIMIT 64),
          |agg AS (SELECT count(*) AS n_union,
          |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
          |    max(h) AS hk FROM u)
          |SELECT n_union, n_both,
          |  round(CASE WHEN n_union < 64 THEN CAST(n_union AS DOUBLE)
          |    ELSE 63.0 * 2147483647 / hk END, 6) AS union_est,
          |  round(CAST(n_both AS DOUBLE) / n_union, 6) AS jaccard_est,
          |  round((CAST(n_both AS DOUBLE) / n_union) *
          |    (CASE WHEN n_union < 64 THEN CAST(n_union AS DOUBLE)
          |     ELSE 63.0 * 2147483647 / hk END), 6) AS intersection_est
          |FROM agg""".stripMargin,


      // q54's assignment+probe replay with a different query vector — the
      // store write/read is Spark-side plumbing the oracle need not see
      // merged store ≡ full rebuild: same oracle shape as q120, computed
      // over ALL embeddings (query vec 2)
      "q132_ann_merge" ->
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 2),
          |$codebookCte,
          |$assignCte,
          |probes AS (SELECT cid FROM c, q ORDER BY list_distance(cv, qv), cid LIMIT 2)
          |SELECT e.vec_id, a.centroid_id,
          |  round(1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), 6) AS distance
          |FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id, q
          |WHERE a.centroid_id IN (SELECT cid FROM probes)
          |ORDER BY 1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv), e.vec_id
          |LIMIT 8""".stripMargin,


      "q133_bpe_encode" -> bpeEncodeOracleSql,


      "q134_dsir_select" -> dsirOracleSql,


      "q135_semantic_dedup" -> semanticDedupOracleSql,


      "q136_pagerank" -> pageRankOracleSql,


      "q137_ppr_expand" -> pprOracleSql,


      "q138_semantic_contamination" -> semanticContaminationOracleSql,


      "q139_label_propagation" -> labelPropagationOracleSql,


      // replays the q67 double-hash Bloom arithmetic over the urgent-dim
      // keys, then row-level fact pruning + the exact join counts
      "q140_bloom_join" ->
        """WITH dim AS (SELECT DISTINCT o_orderkey AS key FROM orders
          |  WHERE o_orderpriority = '1-URGENT'),
          |bh0 AS (SELECT key, (key * 1000003) % 2147483647 AS a0,
          |    (key * 999983) % 2147483647 AS b0 FROM dim),
          |bh1 AS (SELECT key, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
          |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1 FROM bh0),
          |bh2 AS (SELECT key, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
          |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2 FROM bh1),
          |bits AS (SELECT DISTINCT (h1 + i * h2) % 131072 AS bit
          |  FROM bh2, unnest(range(0, 3)) AS t(i)),
          |fk AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
          |ph0 AS (SELECT key, (key * 1000003) % 2147483647 AS a0,
          |    (key * 999983) % 2147483647 AS b0 FROM fk),
          |ph1 AS (SELECT key, (xor(a0, a0 >> 16) * 73244475) % 2147483647 AS a1,
          |    (xor(b0, b0 >> 16) * 73244475) % 2147483647 AS b1 FROM ph0),
          |ph2 AS (SELECT key, (xor(a1, a1 >> 13) * 73244475) % 2147483647 AS h1,
          |    ((xor(b1, b1 >> 13) * 73244475) % 2147483647) | 1 AS h2 FROM ph1),
          |ppos AS (SELECT key, (h1 + i * h2) % 131072 AS bit
          |  FROM ph2, unnest(range(0, 3)) AS t(i)),
          |pass AS (SELECT key FROM ppos JOIN bits USING (bit)
          |  GROUP BY key HAVING COUNT(*) = 3),
          |stats AS (SELECT
          |  (SELECT COUNT(*) FROM lineitem) AS n_fact,
          |  (SELECT COUNT(*) FROM lineitem JOIN pass ON l_orderkey = key) AS n_pass,
          |  (SELECT COUNT(*) FROM lineitem JOIN dim ON l_orderkey = key) AS n_joined)
          |SELECT n_fact, n_pass, n_joined,
          |  n_pass - n_joined AS n_false_pass FROM stats""".stripMargin,


      // the q35 assignment, squared-distance inertia in exact decimal,
      // rollup total via UNION ALL (NULL cell id)
      "q141_cluster_quality" ->
        s"""WITH $codebookCte,
          |a0 AS (SELECT e.vec_id, c.cid AS centroid_id,
          |    list_distance(CAST(e.embedding AS DOUBLE[]), c.cv) AS centroid_dist,
          |    row_number() OVER (PARTITION BY e.vec_id
          |      ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cv), c.cid) AS rn
          |  FROM embeddings e, c),
          |a AS (SELECT vec_id, centroid_id, centroid_dist FROM a0 WHERE rn = 1),
          |grp AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_points,
          |    CAST(sum(CAST(centroid_dist * centroid_dist AS DECIMAL(30,12))) AS DOUBLE) AS inertia
          |  FROM a GROUP BY centroid_id),
          |tot AS (SELECT CAST(NULL AS INT) AS centroid_id,
          |    CAST(count(*) AS BIGINT) AS n_points,
          |    CAST(sum(CAST(centroid_dist * centroid_dist AS DECIMAL(30,12))) AS DOUBLE) AS inertia
          |  FROM a)
          |SELECT * FROM (SELECT * FROM grp UNION ALL SELECT * FROM tot)
          |ORDER BY centroid_id NULLS LAST""".stripMargin,


      // brute-force exact Jaccard over every shared-token pair — the
      // prefix-filtered algorithm must produce the IDENTICAL pair set
      // (completeness of the prefix bound is what's being gated)
      "q142_similarity_join" ->
        """WITH g AS (
          |  SELECT DISTINCT doc_id, substring(text, CAST(s AS INT) + 1, 5) AS tok
          |  FROM documents, unnest(range(0, length(text) - 4, 1)) AS t(s)
          |  WHERE length(text) >= 5 AND doc_id < 600
          |  UNION
          |  SELECT doc_id, text AS tok FROM documents
          |  WHERE length(text) < 5 AND doc_id < 600),
          |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
          |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    CAST(count(*) AS BIGINT) AS nc
          |  FROM g a JOIN g b ON a.tok = b.tok AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT doc_a, doc_b,
          |  CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) AS jaccard
          |FROM pr JOIN sz sa ON doc_a = sa.doc_id
          |  JOIN sz sb ON doc_b = sb.doc_id
          |WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.6
          |ORDER BY doc_a, doc_b""".stripMargin,


      "q143_lsh_recall" -> lshRecallOracleSql,


      "q144_local_supplier_volume" ->
        """SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
          |FROM lineitem, orders, supplier, customer, nation, region
          |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          |  AND o_custkey = c_custkey AND c_nationkey = s_nationkey
          |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1997-01-01'
          |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,


      "q145_waiting_suppliers" ->
        """SELECT s_name, count(*) AS numwait
          |FROM lineitem l1, orders, supplier
          |WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
          |  AND l1.l_suppkey = s_suppkey
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |    WHERE l2.l_orderkey = l1.l_orderkey
          |      AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |    WHERE l3.l_orderkey = l1.l_orderkey
          |      AND l3.l_suppkey <> l1.l_suppkey
          |      AND l3.l_shipdate >= l1.l_shipdate)
          |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,


      "q146_nation_profit" ->
        """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
          |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
          |FROM lineitem, part, orders, supplier, nation
          |WHERE l_partkey = p_partkey AND p_name LIKE '%red%'
          |  AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          |  AND s_nationkey = n_nationkey
          |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,


      "q147_drift_chi2" ->
        """WITH r AS (SELECT source AS category, count(*) AS n_ref
          |  FROM documents WHERE doc_id % 3 = 0 GROUP BY 1),
          |c AS (SELECT source AS category, count(*) AS n_cur
          |  FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1),
          |j AS (SELECT coalesce(r.category, c.category) AS category,
          |    CAST(coalesce(n_ref, 0) AS BIGINT) AS n_ref,
          |    CAST(coalesce(n_cur, 0) AS BIGINT) AS n_cur
          |  FROM r FULL JOIN c ON r.category = c.category),
          |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
          |    CAST(sum(n_cur) AS BIGINT) AS tc FROM j),
          |e AS (SELECT category, n_ref, n_cur,
          |    CASE WHEN n_ref > 0 THEN CAST(tc * n_ref AS DOUBLE) / tr END AS expected
          |  FROM j, t),
          |d AS (SELECT *, CAST(n_cur AS DOUBLE) - expected AS dd FROM e),
          |p AS (SELECT category, n_ref, n_cur, expected,
          |    (dd * dd) / expected AS contrib FROM d),
          |tot AS (SELECT CAST(NULL AS VARCHAR) AS category,
          |    CAST(sum(n_ref) AS BIGINT) AS n_ref,
          |    CAST(sum(n_cur) AS BIGINT) AS n_cur,
          |    CAST(NULL AS DOUBLE) AS expected,
          |    CAST(sum(CAST(contrib AS DECIMAL(32,10))) AS DOUBLE) AS contrib
          |  FROM p)
          |SELECT * FROM (SELECT * FROM p UNION ALL SELECT * FROM tot)
          |ORDER BY category NULLS LAST""".stripMargin,


      // replays the sign-bit pack (list_reduce OR-fold), Hamming
      // shortlist, and exact-cosine rerank of q148
      "q148_bq_search" -> {
        // DuckDB range-checks 1<<63; the sign bit rides as its literal
        val pack = (v: String) =>
          s"list_reduce(list_transform(range(0, 64), i -> " +
            s"CASE WHEN $v[CAST(i AS INT) + 1] > 0 " +
            s"THEN (CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT) " +
            s"ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END) " +
            s"ELSE CAST(0 AS BIGINT) END), (a, b) -> a | b)"
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv,
           |    ${pack("embedding")} AS qbq
           |  FROM embeddings WHERE vec_id = 2),
           |b AS (SELECT vec_id, embedding, ${pack("embedding")} AS bq
           |  FROM embeddings),
           |short AS (SELECT vec_id, embedding,
           |    CAST(bit_count(xor(bq, qbq)) AS INT) AS hamming
           |  FROM b, q ORDER BY hamming, vec_id LIMIT 50)
           |SELECT s.vec_id, s.hamming,
           |  round(1.0 - list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), qv), 6) AS distance
           |FROM short s, q
           |ORDER BY 1.0 - list_cosine_similarity(CAST(s.embedding AS DOUBLE[]), qv), s.vec_id
           |LIMIT 8""".stripMargin
      },


      "q149_shipping_priority" ->
        s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
           |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
           |FROM lineitem, orders, customer
           |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           |  AND c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1995-03-15'
           |  AND l_shipdate > TIMESTAMP '1995-03-15'
           |GROUP BY 1, 2, 3
           |ORDER BY revenue DESC, o_orderdate, l_orderkey
           |LIMIT 10""".stripMargin,


      // cos rides as 1 − (1 − cos): the SAME double-op sequence as the
      // Spark heap (distance-domain ordering, then back) — see
      // Similarity.marginMining
      "q150_margin_mining" ->
        """WITH s AS (SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS sv
          |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 400),
          |t AS (SELECT vec_id AS tid, CAST(embedding AS DOUBLE[]) AS tv
          |  FROM embeddings WHERE vec_id % 2 = 1),
          |fwd0 AS (SELECT sid, tid,
          |    1.0 - list_cosine_similarity(sv, tv) AS dist FROM s, t),
          |fwd AS (SELECT sid, tid, 1.0 - dist AS cos,
          |    row_number() OVER (PARTITION BY sid ORDER BY dist, tid) AS rn
          |  FROM fwd0),
          |fk AS (SELECT * FROM fwd WHERE rn <= 4),
          |cand AS (SELECT DISTINCT tid FROM fk),
          |bwd0 AS (SELECT c.tid, s2.sid,
          |    1.0 - list_cosine_similarity(t2.tv, s2.sv) AS dist
          |  FROM cand c JOIN t t2 USING (tid), s s2),
          |bwd AS (SELECT tid, 1.0 - dist AS cos,
          |    row_number() OVER (PARTITION BY tid ORDER BY dist, sid) AS rn
          |  FROM bwd0),
          |fsum AS (SELECT sid, SUM(CAST(cos AS DECIMAL(30,12))) AS fs
          |  FROM fk GROUP BY sid),
          |bsum AS (SELECT tid, SUM(CAST(cos AS DECIMAL(30,12))) AS bs
          |  FROM bwd WHERE rn <= 4 GROUP BY tid),
          |scored AS (SELECT f.sid, f.tid, f.cos,
          |    (8.0 * f.cos) / CAST(fs + bs AS DOUBLE) AS margin
          |  FROM fk f JOIN fsum USING (sid) JOIN bsum USING (tid)),
          |best AS (SELECT *, row_number() OVER (PARTITION BY sid
          |    ORDER BY margin DESC, tid) AS brn FROM scored)
          |SELECT sid AS src_id, tid AS tgt_id, round(cos, 6) AS cosine,
          |  round(margin, 6) AS margin
          |FROM best WHERE brn = 1 AND margin > 1.0 ORDER BY src_id""".stripMargin,


      "q151_split_assign" -> splitAssignOracleSql,


      "q152_ewma_monitor" ->
        """WITH e AS (SELECT event_id, event_type,
          |    CAST(ts AS TIMESTAMP) AS ts, value FROM events),
          |w AS (SELECT event_type, event_id, value,
          |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
          |      ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING) AS hist
          |  FROM e),
          |f AS (SELECT event_type, event_id, value, hist,
          |    len(hist) AS L FROM w WHERE len(hist) >= 4),
          |g AS (SELECT event_type, event_id, value, L,
          |    CAST(list_reduce(list_transform(hist, (v, i) ->
          |        CAST(v / CAST(1 << (L - i + 1) AS DOUBLE) AS DECIMAL(38,18))),
          |      (a, x) -> a + x) AS DOUBLE)
          |      / (1.0 - 1.0 / CAST(1 << L AS DOUBLE)) AS ewma
          |  FROM f)
          |SELECT event_type, event_id, value, CAST(L AS INT) AS n_history,
          |  round(ewma, 6) AS ewma, round(value - ewma, 6) AS deviation
          |FROM g WHERE abs(value - ewma) > 120.0
          |ORDER BY event_type, event_id""".stripMargin,


      "q153_span_corruption" ->
        """WITH t AS (SELECT doc_id, CAST(len(list_filter(
          |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS INT)
          |      AS n_tokens
          |  FROM documents),
          |b AS (SELECT doc_id, n_tokens,
          |    CAST(n_tokens // 20 AS BIGINT) AS n_spans FROM t),
          |h0 AS (SELECT doc_id, ((doc_id * 31) * 1000003) % 2147483647 AS h
          |  FROM documents),
          |h1 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT doc_id, (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1)
          |SELECT b.doc_id, b.n_tokens, n_spans,
          |  n_spans * 3 AS n_masked,
          |  n_tokens - n_spans * 3 + n_spans AS input_len,
          |  n_spans * 3 + n_spans AS target_len,
          |  CASE WHEN n_spans > 0 THEN h2.h % 18 END AS first_span_offset
          |FROM b JOIN h2 USING (doc_id) ORDER BY doc_id""".stripMargin,


      "q154_priority_sample" ->
        """WITH h0 AS (SELECT doc_id, (doc_id * 1000003) % 2147483647 AS h
          |  FROM documents),
          |h1 AS (SELECT doc_id, (xor(h, h >> 16) * 73244475) % 2147483647 AS h
          |  FROM h0),
          |h2 AS (SELECT doc_id, (xor(h, h >> 13) * 73244475) % 2147483647 AS h
          |  FROM h1),
          |p AS (SELECT d.doc_id, d.n_chars,
          |    (CAST(d.n_chars AS DOUBLE) * 2147483647) / CAST(h + 1 AS DOUBLE)
          |      AS priority
          |  FROM documents d JOIN h2 USING (doc_id)),
          |r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id)
          |    AS rn FROM p),
          |tau AS (SELECT priority AS tau FROM r WHERE rn = 101)
          |SELECT doc_id, n_chars, round(priority, 6) AS priority,
          |  round(greatest(CAST(n_chars AS DOUBLE), tau), 6) AS est_weight
          |FROM r, tau WHERE rn <= 100 ORDER BY doc_id""".stripMargin,


      "q155_dedup_report" -> dedupReportOracleSql
  )
}
