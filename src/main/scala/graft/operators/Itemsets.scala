package graft.operators

import graft.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-itemset mining (Apriori / SON shape) over document token
  * sets — the market-basket classic applied where a curation pipeline
  * actually uses it: co-occurring boilerplate phrases, template token
  * bundles, and tag combinations that mark machine-generated text. A
  * PMI collocation ([[NgramLm.pmiCollocations]]) scores ADJACENT pairs;
  * itemsets find unordered co-presence at any distance, with the
  * support-monotonicity prune that makes k > 2 tractable.
  *
  * Scale shape (the SON/Apriori distributed form): L1 is one token
  * aggregate; every candidate level is generated WITHIN a document from
  * broadcast-pruned frequent items only — the quadratic/cubic expansion
  * is per-document (bounded by the frequent-item count), never corpus ×
  * corpus, and each level's count is one map-side-combinable groupBy.
  * Level-3 candidates are additionally semi-joined against the frequent
  * PAIRS (the real Apriori prune — every subset of a frequent set is
  * frequent, so the prune is lossless and the oracle can threshold
  * directly without replaying it). Supports are exact BIGINTs; the
  * threshold is `⌊n_docs·supNum/supDen⌋`, integer `div` per parity
  * rule 6.
  */
object Itemsets {

  /** Frequent 1/2/3-itemsets of distinct lowercased whitespace tokens
    * with support ≥ ⌊n_docs·supNum/supDen⌋. Returns
    * (k, item_a, item_b, item_c, support) — item_b/item_c NULL below
    * their level — ordered (k, item_a, item_b, item_c). */
  def frequentItemsets(docs: DataFrame, idCol: String, textCol: String,
                       supNum: Int, supDen: Int): DataFrame = {
    val t = docs.select(col(idCol).as("id"),
      explode(array_distinct(
        filter(split(lower(col(textCol)), "\\s+"), x => x =!= ""))).as("item"))
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    def keepFrequent(counted: DataFrame): DataFrame = counted
      .crossJoin(broadcast(nDocs))
      .filter(col("support") >= expr(s"(_n * $supNum) div $supDen"))
      .drop("_n")
    val l1 = keepFrequent(
      t.groupBy("item").agg(count(lit(1)).as("support")))
    // integer-encode the frequent vocabulary before the expansions: the
    // level-2/3 joins and aggregates then hash/compare 4-byte ints, not
    // strings — the dictionary is broadcast-sized by construction and
    // decodes once per OUTPUT row at the end
    val dict = broadcast(l1.select("item").withColumn("iid",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("item"))))
    // the int-encoded token frame feeds FIVE plan branches (both sides
    // of the pair expansion, the level-3 basket and its two sides) —
    // checkpoint it so the corpus explode+encode runs once and the
    // candidate joins read a 2-int-column materialization (r11; also
    // collapses the ~200 KB duplicated-subtree plan that dominated
    // q213's planning time).
    // SCALE TRADE-OFF (r11 ADVICE, recorded deliberately): tf is
    // O(corpus tokens ∩ frequent vocab) — bigger than the control-plane
    // frames this codebase usually checkpoints. The alternative is
    // recomputing the explode+encode five times per run; at 100 TB the
    // right split is persisting tf to the cluster store (one write, five
    // columnar reads) rather than executor block memory. Locally the
    // unreplicated localCheckpoint is strictly better (fault tolerance
    // of a deterministic recompute is a non-issue in one JVM), and the
    // support filter keeps tf's width at two ints.
    val tf = t.join(dict, Seq("item")).select(col("id"), col("iid"))
      .transform(Lineage.cut(_, "Itemsets.keepFrequent.tf"))
    // Candidate levels expand through codegen'd id self-joins. MEASURED
    // ALTERNATIVE (do not redo): per-doc sorted baskets via collect_set
    // with map-side HOF combination expansion halves the shuffles but ran
    // 2× SLOWER at sf0.1 (16.7 s vs 7.4 s min-of-3) — nested interpreted
    // transforms allocate a struct per candidate, while the joins stay
    // inside whole-stage codegen. The shuffles here are (id, iid) rows
    // hashed by id — small and uniform. Int encoding + the early pair
    // prune below took the sf0.1 min-of-3 from 8.3 s to 3.5 s: the
    // expansion rows carry 4-byte ints instead of token strings.
    // the encoding is order-preserving (row_number over item ASC), so
    // iid_a < iid_b canonicalizes pairs exactly as the string compare
    // the oracle uses
    val l2i = keepFrequent(tf.select(col("id"), col("iid").as("ia"))
      .join(tf.select(col("id"), col("iid").as("ib")), Seq("id"))
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("support")))
    // level-3 baskets: only items that appear in some frequent pair
    val l2items = broadcast(l2i.select(col("ia").as("iid"))
      .union(l2i.select(col("ib"))).distinct())
    val tp = tf.join(l2items, Seq("iid"), "left_semi")
    val pairsB = broadcast(l2i.select("ia", "ib"))
    // prune BEFORE the third self-join: per-doc (a, b) occurrences are
    // semi-joined against the frequent pairs first, so the triple
    // expansion multiplies |frequent pairs in doc| × |items in doc|
    // instead of |items|³/6 — the (b,c)/(a,c) Apriori checks then finish
    // the lossless prune
    val dp = tp.select(col("id"), col("iid").as("ia"))
      .join(tp.select(col("id"), col("iid").as("ib")), Seq("id"))
      .filter(col("ia") < col("ib"))
      .join(pairsB, Seq("ia", "ib"), "left_semi")
    val cand3 = dp
      .join(tp.select(col("id"), col("iid").as("ic")), Seq("id"))
      .filter(col("ib") < col("ic"))
      .join(pairsB.toDF("ib", "ic"), Seq("ib", "ic"), "left_semi")
      .join(pairsB.toDF("ia", "ic"), Seq("ia", "ic"), "left_semi")
    val l3i = keepFrequent(cand3
      .groupBy("ia", "ib", "ic").agg(count(lit(1)).as("support")))
    // decode iids back to tokens — one broadcast join per output column
    // on result-set-sized frames
    def d(sfx: String) =
      broadcast(dict.select(col("item").as(s"item_$sfx"), col("iid").as(s"i$sfx")))
    val l2 = l2i.join(d("a"), Seq("ia")).join(d("b"), Seq("ib"))
      .select("item_a", "item_b", "support")
    val l3 = l3i.join(d("a"), Seq("ia")).join(d("b"), Seq("ib"))
      .join(d("c"), Seq("ic")).select("item_a", "item_b", "item_c", "support")
    val s = lit(null).cast("string")
    l1.select(lit(1).as("k"), col("item").as("item_a"), s.as("item_b"),
        s.as("item_c"), col("support"))
      .unionByName(l2.select(lit(2).as("k"), col("item_a"), col("item_b"),
        s.as("item_c"), col("support")))
      .unionByName(l3.select(lit(3).as("k"), col("item_a"), col("item_b"),
        col("item_c"), col("support")))
      .orderBy("k", "item_a", "item_b", "item_c")
  }

  /** Sequential-pattern support (PrefixSpan depth ≤ 3, gapped
    * subsequences): for every ordered pattern ⟨a⟩ / ⟨a,b⟩ / ⟨a,b,c⟩ of
    * items, the number of sequences CONTAINING it as a subsequence —
    * items in that order, any gaps between them. The ORDERED complement
    * of [[frequentItemsets]] (co-presence, order-blind) and the
    * multi-step generalization of a declared funnel (a funnel scores ONE
    * path; this scores every path and lets the threshold pick): "which
    * behavioral orderings are common" is the question session mining
    * actually asks.
    *
    * Matching is by earliest-extension greedy — t₁ = first a, t₂ =
    * first b after t₁, then any c after t₂ — which decides subsequence
    * containment EXACTLY (if any embedding exists, the greedy one does:
    * the standard exchange argument), so supports are definition-exact,
    * not heuristic. Simultaneous timestamps never chain (strict >):
    * a subsequence is a strict temporal order, and the tie rule is
    * engine-independent. Supports are exact BIGINTs; patterns below
    * `minSeqs` sequences are dropped, and the LEVEL-1 prune also gates
    * extension (support is monotone under prefix extension — the
    * Apriori argument — so pruning before the joins is lossless).
    *
    * Scale shape: every join is keyed by sequence id. Level 2 joins the
    * per-sequence first-occurrence frame (|seqs| × v₁ rows, v₁ =
    * SURVIVING level-1 vocab) back to occurrences — ≤ v₁ × N rows
    * pre-aggregate, linear in the corpus for a bounded vocabulary; level
    * 3 likewise at v₂ × N with v₂ the surviving pair count. No
    * per-sequence array is ever materialized, no window function runs
    * over whole sequences, and the expansion never goes corpus ×
    * corpus. Returns (k, item_a, item_b, item_c, n_seqs) ordered by
    * (k, item_a, item_b, item_c). */
  def sequentialPatterns(events: DataFrame, seqCol: String,
                         itemCol: String, orderCol: String,
                         minSeqs: Long): DataFrame = {
    val occR = events.select(col(seqCol).cast("long").as("sid"),
        col(itemCol).as("item"), col(orderCol).cast("long").as("t"))
      .distinct()
    val l1 = occR.groupBy("sid", "item").agg(min("t").as("t1"))
    val sup1 = l1.groupBy(col("item").as("p1"))
      .agg(count(lit(1)).as("n_seqs"))
      .filter(col("n_seqs") >= minSeqs)
    val keep1 = broadcast(sup1.select(col("p1")))
    // earliest b strictly after the first a — per (sid, a, b)
    val first1 = l1.join(keep1, col("item") === col("p1"), "left_semi")
      .select(col("sid"), col("item").as("p1"), col("t1"))
    val ext2 = first1
      .join(occR.select(col("sid"), col("item").as("p2"),
        col("t").as("_t")), Seq("sid"))
      .filter(col("_t") > col("t1"))
      .groupBy("sid", "p1", "p2").agg(min("_t").as("t2"))
    val sup2 = ext2.groupBy("p1", "p2").agg(count(lit(1)).as("n_seqs"))
      .filter(col("n_seqs") >= minSeqs)
    val keep2 = broadcast(sup2.select(col("p1"), col("p2")))
    val ext3 = ext2.join(keep2, Seq("p1", "p2"), "left_semi")
      .join(occR.select(col("sid"), col("item").as("p3"),
        col("t").as("_t")), Seq("sid"))
      .filter(col("_t") > col("t2"))
      .select("sid", "p1", "p2", "p3").distinct()
    val sup3 = ext3.groupBy("p1", "p2", "p3")
      .agg(count(lit(1)).as("n_seqs"))
      .filter(col("n_seqs") >= minSeqs)
    val s = lit(null).cast("string")
    sup1.select(lit(1).as("k"), col("p1").as("item_a"), s.as("item_b"),
        s.as("item_c"), col("n_seqs"))
      .unionByName(sup2.select(lit(2).as("k"), col("p1").as("item_a"),
        col("p2").as("item_b"), s.as("item_c"), col("n_seqs")))
      .unionByName(sup3.select(lit(3).as("k"), col("p1").as("item_a"),
        col("p2").as("item_b"), col("p3").as("item_c"), col("n_seqs")))
      .orderBy("k", "item_a", "item_b", "item_c")
  }
}
