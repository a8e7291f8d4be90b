package graft.operators

import graft.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout and shuffle-health operators.
  *
  * The reference runs on a managed store and never chooses file layout
  * (reference: src/server/app/database package hands storage to the DB);
  * a Spark pipeline at 100 TB chooses it constantly — multi-dimensional
  * clustering decides how many files a 2-predicate scan can skip, and a
  * key-frequency audit decides whether a join needs salting (see
  * [[Joins.saltedJoin]]) before the shuffle falls over, not after.
  */
object DataLayout {

  /** Morton (z-order) code: interleave the low `bits` bits of two
    * non-negative columns — x in even positions, y in odd. Sorting or
    * range-bucketing by this value co-locates rows that are close in BOTH
    * dimensions, which is what makes min/max file skipping work for
    * predicates on either column. Flat sum of shift/mask terms — whole
    * codegen, no HOF. */
  def zValue2(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Per-file min/max skipping stats for a z-ordered layout: bucket rows
    * into `nBuckets` equal z-ranges (stand-ins for files) and report each
    * bucket's row count and per-dimension min/max — exactly the footer
    * stats a reader would prune on. Narrow ranges = effective skipping. */
  def zOrderStats(df: DataFrame, xCol: String, yCol: String,
                  bits: Int, nBuckets: Int): DataFrame = {
    val span = (1L << (2 * bits)) / nBuckets
    // integer division, not `/`+cast: Spark casts double→int by truncation
    // but DuckDB by rounding, so the oracle could land keys one bucket off
    df.withColumn("_z", zValue2(col(xCol), col(yCol), bits))
      .withColumn("bucket", expr(s"_z div $span").cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(xCol).as(s"min_x"), max(xCol).as(s"max_x"),
        min(yCol).as(s"min_y"), max(yCol).as(s"max_y"))
  }

  /** Small-file compaction plan with KEY-ALIGNED file boundaries: files
    * are cut every `targetRows` rows along the sort-key order, but never
    * split a key across files — so the planned files' min/max key ranges
    * are disjoint and a point/range predicate prunes to one file run
    * (splitting a key would overlap adjacent footers and defeat
    * skipping). Returns one row per planned file: (file_id, n_keys,
    * n_rows, min_key, max_key).
    *
    * Scale shape: the cumulative sum runs over the per-KEY aggregate
    * (|distinct keys|, not |rows| — the groupBy collapses map-side), so
    * the global window orders the small frame a partition-count audit
    * would build anyway. For near-unique keys, pre-bucket the key (e.g.
    * date_trunc) before planning. */
  def compactionPlan(df: DataFrame, sortCol: String, targetRows: Long): DataFrame = {
    val w = Window.orderBy(sortCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.groupBy(sortCol).agg(count(lit(1)).as("cnt"))
      .withColumn("_cum_excl", coalesce(sum("cnt").over(w), lit(0L)))
      .withColumn("file_id", expr(s"_cum_excl div $targetRows").cast("int"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
        min(sortCol).as("min_key"), max(sortCol).as("max_key"))
  }

  /** Realize a compaction: cluster by the sort key and write at most
    * `maxRecordsPerFile` rows per file. `repartitionByRange` +
    * `sortWithinPartitions` is Spark's native large-scale compaction
    * shape — sampled range boundaries (no global sort bottleneck), then
    * each task streams its sorted run straight into rolling files. The
    * exact row-count boundaries of [[compactionPlan]] are the AUDIT view;
    * the write path trades exact counts for a single pass. */
  def compact(df: DataFrame, path: String, sortCol: String,
              nFiles: Int, maxRecordsPerFile: Long): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite").parquet(path)

  /** Rendezvous (highest-random-weight) shard of a numeric key
    * (Thaler & Ravishankar 1998): shard = argmax over s ∈ [0, nShards)
    * of hash(key, s), ties to the smaller s. The property that makes it
    * the shard router of every large distributed store: growing
    * nShards → nShards+1 moves only ~1/(nShards+1) of the keys (those
    * whose new shard's hash beats all old ones), where mod-N moves
    * almost everything. Pure per-row array fold — zero shuffle, zero
    * state, any executor computes the same shard for the same key.
    *
    * The per-(key, shard) hash is the [[Sketches.keyHash]] scramble of
    * `key·131 + s`, so the oracle replays the exact chain. */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    val scored = transform(sequence(lit(0), lit(nShards - 1)),
      s => struct(
        Sketches.keyHash(key.cast("long") * lit(131L) + s).as("h"),
        (-s).as("ns")))
    // array_max on structs is lexicographic: max h, then max ns = min s
    (-array_max(scored).getField("ns")).cast("int")
  }

  /** Resize-movement audit for [[rendezvousShard]]: per CURRENT shard
    * (out of `nShards`), how many keys live there and how many would
    * move when growing to `nShards + 1` — the capacity-planning number
    * for a shard split. Expect moved/total ≈ 1/(nShards+1). Map-side
    * double assignment, one small aggregation. */
  def shardMovement(df: DataFrame, keyCol: String, nShards: Int): DataFrame =
    df.withColumn("shard", rendezvousShard(col(keyCol), nShards))
      .withColumn("_next", rendezvousShard(col(keyCol), nShards + 1))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("shard") =!= col("_next"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(col("shard"), col("n_keys"), col("n_moved"),
        (col("n_moved").cast("double") / col("n_keys")).as("moved_frac"))

  /** Join-key skew audit: the `topK` hottest keys with their frequency
    * ratio against the mean key frequency. Ratio ≫ 1 means the shuffle
    * partition owning that key runs long — feed those keys to a salted
    * join or AQE skew handling. One groupBy + a broadcast of two numbers.
    * The ratio is (cnt · n_keys) / total — exact integers into ONE double
    * division, so the oracle replays it bit-for-bit. */
  def skewProfile(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("n_keys"), sum("cnt").as("total"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("cnt"),
        ((col("cnt") * col("n_keys")).cast("double") / col("total"))
          .as("ratio_to_mean"))
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(topK)
  }

  /** Min/max data-skipping audit: given a file assignment (`fileExpr` —
    * any deterministic row → file mapping, e.g. arrival order vs a
    * sort-on-write rank) and a range predicate [lo, hi] on `probe`,
    * computes per-file zone-map stats and whether the file is SKIPPABLE
    * (its [min, max] misses the predicate entirely) — the quantified
    * "why sort-on-write matters" number: parquet row-group pruning only
    * fires when the layout clusters the probe column. One aggregate by
    * file id; nothing row-wise survives. */
  def skipStats(df: DataFrame, fileExpr: Column, probe: Column,
                lo: Column, hi: Column): DataFrame =
    df.select(fileExpr.as("file_id"), probe.as("p"))
      .groupBy("file_id")
      .agg(min("p").as("f_min"), max("p").as("f_max"),
        count(lit(1)).as("n_rows"))
      .withColumn("skippable", col("f_max") < lo || col("f_min") > hi)

  /** [[skipStats]] for a 2-D box predicate: per-file zone maps on BOTH
    * probe columns; a file is skippable when EITHER dimension's [min,max]
    * misses its range — the audit that shows why a z-order layout prunes
    * box queries single-column sorting cannot. Feeds [[skipSummary]]. */
  def skipStats2D(df: DataFrame, fileExpr: Column, px: Column, py: Column,
                  loX: Column, hiX: Column,
                  loY: Column, hiY: Column): DataFrame =
    df.select(fileExpr.as("file_id"), px.as("_x"), py.as("_y"))
      .groupBy("file_id")
      .agg(min("_x").as("x_min"), max("_x").as("x_max"),
        min("_y").as("y_min"), max("_y").as("y_max"),
        count(lit(1)).as("n_rows"))
      .withColumn("skippable",
        col("x_max") < loX || col("x_min") > hiX ||
          col("y_max") < loY || col("y_min") > hiY)

  /** [[skipStats]] rolled up to one row per labeled layout: file count,
    * skippable files, and the row/file skip fractions a predicate on
    * `probe` achieves under that layout. */
  def skipSummary(layouts: Seq[(String, DataFrame)]): DataFrame =
    layouts.map { case (name, stats) =>
      stats.agg(
        count(lit(1)).as("n_files"),
        sum(when(col("skippable"), 1L).otherwise(0L)).as("n_skippable"),
        sum(when(col("skippable"), col("n_rows")).otherwise(0L))
          .as("rows_skipped"),
        (sum(when(col("skippable"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("file_skip_frac"))
        .select(lit(name).as("layout"), col("n_files"), col("n_skippable"),
          col("rows_skipped"), col("file_skip_frac"))
    }.reduce(_ unionByName _)

  /** Column-encoding advisor: for each candidate column, the exact
    * signals a parquet/ORC writer's encoding choice turns on —
    * distinct-value count (dictionary viability), dictionary index
    * width ⌈log2 NDV⌉ bits, and RLE-friendliness in the table's
    * NATURAL write order (run count + mean run length: a column that
    * arrives clustered run-length-encodes even without a re-sort; one
    * that doesn't is the re-sort candidate). All `cols`' run
    * indicators ride ONE global sort window pass (not one sort per
    * column); counts are exact integers, the single division per row
    * is the mean run length.
    *
    * The global-order window is a deliberate single-task sort — this
    * is an offline layout AUDIT over a bounded table sample, the same
    * trade the q241/q255 skip audits make. */
  def encodingAdvisor(df: DataFrame, orderCols: Seq[String],
                      cols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col): _*)
    var d = df
    cols.foreach { c =>
      d = d.withColumn(s"_chg_$c",
        when(lag(col(c), 1).over(w).isNull ||
          lag(col(c), 1).over(w) =!= col(c), 1L).otherwise(0L))
    }
    val aggs = cols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"_ndv_$c"),
        sum(col(s"_chg_$c")).as(s"_runs_$c"))
    }
    val one = d.agg(count(lit(1)).as("_n"), aggs: _*)
    cols.map { c =>
      one.select(lit(c).as("col_name"), col("_n").as("n"),
        col(s"_ndv_$c").as("ndv"), col(s"_runs_$c").as("runs"),
        when(col(s"_ndv_$c") <= 1, 0L)
          .otherwise(length(bin(col(s"_ndv_$c") - 1)).cast("long"))
          .as("dict_bits"),
        round(col("_n").cast("double") / col(s"_runs_$c"), 6)
          .as("avg_run_len"),
        (col(s"_ndv_$c") * 100L <= col("_n")).as("dict_recommended"))
    }.reduce(_ unionByName _)
  }

  /** Delta-encoding audit — [[encodingAdvisor]]'s companion for
    * INTEGER columns: in the table's natural write order, the zigzag
    * bit-width of successive deltas (0 for a repeat, else the bit
    * length of 2·|Δ|) tells you what parquet's DELTA_BINARY_PACKED
    * would pay per value — a column clustered by the write order
    * (an id assigned in arrival order) packs to a few bits while a
    * random foreign key pays full width, which is exactly the re-sort
    * argument in numbers. All columns' deltas ride ONE window pass;
    * all arithmetic integer except the final means. */
  def deltaEncodingAudit(df: DataFrame, orderCols: Seq[String],
                         cols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(orderCols.map(col): _*)
    var d = df
    cols.foreach { c =>
      d = d.withColumn(s"_dl_$c",
        col(c).cast("long") - lag(col(c).cast("long"), 1).over(w))
    }
    val aggs = cols.flatMap { c =>
      val bits = when(col(s"_dl_$c") === 0, 0L)
        .otherwise(length(bin(abs(col(s"_dl_$c")) * 2)).cast("long"))
      Seq(sum(when(col(s"_dl_$c").isNotNull, bits)).as(s"_sb_$c"),
        sum(when(col(s"_dl_$c") === 0, 1L).otherwise(0L)).as(s"_z_$c"),
        max(bits).as(s"_mx_$c"))
    }
    val one = d.agg(count(lit(1)).as("_n"), aggs: _*)
    cols.map { c =>
      one.select(lit(c).as("col_name"), col("_n").as("n"),
        round(col(s"_sb_$c").cast("double") / (col("_n") - 1), 6)
          .as("avg_delta_bits"),
        round(col(s"_z_$c").cast("double") / (col("_n") - 1), 6)
          .as("zero_delta_frac"),
        col(s"_mx_$c").as("max_delta_bits"))
    }.reduce(_ unionByName _)
  }

  /** Hilbert-curve index of a 2-D cell (Hilbert 1891; the xy→d walk of
    * Warren, Hacker's Delight §16 / the classic Wikipedia formulation)
    * for a `bits`-bit grid — the locality-preserving alternative to
    * [[zValue2]]: the Hilbert walk never makes the long diagonal jumps
    * Morton order takes between quadrants, so consecutive file cuts
    * cover tighter rectangles and zone-map pruning improves on BOTH
    * axes. The `bits` rotation steps are UNROLLED into one pure-integer
    * expression tree (each level: quadrant digit + conditional
    * reflect/swap), so the column stays codegen-friendly and the oracle
    * replays it as `bits` chained SELECTs. Keep `bits` small (≤ 6): the
    * unrolled tree grows ~3× per level — a 16×16 to 64×64 file grid is
    * the realistic zone-map granularity anyway. */
  def hilbertValue2(xc: Column, yc: Column, bits: Int): Column = {
    var x = xc.cast("long"); var y = yc.cast("long"); var d = lit(0L)
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(x.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(y.bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      d = d + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
      val (ox, oy) = (x, y)
      x = when(ry === 0,
        when(rx === 1, lit(s - 1) - oy).otherwise(oy)).otherwise(ox)
      y = when(ry === 0,
        when(rx === 1, lit(s - 1) - ox).otherwise(ox)).otherwise(oy)
    }
    d
  }

  /** Consistent-hash-RING assignment (Karger 1997; the memcached/Dynamo
    * layout) with `vnodes` virtual nodes per physical node — the
    * companion to [[rendezvousShard]]: ring positions are
    * `keyHash(node·131 + v)` on the 2³¹−1 circle, and a key goes to the
    * node owning the first position at or clockwise-after
    * `keyHash(key)`. Computed as an argmin over the (nNodes·vnodes)-entry
    * position array by CYCLIC distance `(pos − keyPos) mod (2³¹−1)` —
    * one map-side HOF fold, no shuffle, and exact integer arithmetic the
    * oracle replays. Ties (two vnodes on one point) break by node id. */
  def ringShard(key: Column, nNodes: Int, vnodes: Int): Column = {
    val HP = 2147483647L
    val kp = Sketches.keyHash(key.cast("long"))
    val scored = transform(sequence(lit(0), lit(nNodes * vnodes - 1)),
      s => {
        val node = (s / vnodes).cast("int")
        val pos = Sketches.keyHash(
          (s / vnodes).cast("long") * lit(131L) + (s % vnodes).cast("long"))
        struct(pmod(pos - kp, lit(HP)).as("d"), node.as("node"))
      })
    array_min(scored).getField("node")
  }

  /** Resize-movement audit for [[ringShard]]: per current node (of
    * `nNodes`), keys resident and keys that move when a node joins —
    * the consistent-hashing guarantee says ≈ 1/(nNodes+1) move overall
    * and ONLY onto the new node (no peer-to-peer churn; the spec pins
    * that every mover lands on node `nNodes`). */
  def ringMovement(df: DataFrame, keyCol: String, nNodes: Int,
                   vnodes: Int): DataFrame =
    df.withColumn("node", ringShard(col(keyCol), nNodes, vnodes))
      .withColumn("_next", ringShard(col(keyCol), nNodes + 1, vnodes))
      .groupBy("node")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("node") =!= col("_next"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(col("node"), col("n_keys"), col("n_moved"),
        (col("n_moved").cast("double") / col("n_keys")).as("moved_frac"))

  /** Bitmap-index intersection audit: materialize per-value row-id
    * bitmaps (32-bit words: word = rid div 32, payload = BIT_OR of
    * 1 << (rid mod 32)) for two low-cardinality columns and compute
    * every (a, b) co-occurrence cardinality TWICE — popcount over
    * AND-ed words vs the direct groupBy count — plus the OR (union)
    * cardinality from the same word join. The `match` column proves the
    * bitmap algebra exact on real data; the word counts show the
    * compression (words ≪ rows when ids cluster), which is the entire
    * case for bitmap pushdown: at 100 TB a multi-predicate filter
    * becomes word-wise AND over per-value bitmaps instead of a second
    * scan. Roaring containers refine the same arithmetic; 32-bit dense
    * words are its SQL-replayable core.
    *
    * Two bitmap aggregates (shuffle on (value, word)) + one word join
    * co-partitioned on word, + the direct count for the audit. */
  def bitmapIndexAudit(df: DataFrame, ridCol: String, aCol: String,
                       bCol: String): DataFrame = {
    val base = df.select(col(ridCol).cast("long").as("rid"),
      col(aCol).as("a"), col(bCol).as("b"))
    def bitmap(c: String) = base
      .withColumn("word", expr("rid div 32"))
      .withColumn("bit",
        expr("shiftleft(cast(1 as bigint), cast(rid % 32 as int))"))
      .groupBy(col(c), col("word"))
      .agg(expr("bit_or(bit)").as(s"w_$c"))
    val ands = bitmap("a").join(bitmap("b"), Seq("word"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared_words"),
        sum(expr("bit_count(w_a & w_b)")).as("and_count"))
    val totA = bitmap("a").groupBy("a")
      .agg(sum(expr("bit_count(w_a)")).as("n_a"))
    val totB = bitmap("b").groupBy("b")
      .agg(sum(expr("bit_count(w_b)")).as("n_b"))
    val actual = base.groupBy("a", "b").agg(count(lit(1)).as("actual"))
    ands.join(broadcast(totA), Seq("a")).join(broadcast(totB), Seq("b"))
      .join(actual, Seq("a", "b"), "left")
      .withColumn("actual", coalesce(col("actual"), lit(0L)))
      // union via inclusion-exclusion over the SAME word arithmetic
      .withColumn("or_count", col("n_a") + col("n_b") - col("and_count"))
      .withColumn("match", col("and_count") === col("actual"))
      .select("a", "b", "n_shared_words", "and_count", "or_count",
        "actual", "match")
      .orderBy("a", "b")
  }

  /** LRU hit-rate curve from EXACT stack distances (Mattson et al.
    * 1970): per group (a cache per customer/tenant/worker), each
    * re-access's reuse distance = #DISTINCT keys touched strictly
    * between the two uses, and an LRU cache of capacity C hits exactly
    * when distance < C — so ONE pass of distances yields the entire
    * hit-rate-vs-capacity curve, no per-C simulation. The SQL-shaped
    * trick for "distinct keys in an interval": access j falls in
    * (prev_i, i) and counts as distinct iff j is the LAST use of its
    * key before i, i.e. next_j ≥ i — turning a distinct-count into a
    * banded 2D join the engine can partition per group.
    *
    * Scale shape: position/prev/next are per-group windows; the
    * interval join is per-group and bounded by per-group sequence
    * length (a tenant's accesses, not the corpus). Output: one row per
    * candidate capacity with reuse/hit counts and the hit rate over
    * re-accesses (cold first-touches reported once in every row — they
    * miss at any capacity). */
  def lruStackDistance(df: DataFrame, groupCol: String,
                       orderCols: Seq[String], keyCol: String,
                       capacities: Seq[Int]): DataFrame = {
    require(orderCols.nonEmpty && capacities.nonEmpty,
      "need order and capacities")
    val wPos = Window.partitionBy("g").orderBy(orderCols.map(col): _*)
    val wKey = Window.partitionBy("g", "k").orderBy("pos")
    val acc = df.select(col(groupCol).as("g") +: col(keyCol).as("k") +:
        orderCols.map(col): _*)
      .withColumn("pos", row_number().over(wPos))
      .withColumn("prev", lag("pos", 1).over(wKey))
      .withColumn("nxt", lead("pos", 1).over(wKey))
      .transform(Lineage.cut(_, "DataLayout.lruStackDistance.acc"))
    val reuses = acc.filter(col("prev").isNotNull)
      .select(col("g"), col("prev"), col("pos"))
    val dists = reuses
      .join(acc.select(col("g"), col("pos").as("jpos"),
        col("nxt").as("jnxt")), Seq("g"), "left")
      .filter(col("jpos") > col("prev") && col("jpos") < col("pos") &&
        (col("jnxt").isNull || col("jnxt") >= col("pos")))
      .groupBy("g", "pos").agg(count(lit(1)).as("d"))
    val allDists = reuses.join(dists, Seq("g", "pos"), "left")
      .withColumn("d", coalesce(col("d"), lit(0L)))
    val tot = acc.agg(count(lit(1)).as("n_accesses"),
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_cold"))
    val sess = df.sparkSession
    import sess.implicits._
    val caps = capacities.toDF("cache_size")
    caps.crossJoin(broadcast(tot))
      .join(allDists.crossJoin(broadcast(caps.select(col("cache_size")
          .as("c2"))))
        .groupBy(col("c2").as("cache_size"))
        .agg(count(lit(1)).as("n_reuses"),
          sum(when(col("d") < col("c2"), 1L).otherwise(0L))
            .as("n_hits")), Seq("cache_size"), "left")
      .select(col("cache_size"), col("n_accesses"), col("n_cold"),
        coalesce(col("n_reuses"), lit(0L)).as("n_reuses"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(when(col("n_reuses") > 0, col("n_hits").cast("double") /
          col("n_reuses")), 6).as("hit_rate"))
      .orderBy("cache_size")
  }

  /** Shuffle-partition-count advisor from MEASURED bytes, not row
    * counts: rows hash to each candidate partition count by the
    * replayable keyHash, per-partition byte totals are exact
    * (`rowBytes` should be the row's serialized-ish width, e.g. fixed
    * widths + octet_length of strings), and the verdict per candidate
    * is the MAX partition's bytes vs a memory budget — with the skew
    * ratio max/even that explains WHY a count fails (a hot key defeats
    * more partitions; only salting fixes it). This is the
    * spark.sql.shuffle.partitions sizing loop made into a query —
    * at 100 TB the difference between 2000 and 20000 partitions is a
    * spilled stage, and this measures it on the actual key and byte
    * distribution for the cost of one scan.
    *
    * One map-side explode over |candidates|, one (candidate,
    * partition) aggregate, one candidate-level rollup — all bounded by
    * candidates × partitions. */
  def partitionAdvisor(df: DataFrame, keyCol: String, rowBytes: Column,
                       candidates: Seq[Int], budgetBytes: Long): DataFrame = {
    require(candidates.nonEmpty && budgetBytes >= 1,
      "need candidates and budget")
    val perPart = df
      .select(graft.operators.Sketches.keyHash(col(keyCol)).as("h"),
        rowBytes.cast("long").as("bytes"))
      .select(col("h"), col("bytes"),
        explode(array(candidates.map(lit): _*)).as("n_parts"))
      .withColumn("part", col("h") % col("n_parts"))
      .groupBy("n_parts", "part")
      .agg(sum("bytes").as("pbytes"))
    perPart.groupBy("n_parts")
      .agg(sum("pbytes").as("total_bytes"),
        max("pbytes").as("max_part_bytes"),
        count(lit(1)).as("n_nonempty"))
      .withColumn("even_bytes", expr("total_bytes div n_parts"))
      .withColumn("skew_ratio",
        round(col("max_part_bytes").cast("double") * col("n_parts") /
          col("total_bytes"), 6))
      .withColumn("fits", col("max_part_bytes") <= budgetBytes)
      .select("n_parts", "total_bytes", "n_nonempty", "even_bytes",
        "max_part_bytes", "skew_ratio", "fits")
      .orderBy("n_parts")
  }

  /** Histogram-design bake-off: quantization MSE of equal-WIDTH vs
    * equal-FREQUENCY binning at the same bin count — measured on THIS
    * column instead of assumed. The folk claim "equi-depth handles
    * skew better" is about worst-case bin POPULATION (selectivity
    * error), not value reconstruction: under L2 MSE equal-width is
    * often the stronger quantizer even on skewed data (equi-depth
    * spends bins where rows are dense, not where values spread —
    * Lloyd-Max would spend them on spread). This operator settles the
    * question per column with exact numbers, which is the point: pick
    * the histogram by measurement. MSE uses the within-bin SSE identity
    * Σv² − Σ S_b²/n_b — sufficient statistics only, no per-row
    * residuals; every sum is exact and converts to double once (feed
    * values scaled so Σv² < 2^53 — the int→double parity bound).
    *
    * Equal-width edges come from the global min/max (one aggregate);
    * equal-frequency uses ntile over (v, id) — deterministic under
    * ties. One pass per scheme; output one row per scheme. */
  def binningMse(df: DataFrame, idCol: String, vCol: String,
                 bins: Int): DataFrame = {
    require(bins >= 2, "need bins >= 2")
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val base = df.select(col(idCol).as("id"), col(vCol).cast("long").as("v"))
    val mm = base.agg(min("v").as("_lo"), max("v").as("_hi"))
    def mseOf(binned: DataFrame, name: String) = binned
      .groupBy("bin")
      .agg(count(lit(1)).as("n_b"), sum(d38(col("v"))).as("s_b"))
      .agg(count(lit(1)).as("n_bins_used"), sum("n_b").as("n"),
        sum((col("s_b").cast("double") * col("s_b").cast("double") /
          col("n_b")).cast("decimal(38,18)")).cast("double").as("_fit"))
      .select(lit(name).as("scheme"), col("n_bins_used"), col("n"),
        col("_fit"))
    val svv = base.agg(sum(d38(col("v")) * col("v")).as("_svv"))
    val ew = mseOf(base.crossJoin(broadcast(mm))
      .withColumn("bin", least(expr(
        s"((v - _lo) * $bins) div (_hi - _lo + 1)"), lit(bins - 1L))),
      "equal_width")
    val ef = mseOf(base.withColumn("bin",
      ntile(bins).over(Window.orderBy("v", "id"))), "equal_freq")
    ew.unionByName(ef).crossJoin(broadcast(svv))
      .select(col("scheme"), col("n_bins_used"), col("n"),
        round((col("_svv").cast("double") - col("_fit")) / col("n"), 6)
          .as("mse"))
      .orderBy("scheme")
  }

  /** V-optimal histogram (Jagadish et al., VLDB'98) SSE curve: for each
    * bucket budget b = 1..maxB, the minimum total within-bucket SSE
    * achievable by merging `nBins` equal-width base bins into b
    * contiguous buckets (classic interval DP over prefix sufficient
    * statistics), next to the plain equal-width-b SSE — "how much error
    * does the optimizer's histogram budget actually buy". Complements
    * [[binningMse]], which bakes off two FIXED schemes.
    *
    * Scale shape: ONE scan builds the nBins-row (cnt, sum v, sum v^2)
    * table; prefix sums, the O(nBins^2) interval-SSE table and the DP
    * itself are all tiny broadcast frames — the DP never sees data.
    * Parity: counts and Sigma v / Sigma v^2 are exact BIGINTs (callers
    * pre-scale v so Sigma v^2 < 2^53 — the int->double bound); each
    * interval SSE is the identical double tree ss - s*s/n on both
    * engines; DP combines them with + and min only, both
    * order-independent. */
  def vOptimalCurve(df: DataFrame, idCol: String, vCol: String,
                    nBins: Int = 48, maxB: Int = 6): DataFrame = {
    require(nBins >= maxB && maxB >= 1, "need nBins >= maxB >= 1")
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val dd = (c: Column) => c.cast("double")
    val base = df.select(col(vCol).cast("long").as("v"))
    val mm = base.agg(min("v").as("_lo"), max("v").as("_hi"))
    val binned = base.crossJoin(broadcast(mm))
      .withColumn("bin", least(expr(
        s"((v - _lo) * $nBins) div (_hi - _lo + 1)"), lit(nBins - 1L)))
    // ≤ nBins rows, but referenced by every DP level, every equal-width
    // baseline and the final assembly (~13 subtree copies re-scanned the
    // corpus before r12): checkpoint the control-plane-sized frame once
    // so the ONE-scan contract in the scaladoc is what actually executes
    // coalesce(1) before the checkpoint: ≤ nBins rows otherwise pin the
    // session's full shuffle-partition count (checkpointed frames bypass
    // AQE coalescing), taxing every downstream DP join with empty tasks
    val stats = binned.groupBy("bin")
      .agg(count(lit(1)).as("nb"), sum(d38(col("v"))).cast("long").as("sb"),
        sum(d38(col("v")) * col("v")).cast("long").as("ssb"))
      .coalesce(1).transform(Lineage.cut(_, "DataLayout.vOptimalCurve.stats"))
    // re-index the non-empty bins 1..m_bins; DP runs over that sequence
    val w = Window.orderBy("bin")
    val pfx = stats
      .withColumn("i", row_number().over(w))
      .withColumn("cn", sum("nb").over(w))
      .withColumn("cs", sum("sb").over(w))
      .withColumn("css", sum("ssb").over(w))
      .select("bin", "i", "cn", "cs", "css", "nb")
    val zero = pfx.sparkSession.range(1).select(lit(0).as("i"),
      lit(0L).as("cn"), lit(0L).as("cs"), lit(0L).as("css"))
    val pfx0 = pfx.select("i", "cn", "cs", "css").unionByName(zero)
    // interval SSE for every 0 <= j < i
    // ≤ nBins(nBins+1)/2 rows and referenced by e1 + every DP level:
    // checkpoint (single partition) so the 6-level scanLeft below joins
    // against a leaf instead of re-planting the interval-SSE subtree —
    // the before/after plan drops ~174 kB of duplicated tree
    val sse = pfx0.as("a").join(pfx0.as("b"), col("a.i") < col("b.i"))
      .select(col("a.i").as("j"), col("b.i").as("i"),
        (col("b.cn") - col("a.cn")).as("n"),
        (dd(col("b.css") - col("a.css")) -
          dd(col("b.cs") - col("a.cs")) * dd(col("b.cs") - col("a.cs")) /
            (col("b.cn") - col("a.cn"))).as("sse"))
      .coalesce(1).transform(Lineage.cut(_, "DataLayout.vOptimalCurve.sse"))
    val mRow = pfx.agg(max("i").as("_m"), sum("nb").as("_n"))
    val e1 = sse.filter(col("j") === 0).select(col("i"), col("sse").as("cost"))
    val curves = (1 to maxB).scanLeft(e1) { (prev, _) =>
      prev.as("p").join(sse.as("s"), col("p.i") === col("s.j"))
        .groupBy(col("s.i").as("i"))
        .agg(min(col("p.cost") + col("s.sse")).as("cost"))
    }.take(maxB)
    // equal-width with b buckets over the ORIGINAL bin index
    def ewSse(b: Int) = stats
      .withColumn("bk", expr(s"(bin * $b) div $nBins"))
      .groupBy("bk").agg(sum("nb").as("n"), sum("sb").as("s2"),
        sum("ssb").as("ss2"))
      .agg(sum((dd(col("ss2")) - dd(col("s2")) * dd(col("s2")) / col("n"))
        .cast("decimal(38,18)")).cast("double").as("ew_sse"))
    val rows = curves.zipWithIndex.map { case (eb, idx) =>
      val b = idx + 1
      eb.crossJoin(broadcast(mRow)).filter(col("i") === col("_m"))
        .crossJoin(broadcast(ewSse(b)))
        .select(lit(b).as("n_buckets"), col("cost").as("_v"),
          col("ew_sse").as("_e"), col("_n"))
    }
    rows.reduce(_ unionByName _)
      .select(col("n_buckets"),
        round(col("_v") / col("_n"), 6).as("vopt_mse"),
        round(col("_e") / col("_n"), 6).as("equal_width_mse"),
        round(when(col("_e") > 0,
          (col("_e") - col("_v")) / col("_e") * 100), 6).as("savings_pct"))
      .orderBy("n_buckets")
  }

  /** Z-order (Morton-curve) clustering audit: how many `blockRows`-row
    * blocks must a 2-D range predicate touch under (a) the table's
    * natural key order vs (b) Z-order on the two predicate columns? The
    * number the multi-dimensional-clustering decision (Delta OPTIMIZE
    * ZORDER, Hudi clustering) actually trades on: a 100 TB scan skips
    * whole files by min/max, and interleaving bits makes BOTH columns'
    * ranges cluster instead of one. Mechanics: each column bucketizes to
    * 2^`bits` cells over its [min, max] span (exact integer scaling);
    * the Z-value interleaves the bit planes (unrolled shifts — integer
    * exact); rows get block ids by row_number under each ordering (the
    * global sort is the audit instrument's cost, exactly like
    * [[encodingAdvisor]]'s one sort pass — the PRODUCTION action is
    * writing the data back in that order, not re-sorting per query).
    * Returns one row per ordering: (ordering, blocks_total,
    * blocks_touched, rows_selected) for the rectangle
    * [xLo..xHi]×[yLo..yHi] in CELL coordinates. */
  def zOrderAudit(df: DataFrame, idCol: String, xCol: String, yCol: String,
                  bits: Int, blockRows: Int,
                  xLo: Int, xHi: Int, yLo: Int, yHi: Int): DataFrame = {
    require(bits >= 1 && bits <= 16 && blockRows >= 1)
    val base = df.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val ext = base.agg(min("x").as("xmin"), max("x").as("xmax"),
      min("y").as("ymin"), max("y").as("ymax"))
    val cells = base.crossJoin(broadcast(ext))
      // integer `div`, not `/`: Spark's / is double division and its
      // truncating cast disagrees with DuckDB's rounding cast (NOTES
      // parity rule) — div floors exactly on both engines
      .withColumn("xc", expr(
        s"(x - xmin) * ${1L << bits} div (xmax - xmin + 1)"))
      .withColumn("yc", expr(
        s"(y - ymin) * ${1L << bits} div (ymax - ymin + 1)"))
      .withColumn("z", (0 until bits).map(i =>
          shiftleft(shiftright(col("xc"), i).bitwiseAND(lit(1L)), 2 * i) +
            shiftleft(shiftright(col("yc"), i).bitwiseAND(lit(1L)), 2 * i + 1))
        .reduce(_ + _))
      .withColumn("sel", col("xc").between(xLo, xHi) &&
        col("yc").between(yLo, yHi))
    def audit(name: String, order: Seq[Column]) = cells
      .withColumn("_rn",
        (row_number().over(Window.orderBy(order: _*)) - 1).cast("long"))
      .withColumn("blk", expr(s"_rn div $blockRows"))
      .agg(lit(name).as("ordering"),
        (max("blk") + 1).cast("long").as("blocks_total"),
        countDistinct(when(col("sel"), col("blk")))
          .cast("long").as("blocks_touched"),
        sum(when(col("sel"), 1L).otherwise(0L))
          .cast("long").as("rows_selected"))
    audit("natural", Seq(col("id")))
      .unionByName(audit("zorder", Seq(col("z"), col("id"))))
      .orderBy("ordering")
  }
}
