package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join helpers for cluster-scale execution.
  *
  * Catalyst already plans broadcast/shuffled-hash/sort-merge joins and AQE
  * rewrites skewed sort-merge joins at runtime; these helpers cover the two
  * cases that still need explicit structure at 100 TB:
  *  - salting a *known* hot key set so one reducer doesn't receive a
  *    whole key's partition (AQE skew handling splits partitions, but
  *    salting also parallelizes the *build* side replication), and
  *  - insert-if-absent / delete-stale rewrites as reusable shapes
  *    (the reference's J1/J2 merges, embed/vector_store.py:239-257).
  */
object Joins {

  /** Bloom runtime-filter for a join's probe side: build a packed Bloom
    * bitmap over the dim side's distinct keys (a bounded `m/64`-word
    * driver collect — 16 KB at m = 2¹⁷) and drop fact rows map-side
    * BEFORE they reach the join's shuffle. No false negatives, so
    * `bloomPrefilter(fact) ⋈ dim  ≡  fact ⋈ dim` exactly — the Bloom's
    * false positives are eliminated by the join itself; what the filter
    * buys is that the ~(1 − |dim∩fact|/|fact|) non-matching majority of
    * a 100 TB fact table never enters the exchange. This is the shape of
    * Spark's own `InjectRuntimeFilter`, exposed as an operator so the
    * pruning is explicit, testable, and usable ahead of non-join sinks
    * too. The probe is the native `graft_bloom_probe` expression —
    * pure map-side, rides the scan stage. */
  def bloomPrefilter(fact: DataFrame, factKeyCol: String,
                     dim: DataFrame, dimKeyCol: String,
                     m: Int = 131072, k: Int = 3): DataFrame = {
    val dimKeys = dim.select(col(dimKeyCol).as("key")).distinct()
    val words = Sketches.packBits(Sketches.bloomBits(dimKeys, "key", m, k), m)
    fact.filter(call_function("graft_bloom_probe",
      col(factKeyCol), typedLit(words.toSeq), lit(m), lit(k)))
  }

  /** [[bloomPrefilter]] composed with the equi-join it protects: result
    * rows are exactly `fact ⋈ dim`'s. */
  def bloomPrunedJoin(fact: DataFrame, factKeyCol: String,
                      dim: DataFrame, dimKeyCol: String,
                      m: Int = 131072, k: Int = 3): DataFrame = {
    val pruned = bloomPrefilter(fact, factKeyCol, dim, dimKeyCol, m, k)
    pruned.join(dim, pruned(factKeyCol) === dim(dimKeyCol))
  }

  /** Salted equi-join: replicate each `right` row `salt` ways and scatter
    * `left` rows uniformly across the replicas, so a skewed join key fans
    * out over `salt` reducers instead of one.
    *
    * Use when the key histogram is known to be heavy-tailed (e.g. joining
    * chunk tables on hot filenames). For organic skew discovered at
    * runtime, prefer AQE (`spark.sql.adaptive.skewJoin.enabled`).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salt: Int): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt)).cast("int"))
    val saltedRight = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft.join(saltedRight, Seq(key, "_salt")).drop("_salt")
  }

  /** As-of join: enrich each `left` row with the LATEST `right` row whose
    * `time` is at or before the left row's, per `key` — the point-in-time
    * join Spark lacks as a built-in (SURVEY §2.3 notes the reference has no
    * as-of/range joins; this is the beyond-reference time-series surface).
    *
    * Implemented as a tagged union + per-key running
    * `last(_, ignoreNulls)` window: ONE shuffle on `key`, no range
    * explosion, and the window sort is (time, side) with right rows first
    * so 'at or before' ties resolve to the right row. At 100 TB this
    * shuffles each side once — same cost as a plain equi-join — versus the
    * quadratic blowup of an inequality theta-join.
    *
    * Right-side columns come back as `{prefix}{time}` and `{prefix}{c}` for
    * each c in `rightVals` (NULL when no right row precedes). */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               rightVals: Seq[String], prefix: String = "asof_"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rStruct = right.select(col(key), col(time),
      struct((time +: rightVals).map(col): _*).as("_rrow"))
    val l2 = left
      .withColumn("_rrow", lit(null).cast(rStruct.schema("_rrow").dataType))
      .withColumn("_side", lit(1))
    val r2 = left.columns.filterNot(Set(key, time))
      .foldLeft(rStruct.withColumn("_side", lit(0))) { (df, c) =>
        df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
      .select(l2.columns.map(col): _*)
    // Third sort key: the right-row struct itself. Multiple right rows
    // with equal (key, time) would otherwise leave last() nondeterministic;
    // struct ordering is field-wise, so ties resolve to the max payload.
    // (Left rows carry a null _rrow but sort after all right rows at equal
    // time via _side, so the null never decides an ordering.)
    val w = Window.partitionBy(key)
      .orderBy(col(time).asc, col("_side").asc, col("_rrow").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = l2.unionByName(r2)
      .withColumn("_last", last(col("_rrow"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_rrow", "_side")
    (time +: rightVals)
      .foldLeft(joined)((df, c) => df.withColumn(prefix + c, col(s"_last.$c")))
      .drop("_last")
  }

  /** Banded range (interval) join: each `points` row matches the
    * `intervals` rows with lo ≤ p ≤ hi — WITHOUT the cartesian product a
    * naive theta-join plans. Both sides map to integer bands of
    * `bucketWidth`: a point lands in exactly one band, an interval
    * replicates to the ⌈span/width⌉+1 bands it touches, and the join
    * becomes an EQUI-join on the band followed by the exact BETWEEN
    * filter. At 100 TB pick `bucketWidth` near the typical interval span:
    * replication stays O(1) per interval, the shuffle keys on the band
    * (time-local data stays together — free when both sides are
    * date-partitioned), and no row ever meets a band it can't match.
    * Columns: all point columns + all interval columns. `pCol`, `loCol`,
    * `hiCol` must be integral (cast dates to epoch days first). */
  def rangeJoin(points: DataFrame, pCol: String,
                intervals: DataFrame, loCol: String, hiCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val iv = intervals.withColumn("_band",
      explode(sequence(expr(s"cast($loCol as bigint) div $bucketWidth"),
        expr(s"cast($hiCol as bigint) div $bucketWidth"))))
    val pt = points.withColumn("_band",
      expr(s"cast($pCol as bigint) div $bucketWidth"))
    pt.join(iv, Seq("_band"))
      .filter(col(pCol) >= col(loCol) && col(pCol) <= col(hiCol))
      .drop("_band")
  }

  /** Interval OVERLAP join (interval × interval sibling of
    * [[rangeJoin]]): pairs where [llo, lhi] and [rlo, rhi] intersect.
    * Both sides replicate to the integer bands they touch and equi-join
    * on the band; a pair that overlaps across several shared bands would
    * emit duplicates, so each match is kept ONLY in the band holding
    * max(llo, rlo) — the classic one-band-owns-the-pair dedup, applied
    * as a filter instead of a distinct (no extra shuffle). Column names
    * must be disjoint across the two inputs. */
  def overlapJoin(left: DataFrame, lloCol: String, lhiCol: String,
                  right: DataFrame, rloCol: String, rhiCol: String,
                  bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    def banded(df: DataFrame, lo: String, hi: String) = df.withColumn("_band",
      explode(sequence(expr(s"cast($lo as bigint) div $bucketWidth"),
        expr(s"cast($hi as bigint) div $bucketWidth"))))
    banded(left, lloCol, lhiCol)
      .join(banded(right, rloCol, rhiCol).withColumnRenamed("_band", "_band"),
        Seq("_band"))
      .filter(col(lloCol) <= col(rhiCol) && col(rloCol) <= col(lhiCol))
      .filter(col("_band") ===
        expr(s"greatest(cast($lloCol as bigint), cast($rloCol as bigint)) div $bucketWidth"))
      .drop("_band")
  }

  /** Insert-if-absent (reference J1): rows of `incoming` whose key is not in
    * `existing`. */
  def insertIfAbsent(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key), Seq(key), "left_anti")

  /** Delete-stale rewrite (reference J2): `table` minus rows whose `key` is
    * in `stale`. */
  def deleteMatching(table: DataFrame, stale: DataFrame, key: String): DataFrame =
    table.join(stale.select(key), Seq(key), "left_anti")
}
