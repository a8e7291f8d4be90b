package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming / incremental surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no true stream processing — its incremental pattern is
  * the etag/mtime refresh loop (reference: src/server/app/embed/refresh.py:
  * 28-143, SURVEY.md §2.9). Here that becomes idiomatic Structured
  * Streaming: file-source for new-data detection, watermarked windowed
  * aggregates, and `flatMapGroupsWithState` sessionization for the custom
  * state machine the reference keeps in `aio_embed_jobs`.
  *
  * Every streaming transform is written against a plain `DataFrame`, so the
  * identical code path runs in batch mode (for the DuckDB oracle) and in
  * `readStream` mode — the Structured Streaming contract.
  */
object EventStreams {

  /** The RocksDB state-store provider — the 100 TB choice for every
    * stateful streaming path here (sessionization, stream dedup,
    * stream-stream joins): the default HDFSBackedStateStoreProvider keeps
    * ALL keyed state as JVM heap objects per partition, so unbounded key
    * spaces (user ids, event ids at corpus scale) grow the heap until GC
    * collapse; RocksDB spills state to native memory + local disk with
    * changelog checkpointing, bounding heap per executor regardless of
    * key cardinality. Results are provider-independent (pinned by
    * StreamingSpec under both providers) — the provider is an execution
    * choice, never a semantics choice. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the given state-store provider set on the session,
    * restoring the previous setting afterwards. Streaming queries bind
    * the provider at START, so wrapping query start + awaitTermination is
    * enough; concurrently running queries keep their own binding. */
  def withStateStoreProvider[T](spark: SparkSession, provider: String)
                               (body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Tumbling-window aggregate: events per (window, event_type) with sum /
    * avg of value. Batch and streaming share this plan; in streaming, pair
    * with `withWatermark("ts", ...)` upstream. */
  def tumblingCounts(events: DataFrame, windowLen: String): DataFrame =
    events.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum("value").as("sum_value"),
        avg("value").as("avg_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"), col("avg_value"))

  /** Sliding-window aggregate (length, slide); decimal-exact value sum. */
  def slidingCounts(events: DataFrame, windowLen: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(24,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"),
        col("sum_value"))

  /** Streaming variant with watermark, ready for `writeStream` with append
    * mode (late data beyond `delay` dropped deterministically). */
  def tumblingCountsStream(events: DataFrame, windowLen: String, delay: String): DataFrame =
    tumblingCounts(events.withWatermark("ts", delay), windowLen)

  private val replayCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Shuffle partitions the replays start under: a streaming query binds
    * its STATE-STORE partition count to this at start, and the bounded
    * replay instruments pay per-partition store setup/commit on every
    * micro-batch (q550: 33 s at 32 partitions → ~3 s at 4). */
  private val StatePartitions = 4

  /** The run every `replay*` instrument shares: start `stream` into a
    * memory sink named `graft_<kind>_replay_<n>` under
    * [[StatePartitions]], `add` each of `batches` as ONE micro-batch
    * (`processAllAvailable` after each), stop, and return the sink's
    * rows DETACHED — collected and re-created, temp view dropped — so
    * repeated runs in one JVM never collide. */
  private def replay[B](spark: SparkSession, kind: String,
                        stream: => DataFrame, batches: Seq[B])
                       (add: B => Unit): DataFrame = {
    val name = s"graft_${kind}_replay_${replayCounter.incrementAndGet()}"
    graft.SessionConf.withShufflePartitions(spark, StatePartitions) {
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try batches.foreach { b => add(b); q.processAllAvailable() }
      finally q.stop()
    }
    val out = spark.table(name)
    val rows = out.collect().toSeq
    val detached = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), out.schema)
    spark.catalog.dropTempView(name)
    detached
  }

  /** A watermarked tumbling-window aggregate driven through a REAL
    * micro-batch execution with DETERMINISTIC batches — the machinery
    * that puts Structured Streaming's late-row semantics under the
    * DuckDB-oracle gate (q524) instead of only under spec equality.
    * Each element of `batches` becomes exactly one micro-batch
    * (MemoryStream.addData + processAllAvailable per element), so the
    * watermark trajectory is a pure function of the batch contents:
    *
    *   - wm before batch i = max event time over batches < i − delay
    *     (the watermark node sees every input row, including rows the
    *     aggregation later drops);
    *   - an arriving row is DROPPED iff its window end ≤ wm — boundary
    *     INCLUSIVE, and watermark ms-flooring is immaterial for whole-ms
    *     window ends and delays (both pinned by StreamingSpec's
    *     boundary test);
    *   - append mode emits a (window, type) row exactly once, when the
    *     watermark reaches window end (same inclusive predicate; the
    *     final no-data batch advances the watermark to global max −
    *     delay, so the returned frame is the windows that cut finalizes).
    *
    * Values ride as integer cents so the sums are order-exact under the
    * hash gate. The returned frame is DETACHED from the memory sink
    * (collected + re-created, temp view dropped), so repeated runs in
    * one JVM never collide. Input batches are driver-side by
    * construction (MemoryStream) — callers pass a BOUNDED slice, the
    * same validation-instrument stance as q142's exact PPJoin. */
  def replayWatermarkedTumbling(spark: SparkSession,
      batches: Seq[Seq[(java.sql.Timestamp, String, Long)]],
      windowLen: String, delay: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String, Long)]
    val agg = mem.toDF.toDF("ts", "event_type", "cents")
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("sum_cents"))
    replay(spark, "wm", agg, batches)(b => mem.addData(b: _*))
  }

  /** `dropDuplicatesWithinWatermark` driven through a REAL micro-batch
    * execution (the q524/q547/q550 replay discipline applied to
    * STREAMING EXACT DEDUP — the ingest-side operator a standing corpus
    * runs in front of every store merge): per-key state drops duplicate
    * keys within AND across batches, and the watermark EVICTS a key's
    * state once it passes first-seen event time + delay, after which
    * the key re-emits. Bounded state is the entire point at 100 TB —
    * plain `dropDuplicates` state grows with the key space forever,
    * this variant's state is bounded by the keys active inside one
    * delay window.
    *
    * Replay contract (what makes the emitted set arrival-order-free and
    * SQL-replayable, gated by q560): rows are projected to the dedup
    * KEY after the operator, so whichever physical row the within-batch
    * dedup keeps, the emitted SET is deterministic; batches advance
    * event time monotonically with EVICTION MARGINS — every
    * re-occurrence cluster is either entirely inside the first
    * occurrence's state TTL (all dropped) or entirely beyond an
    * intervening watermark tick that cleared the state (exactly one
    * re-emit per key) — so no row sits on the eviction boundary and
    * the strictness of that boundary never enters the result.
    * Returns the emitted `k` rows, detached from the memory sink. */
  def replayDedupEviction(spark: SparkSession,
      batches: Seq[Seq[(java.sql.Timestamp, Long)]],
      delay: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long)]
    val dd = mem.toDF.toDF("ts", "k")
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"))
    replay(spark, "dd", dd, batches)(b => mem.addData(b: _*))
  }

  /** [[sessionize]] driven through a REAL micro-batch execution with
    * DETERMINISTIC batches — the q524 replay discipline applied to the
    * custom-state sessionizer, putting `flatMapGroupsWithState`'s
    * EVENT-TIME TIMEOUT semantics under the DuckDB-oracle gate (q547):
    * StreamingSpec pins equality with the native `session_window` path,
    * but only a replay can gate WHEN a session is emitted — by an
    * arriving successor (gap close) or by the watermark passing
    * last + gap (timeout), with open tails never emitted.
    *
    * Contract that makes the final row set arrival-order-free (and
    * thus SQL-replayable): batches partition the input in GLOBAL event-
    * time order (batch i's min ts ≥ batch i−1's max ts), so (a) no row
    * is ever late against the 10-minute watermark, and (b) whenever a
    * session's timeout fires before its user's next event arrives, that
    * next event's gap necessarily exceeds the session gap (wm lags max
    * ts by 10 min, so firing requires idleness > gap + 10 min) — the
    * timeout close and the gap-split close coincide. The emitted set is
    * then exactly: every gap-split session with a successor event, plus
    * the per-user last session iff final wm (global max ts, ms-floored,
    * − 10 min) exceeds its end + gap — boundary STRICT on both sides
    * (timeouts fire when wm > timeout ts; pinned by StreamingSpec's
    * boundary test).
    *
    * Feed integral `value`s (e.g. whole cents as doubles) so the
    * sequential per-session double fold is order-exact. The returned
    * frame is detached from the memory sink, as in
    * [[replayWatermarkedTumbling]]. */
  def replaySessionTimeout(spark: SparkSession, batches: Seq[Seq[Event]],
                           gapMs: Long): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Event]
    replay(spark, "to", sessionize(mem.toDS(), gapMs).toDF(), batches)(
      b => mem.addData(b: _*))
  }

  /** Watermarked stream-stream LEFT OUTER join driven through a REAL
    * micro-batch execution (the q524/q547 replay discipline, third
    * instrument): inner matches emit as clicks arrive, and the OUTER
    * null-padded row for a never-matched impression emits only when the
    * watermark proves no matching click can still come — the eviction
    * semantics that make outer stream joins correct-but-delayed, here
    * under the DuckDB-oracle hash gate (q550).
    *
    * Inputs are (ts, key) impressions and (ts, key, cents) clicks in
    * WHOLE MILLISECONDS (quantize upstream: the watermark is tracked in
    * ms, so whole-ms inputs make every boundary comparison exact);
    * batches partition BOTH streams in global event-time order (batch i
    * of each stream = that stream's rows in the i-th time slice), so no
    * row is late and no match is lost to early eviction. The emitted
    * set is then: every (impression, click) pair with click_ts in
    * [imp_ts, imp_ts + within], plus (impression, NULL, NULL) for each
    * impression with no such click whose imp_ts + within lies STRICTLY
    * below the final global watermark = min(max imp_ts, max click_ts)
    * − delay (two-stream watermark = MIN across streams; strictness
    * pinned by StreamingSpec's boundary test). */
  def replayOuterAttribution(spark: SparkSession,
      impBatches: Seq[Seq[(java.sql.Timestamp, Long)]],
      clickBatches: Seq[Seq[(java.sql.Timestamp, Long, Long)]],
      within: String, delay: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    require(impBatches.size == clickBatches.size,
      "impBatches and clickBatches must pair up 1:1")
    val impMem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long)]
    val clkMem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, Long)]
    val joined = impMem.toDF.toDF("imp_ts", "ad_id")
      .withWatermark("imp_ts", delay)
      .join(clkMem.toDF.toDF("click_ts", "click_ad", "click_cents")
          .withWatermark("click_ts", delay),
        expr(s"ad_id = click_ad AND click_ts >= imp_ts " +
          s"AND click_ts <= imp_ts + interval $within"),
        "left_outer")
      .select(col("ad_id"), col("imp_ts"), col("click_ts"),
        col("click_cents"))
    // the outer join keeps FOUR state stores per partition per side and
    // commits them every micro-batch — at a 1,500-row replay the store
    // machinery IS the cost (33 s at 32 partitions, ~7 s at 4; 1 was no
    // better — past a handful the floor is per-micro-batch planning)
    replay(spark, "oj", joined, impBatches.zip(clickBatches)) {
      case (ib, cb) => impMem.addData(ib: _*); clkMem.addData(cb: _*)
    }
  }

  /** Watermarked stream-stream inner join (click attribution): pair each
    * impression with the clicks of the same ad within `within` AFTER it.
    * Both sides carry watermarks, and the time-range predicate bounds the
    * join state Spark must buffer — without it a stream-stream join keeps
    * unbounded state; with it, rows older than watermark + range are
    * evicted. Input schemas: impressions(ad_id, imp_ts), clicks(click_ad,
    * click_ts, click_val). The identical plan runs in batch (where it is
    * the q62-style interval join) and under `readStream`. */
  def attributeClicks(impressions: DataFrame, clicks: DataFrame,
                      within: String, delay: String): DataFrame =
    impressions.withWatermark("imp_ts", delay)
      .join(clicks.withWatermark("click_ts", delay),
        expr(s"ad_id = click_ad AND click_ts >= imp_ts " +
          s"AND click_ts <= imp_ts + interval $within"))
      .select(col("ad_id"), col("imp_ts"), col("click_ts"), col("click_val"))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, sumValue: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Int, sum_value: Double)

  /** Gap-based sessionization with custom state
    * (`flatMapGroupsWithState` + event-time timeout): a session closes after
    * `gapMs` of user inactivity. The streaming analog of the reference's
    * job-state machine with its heartbeat/reaper timeouts
    * (reference: embed/jobs.py:54-57, 188-313). */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n, s.sumValue))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, sumValue = s.sumValue + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.sumValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Weekly retention cohorts: users grouped by first-seen week; for each
    * (cohort, later week) the distinct returning users and the fraction of
    * the cohort they represent — the standard engagement matrix. Shape at
    * scale: one shuffle keyed by user (first-seen + per-user dedup), one
    * by (cohort, week), cohort sizes broadcast; nothing quadratic. Every
    * number is an integer count into one double division (oracle-exact).
    * Weeks are epoch-day/7 (timezone-free), not date_trunc. */
  /** Batch multi-touch attribution: every `convType` event distributes
    * credit over the SAME USER's `touchType` events in the preceding
    * `windowDays` — the marketing twin of [[attributeClicks]]' streaming
    * last-touch join, upgraded to the two standard multi-touch models:
    * linear (1/n per touch) and position-based (U-shaped 40/20/40 —
    * first and last touch 40% each, middles split 20%).
    *
    * Credits are INTEGER MICRO-UNITS with floor division (`1000000 div
    * n`) — deliberately not doubles: per-touch fractions summed as
    * floats would be partition-order-dependent, while integer credits
    * sum exactly under any partitioning (remainder micro-units are
    * dropped, a documented and deterministic convention). One user
    * equi-join bounded by the window, one per-conversion count/rank
    * window, one final lag rollup. Returns per touch-to-conversion lag
    * day: (lag_days, n_touches, linear_mcredit, position_mcredit). */
  def multiTouchAttribution(events: DataFrame, convType: String,
                            touchType: String,
                            windowDays: Int): DataFrame = {
    val conv = events.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("cts"))
    val touch = events.filter(col("event_type") === touchType)
      .select(col("user_id"), col("event_id").as("touch_id"),
        unix_micros(col("ts")).as("tts"))
    val win = windowDays * 86400000000L
    val j = conv.join(touch, Seq("user_id"))
      .filter(col("tts") < col("cts") && col("tts") >= col("cts") - win)
    val w = Window.partitionBy("conv_id")
    val wOrd = Window.partitionBy("conv_id").orderBy(col("tts"), col("touch_id"))
    j.withColumn("n", count(lit(1)).over(w))
      .withColumn("pos", row_number().over(wOrd))
      .withColumn("lag_days", expr("(cts - tts) div 86400000000"))
      .withColumn("linear_mc", expr("1000000 div n"))
      .withColumn("position_mc", expr(
        """case when n = 1 then 1000000
          |when pos = 1 or pos = n then 400000
          |else 200000 div (n - 2) end""".stripMargin))
      .groupBy("lag_days")
      .agg(count(lit(1)).as("n_touches"),
        sum("linear_mc").cast("long").as("linear_mcredit"),
        sum("position_mc").cast("long").as("position_mcredit"))
  }

  /** EXACT Shapley-value channel attribution (Shapley 1953 applied to
    * marketing touch data, Zhao et al. 2018) over a SMALL fixed channel
    * list — the game-theoretic upgrade of [[multiTouchAttribution]]'s
    * heuristic linear/position models and the q411 removal effects: the
    * coalition value v(S) = #users who converted AND whose touched-
    * channel set ⊆ S (the "users this channel subset can fully
    * explain" convention), and channel c's Shapley value averages its
    * marginal contribution v(S∪{c})−v(S) over all orderings,
    * φ_c = Σ_{S ⊆ C∖{c}} |S|!·(k−1−|S|)!/k! · (v(S∪{c}) − v(S)).
    * With k ≤ ~8 channels the 2^k coalition table is exact and tiny,
    * and k!·φ_c is an exact INTEGER (weights |S|!(k−1−|S|)! are
    * integers) — no float enters until the final display division, so
    * efficiency (Σφ = v(C)) holds to the last micro-unit.
    *
    * Scale shape: ONE corpus aggregate to per-user (channel-bitmask,
    * converted) rows, one groupBy to ≤2^k signature counts; everything
    * after — the subset-of join to coalitions, the k·2^k marginal table
    * — is literal-sized. Returns per channel: phi_fact = k!·φ (exact
    * bigint), phi (round 6), share of v(C) (round 6). */
  def shapleyAttribution(events: DataFrame, convType: String,
                         channels: Seq[String]): DataFrame = {
    val k = channels.size
    require(k >= 1 && k <= 12, "need 1..12 channels")
    val s = events.sparkSession
    import s.implicits._
    val kFact = (1 to k).map(_.toLong).product
    def fact(n: Int): Long = (1 to n).map(_.toLong).product
    // per user: bitmask of touched channels + converted flag, then
    // counts per (mask, converted) signature — ≤ 2^(k+1) rows
    val maskCol = channels.zipWithIndex.map { case (ch, i) =>
      max(when(col("event_type") === ch, 1L << i).otherwise(0L))
    }.reduce(_ + _)
    val sigs = events
      .groupBy("user_id")
      .agg(maskCol.as("mask"),
        max(when(col("event_type") === convType, 1L).otherwise(0L))
          .as("conv"))
      .groupBy("mask").agg(sum("conv").as("n_conv"))
    // coalition values: v(S) = Σ n_conv over signatures with mask ⊆ S
    val coalitions = s.range(1L << k).select(col("id").as("smask"))
    val v = coalitions.join(broadcast(sigs),
        (col("smask").bitwiseAND(col("mask"))) === col("mask"), "left")
      .groupBy("smask").agg(coalesce(sum("n_conv"), lit(0L)).as("v"))
    // marginals: for each channel bit c and coalition S not containing
    // c, weight |S|!·(k−1−|S|)! times v(S∪{c}) − v(S)
    val weights = (0 until k).map(sz => fact(sz) * fact(k - 1 - sz))
    val wArr = array(weights.map(lit): _*)
    val chans = channels.zipWithIndex
      .map { case (ch, i) => (ch, 1L << i) }
      .toDF("channel", "bitval")
    val marg = chans.crossJoin(v.select(col("smask"), col("v").as("v_s")))
      .filter((col("smask").bitwiseAND(col("bitval"))) === 0)
      .join(v.select(col("smask").as("umask"), col("v").as("v_su")),
        col("umask") === col("smask") + col("bitval"))
      .withColumn("w", element_at(wArr, expr("bit_count(smask)") + 1))
      .groupBy("channel")
      .agg(sum(col("w") * (col("v_su") - col("v_s"))).as("phi_fact"))
    val vAll = v.filter(col("smask") === (1L << k) - 1)
      .select(col("v").as("v_all"))
    marg.crossJoin(broadcast(vAll))
      .select(col("channel"), col("phi_fact").cast("long").as("phi_fact"),
        round(col("phi_fact").cast("double") / kFact, 6).as("phi"),
        round(when(col("v_all") > 0, col("phi_fact").cast("double") /
          (lit(kFact.toDouble) * col("v_all"))), 6).as("share"))
      .orderBy("channel")
  }

  def retentionCohorts(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"),
      expr("cast(datediff(cast(ts as date), date'1970-01-01') div 7 as int)").as("wk"))
    val perUserWeek = ev.distinct()
    val cohort = perUserWeek.groupBy("user_id").agg(min("wk").as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_n"))
    perUserWeek.join(cohort, "user_id")
      .groupBy("cohort_week", "wk").agg(count(lit(1)).as("n_users"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"),
        col("n_users"),
        (col("n_users").cast("double") / col("cohort_n")).as("frac"))
      .orderBy("cohort_week", "week_offset")
  }

  case class PackDoc(shard: String, doc_id: Long, tokens: Long)
  case class PackCursor(cum: Long)
  case class PackAssign(shard: String, doc_id: Long, tokens: Long,
                        pack_id: Int, spans_boundary: Boolean)

  /** Streaming sequence packing: the incremental twin of
    * [[graft.operators.Chunker.packSequences]]. Documents arrive on a
    * stream; each shard keeps ONE number of state (the running token
    * total), so state is O(shards) regardless of stream length — the
    * bounded-state property that makes this viable as a continuous
    * training-data feed. Within a micro-batch, docs are packed in
    * `doc_id` order; across batches the cursor carries over, so when the
    * source delivers docs in per-shard order (e.g. a file source reading
    * ordered shard files) the assignment is IDENTICAL to the batch
    * operator's — pinned by StreamingSpec. */
  def packSequencesStream(docs: Dataset[PackDoc], budget: Long): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackCursor, PackAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: String, it: Iterator[PackDoc], state: GroupState[PackCursor]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            val packId = (cum / budget).toInt
            val spans = ((cum + d.tokens - 1) / budget).toInt > packId
            cum += d.tokens
            PackAssign(shard, d.doc_id, d.tokens, packId, spans)
          }
          state.update(PackCursor(cum))
          out.iterator
      }
  }

  /** Sessionization via Spark's native `session_window` aggregation: one
    * hash-merge aggregation instead of the two window passes + groupBy of
    * [[sessionizeBatch]] (~3× less work on a 1M-row batch). Boundary
    * semantics are STRICT: an event exactly `gap` after the previous one
    * starts a new session (events merge while diff < gap). Works in both
    * batch and streaming (`withWatermark` upstream). */
  def sessionizeNative(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(24,6)")).cast("double").as("sum_value"))
      .drop("session_window")

  /** Batch-mode sessionization with the streaming operator's inclusive
    * semantics (session breaks where the gap from the previous event
    * EXCEEDS `gapMs`): classic gaps-and-islands. */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      // exact integer µs arithmetic so the DuckDB oracle (epoch_us) agrees bit-for-bit
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapMs * 1000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      // decimal accumulation → order-independent exact sum (oracle parity)
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(24,6)")).cast("double").as("sum_value"))
      .drop("session_id")
  }

  /** Sweep-line concurrency peak over a session table: +1 at each
    * session_start, −1 at each session_end (closed intervals — starts
    * order before ends at an equal timestamp), running sum, global max —
    * "how many sessions were open at once", the capacity number behind
    * connection-pool and rate-limit sizing. One row out: session count,
    * the peak, and the earliest instant it was reached.
    *
    * The running sum is one GLOBAL ordered window over 2·n_sessions
    * boundary rows — bounded by the session table, not the event log; at
    * 100 TB partition the sweep by calendar day (sessions there are
    * day-bounded) and take the per-day max. */
  def concurrencyPeak(sessions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = sessions.select(col("session_start").as("ts"), lit(1).as("d"))
      .unionByName(sessions
        .select(col("session_end").as("ts"), lit(-1).as("d")))
    val w = Window.orderBy(col("ts"), col("d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ev.withColumn("c", sum("d").over(w))
    val peak = cum.agg(max("c").as("peak_concurrent"))
    val n = sessions.agg(count(lit(1)).as("n_sessions"))
    cum.crossJoin(broadcast(peak))
      .filter(col("c") === col("peak_concurrent"))
      .groupBy("peak_concurrent").agg(min("ts").as("peak_at"))
      .crossJoin(broadcast(n))
      .select(col("n_sessions"), col("peak_concurrent"), col("peak_at"))
  }

  /** Per-day Little's-law decomposition over a session table: arrivals
    * lambda (sessions started per hour), mean session duration W, and
    * time-average concurrency L = busy-time / day-length, where busy-time
    * sums each session's overlap with the day (sessions spanning
    * midnight explode over the days they touch, clipped). Little's law
    * says L = lambda*W on a long window; `little_gap` = L - lambda*W is
    * the measured finite-horizon edge effect — near 0 on days whose
    * sessions don't straddle the boundary, the honest audit of whether
    * your capacity math can use the identity. Also reports the per-day
    * PEAK concurrency from a +1/-1 sweep (starts order before ends at an
    * equal instant), the connection-pool number [[concurrencyPeak]]
    * reports globally.
    *
    * All durations are exact integer microseconds; the sweep window is
    * partitioned by day, so at 100 TB each day's boundary list sorts
    * independently — no global window. */
  def littlesLawAudit(sessions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val us = (c: org.apache.spark.sql.Column) => unix_micros(c)
    val days = sessions
      .select(col("session_start").as("st"), col("session_end").as("en"))
      .withColumn("day",
        explode(sequence(to_date(col("st")), to_date(col("en")))))
      .withColumn("dstart", col("day").cast("timestamp"))
      .withColumn("dend",
        timestamp_micros(us(col("dstart")) + 86400000000L))
      .withColumn("cst", greatest(col("st"), col("dstart")))
      .withColumn("cen", least(col("en"), col("dend")))
    val busy = days.groupBy("day")
      .agg(sum(us(col("cen")) - us(col("cst"))).as("busy_us"))
    val peaks = days
      .select(col("day"), col("cst").as("ts"), lit(1).as("d"))
      .unionByName(days.select(col("day"), col("cen").as("ts"),
        lit(-1).as("d")))
      .withColumn("c", sum("d").over(Window.partitionBy("day")
        .orderBy(col("ts"), col("d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("day").agg(max("c").as("peak_concurrent"))
    val arrivals = sessions
      .groupBy(to_date(col("session_start")).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(us(col("session_end")) - us(col("session_start")))
          .as("_dur_us"))
    busy.join(peaks, Seq("day"))
      .join(arrivals, Seq("day"), "left")
      .withColumn("n_sessions", coalesce(col("n_sessions"), lit(0L)))
      .withColumn("_dur_us", coalesce(col("_dur_us"), lit(0L)))
      .withColumn("l_avg",
        round(col("busy_us").cast("double") / 86400000000.0, 6))
      .withColumn("w_mean_s", round(when(col("n_sessions") > 0,
        col("_dur_us").cast("double") / col("n_sessions") / 1000000.0), 6))
      .withColumn("lambda_per_hr",
        round(col("n_sessions").cast("double") / 24.0, 6))
      .withColumn("little_gap", round(
        (col("busy_us") - col("_dur_us")).cast("double") / 86400000000.0,
        6))
      .select("day", "n_sessions", "busy_us", "peak_concurrent", "l_avg",
        "w_mean_s", "lambda_per_hr", "little_gap")
      .orderBy("day")
  }

  /** Watermark-delay sizing audit: replay the log in ARRIVAL order
    * (`event_id` — the ingest sequence), track the running max event
    * time, and for each candidate watermark delay report how many events
    * would arrive later than the watermark allows (late_us =
    * runmax − ts > delay) — i.e. be DROPPED by a streaming aggregation
    * with that `withWatermark` setting. The empirical basis for choosing
    * the delay instead of guessing. One global arrival-order window
    * (bounded here; at scale the same audit runs per ingest partition,
    * where arrival order actually exists) + one conditional aggregate per
    * candidate. */
  def latenessAudit(events: DataFrame, delaysMs: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = events
      .withColumn("_ts_us", unix_micros(col("ts")))
      .withColumn("_late_us",
        max("_ts_us").over(w) - col("_ts_us"))
    delaysMs.map { d =>
      late.agg(
        count(lit(1)).as("n_events"),
        sum(when(col("_late_us") > d * 1000L, 1L).otherwise(0L))
          .as("n_dropped"),
        (sum(when(col("_late_us") > d * 1000L, 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("dropped_frac"))
        .select(lit(d).as("delay_ms"), col("n_events"), col("n_dropped"),
          col("dropped_frac"))
    }.reduce(_ unionByName _)
  }

  /** Incremental refresh as a `foreachBatch` micro-batch: for each batch of
    * newly-listed files, classify against the store's processed aggregate
    * and merge only new/modified (the ST1 pattern, refresh.py:28-143). */
  def refreshBatch(spark: SparkSession, storeRoot: String, storeName: String,
                   listing: DataFrame,
                   embedAndChunk: DataFrame => DataFrame): Map[String, Long] = {
    import graft.operators.ChangeDetection
    import graft.store.VectorStore
    val store = VectorStore.read(spark, storeRoot, storeName)
    val processed = VectorStore.processedFiles(store)
    // Materialize the classification BEFORE mutating the store: Spark
    // invalidates cached plans that read a path when that path is written
    // (CacheManager.recacheByPath), so a lazy frame would silently
    // re-classify against the already-refreshed store.
    val statuses = ChangeDetection.detectChanges(listing, processed)
      .collect().map(r => r.getString(0) -> r.getString(1))
    val changed = statuses.collect { case (n, s) if s == "new" || s == "modified" => n }
    if (changed.nonEmpty) {
      VectorStore.deleteStale(spark, storeRoot, storeName,
        changed.toSeq) // modified files' stale chunks drop first (J2)
      val delta = embedAndChunk(listing.filter(col("name").isin(changed.toSeq: _*)))
      VectorStore.merge(spark, storeRoot, storeName, delta) // then J1 merge
    }
    statuses.groupBy(_._2).map { case (s, xs) => s -> xs.length.toLong }
  }

  /** Streaming incremental dedup as a `foreachBatch` stage: band-sign the
    * micro-batch, probe the PERSISTED signature store
    * ([[graft.operators.Dedup.incrementalDedupProbe]] — only matching band
    * buckets are read, the batch broadcasts, hot stored buckets are
    * capped), then write the batch's own signatures so every later batch
    * also dedups against this one. The store grows with the corpus but
    * each batch pays O(batch) — the streaming twin of q112's batch probe.
    *
    * REPLAY-SAFE: foreachBatch is at-least-once, so each batch lands in
    * its own `batch=<id>` partition with OVERWRITE (a re-run replaces its
    * first attempt instead of double-appending) and the probe excludes
    * the current batch id (a replay would otherwise match attempt 1's
    * signatures and report every doc as its own duplicate). Pass the
    * `batchId` foreachBatch hands you. The store bootstrap writes
    * `batch=-1`-style seed partitions the same way. Pairs are
    * materialized BEFORE the write (recacheByPath would invalidate the
    * lazy probe). Returns sorted (new_id, stored_id, est_jaccard) at or
    * above `threshold`. */
  def dedupProbeBatch(spark: SparkSession, sigStorePath: String,
                      batch: DataFrame, batchId: Long,
                      idCol: String, textCol: String,
                      shingleN: Int = 5, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8): Seq[(Long, Long, Double)] = {
    import graft.operators.Dedup
    val newSigs = Dedup
      .bandSignatures(batch, idCol, textCol, shingleN, numHashes, bands)
      .select(col("id").cast("long").as("id"), col("sig"),
        col("band_idx"), col("band_hash"))
      .cache()
    val stored = spark.read.parquet(sigStorePath)
      .filter(col("batch") =!= batchId)
      .drop("batch")
    val pairs = Dedup.incrementalDedupProbe(stored, newSigs,
        numHashes = numHashes, threshold = threshold)
      .select(col("new_id"), col("stored_id"), col("est_jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    newSigs.write.mode("overwrite").parquet(s"$sigStorePath/batch=$batchId")
    newSigs.unpersist()
    pairs.sorted
  }
}
