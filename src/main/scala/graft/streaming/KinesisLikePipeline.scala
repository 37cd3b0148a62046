package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Structured-Streaming re-expression of the reference's Kinesis →
  * Lambda flow (SURVEY.md §2 A14).
  *
  * Reference: kinesis_stream/main.go:24-37 (producer envelope),
  * adder-labma/adder.go:38-56 (decode → add → content-keyed put),
  * lambda_count/lcount.go:120-200 (topic message → page fan-out with
  * first/last notifications).
  *
  * Every transform here is a pure DataFrame→DataFrame function, so the
  * SAME code runs in batch (spark.read) and streaming (readStream) —
  * that is the Spark-native answer to "Lambda consumes the stream":
  * no per-record handler, just an incremental plan. The stateless
  * stages (decode, math, payload) pipeline at source speed on any
  * cluster; the stateful stages (windowed agg, page sequencer) shuffle
  * once on their keys and use watermarks to bound state at 100 TB/day.
  */
object KinesisLikePipeline {

  /** Kinesis math-problem payload (adder-labma/types.go:3-19). */
  val ProblemSchema: StructType = StructType(
    Seq(StructField("Num1", LongType), StructField("Num2", LongType))
  )

  /** Decode a stream of Kinesis-style envelopes: `data` is
    * base64(JSON payload), `partition_key` the shard key. Narrow,
    * codegen'd, no state — runs identically on readStream or read.
    */
  def decodeEnvelope(records: DataFrame): DataFrame =
    records
      .withColumn("p", from_json(unbase64(col("data")).cast("string"), ProblemSchema))
      .select(
        col("*"),
        col("p.Num1").as("num1"),
        col("p.Num2").as("num2")
      )
      .drop("p", "data")

  /** The adder lambda's body as a streaming map: answer string plus a
    * deterministic content-addressed result key (idempotent under
    * replay — Kinesis at-least-once delivery must not mint new keys).
    */
  def addAnswers(decoded: DataFrame, keyCol: String = "partition_key"): DataFrame =
    decoded.select(
      col("*"),
      concat(col("num1"), lit(" + "), col("num2"), lit(" = "), col("num1") + col("num2"))
        .as("answer"),
      concat(lit("add-"), md5(concat(lit("add-"), col(keyCol).cast("string"))))
        .as("result_key")
    )

  /** Watermarked tumbling-window counts per event type — the streaming
    * twin of EventOps.hourlyWindow. The watermark bounds state: at
    * 100 TB/day only ~window+watermark of per-key state is live.
    */
  def windowedCounts(
      events: DataFrame,
      window: String = "1 hour",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      // Decimal sum like the batch twin and the hopping/session
      // siblings: cross-partition float addition order would make the
      // streaming sums nondeterministic.
      .agg(count(lit(1)).as("n_events"), graft.operators.Num.moneySum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"),
        col("sum_value")
      )

  /** Watermarked HOPPING-window counts — the streaming twin of
    * EventOps.hoppingWindow (1-hour windows every 15 minutes). Each
    * event updates its size/slide (= 4) overlapping windows; live
    * state is (span + watermark) / slide windows per key — still
    * bounded by the watermark, inflated only by the constant overlap
    * factor.
    */
  def hoppingCounts(
      events: DataFrame,
      window: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type")
      )
      // Decimal sum like the batch twin: cross-partition float addition
      // order would make the streaming sums nondeterministic.
      .agg(count(lit(1)).as("n_events"), graft.operators.Num.moneySum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"),
        col("sum_value")
      )

  /** Watermarked SESSION windows per user — the streaming twin of
    * EventOps.sessionWindows. Unlike fixed windows, session state
    * MERGES: an event landing within `gap` of an open session extends
    * it (possibly bridging two into one), and a session finalizes —
    * emitting exactly one Append-mode row — only when the watermark
    * passes its end. Live state is bounded by (active users ×
    * sessions inside the watermark horizon), the per-key merge the
    * RocksDB session store is built for; this is the stream form of
    * the gaps-and-islands batch query, with the same decimal money
    * sum so the finalized rows match the batch twin bit-for-bit.
    */
  def sessionCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), graft.operators.Num.moneySum(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"),
        col("n_events"),
        col("sum_value")
      )

  /** One in-flight capped (sub-)session per user (A10f state). Money
    * rides as integer cents (the decimal-sum convention in streaming
    * state form); times as epoch microseconds.
    */
  final case class CapSessState(
      gapStartUs: Long,
      subIdx: Long,
      startUs: Long,
      endUs: Long,
      n: Long,
      cents: Long
  )

  /** A finalized capped session. */
  final case class CapSessOut(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long,
      sum_value: Double
  )

  /** The capped-session state machine shared by BOTH streaming
    * backends (fMGWS A10f and transformWithState A10g — the emitPages
    * precedent): fold event-time-sorted (µs, cents) rows into the open
    * session, emitting finalized sub-sessions on gap breaks (re-anchor)
    * and cap crossings (keep the anchor).
    */
  private def mergeCapEvents(
      sorted: Seq[(Long, Long)],
      init: Option[CapSessState],
      gapUs: Long,
      capUs: Long
  ): (Seq[CapSessState], Option[CapSessState]) = {
    val done = scala.collection.mutable.ArrayBuffer.empty[CapSessState]
    var cur  = init
    sorted.foreach { case (eu, c) =>
      cur match {
        case None =>
          cur = Some(CapSessState(eu, 0L, eu, eu, 1L, c))
        case Some(s) if eu - s.endUs > gapUs =>
          done += s // gap break: finalize, re-anchor
          cur = Some(CapSessState(eu, 0L, eu, eu, 1L, c))
        case Some(s) =>
          val sub = (eu - s.gapStartUs) / capUs
          if (sub != s.subIdx) {
            done += s // cap split: finalize, KEEP the anchor
            cur = Some(CapSessState(s.gapStartUs, sub, eu, eu, 1L, c))
          } else {
            cur = Some(s.copy(endUs = eu, n = s.n + 1L, cents = s.cents + c))
          }
      }
    }
    (done.toSeq, cur)
  }

  private def capSessUs(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  private def capSessTs(u: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(u / 1000L)
    t.setNanos(((u % 1000000L) * 1000L).toInt)
    t
  }

  private def capSessOut(user: Long, s: CapSessState): CapSessOut =
    CapSessOut(user, capSessTs(s.startUs), capSessTs(s.endUs), s.n, s.cents / 100.0)

  /** A10f: streaming CAPPED sessions — the twin of
    * EventOps.cappedSessions, and the case where the built-in
    * `session_window` state machine genuinely cannot express the
    * semantics (it only merges on the gap; the duration cap needs a
    * per-session carry), so this is the custom-state path:
    * `flatMapGroupsWithState` with EventTimeTimeout.
    *
    * State is ONE open (sub-)session per user — constant per key, the
    * 100 TB/day shape — holding the gap-session anchor (the cap is
    * measured from the GAP session's first event, exactly like the
    * batch kernel's ⌊(ts−gapStart)/cap⌋), the open sub-session bounds,
    * and the running decimal-as-cents sum. Each batch's events for a
    * key are processed in event-time order: a >gap jump finalizes and
    * re-anchors; crossing a cap boundary finalizes the sub-session but
    * KEEPS the anchor (that is the rule a fresh `session_window` can't
    * track); otherwise the open session extends. A session with no
    * successor finalizes when the watermark passes last + gap (the
    * event-time timeout). In-order delivery within the watermark is
    * assumed — the same contract the fMGWS sequencer documents.
    */
  def cappedSessionCounts(
      events: DataFrame,
      gapMinutes: Int = 30,
      capMinutes: Int = 120,
      watermark: String = "10 minutes"
  ): Dataset[CapSessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val capUs = capMinutes * 60L * 1000000L
    events
      .withWatermark("ts", watermark)
      .selectExpr("ts", "user_id", "value")
      .as[(java.sql.Timestamp, Long, Double)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, in: Iterator[(java.sql.Timestamp, Long, Double)],
         state: GroupState[CapSessState]) =>
          if (state.hasTimedOut) {
            val closed = state.getOption.map(capSessOut(user, _)).toSeq
            state.remove()
            closed.iterator
          } else {
            val sorted = in.toSeq
              .map(e => (capSessUs(e._1), math.round(e._3 * 100.0)))
              .sortBy(_._1)
            val (done, cur) = mergeCapEvents(sorted, state.getOption, gapUs, capUs)
            cur.foreach { s =>
              state.update(s)
              // event-time timeout at last + gap: past it no event can
              // extend this session, so it is safe to finalize
              state.setTimeoutTimestamp(s.endUs / 1000L + gapMinutes * 60L * 1000L)
            }
            done.map(capSessOut(user, _)).iterator
          }
      }
  }

  /** A10g: [[cappedSessionCounts]] on the transformWithState engine
    * (RocksDB provider) — the same shared state machine, with the
    * timeout expressed as an EVENT-TIME TIMER: each batch re-arms a
    * timer at last + gap, and because stale timers from earlier
    * batches still fire, [[CappedSessionProcessor.handleExpiredTimer]]
    * finalizes only when the stored session has actually aged past the
    * gap at the timer's expiry (the guard the declarative timer API
    * needs where fMGWS's setTimeoutTimestamp overwrote in place).
    */
  class CappedSessionProcessor(gapMinutes: Int = 30, capMinutes: Int = 120)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (java.sql.Timestamp, Long, Double), CapSessOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Encs}

    private val gapUs = gapMinutes * 60L * 1000000L
    private val capUs = capMinutes * 60L * 1000000L

    @transient private var sess: ValueState[CapSessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[CapSessState](
        "sess", Encs.product[CapSessState], TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        in: Iterator[(java.sql.Timestamp, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[CapSessOut] = {
      val sorted = in.toSeq
        .map(e => (capSessUs(e._1), math.round(e._3 * 100.0)))
        .sortBy(_._1)
      val prev        = if (sess.exists()) Some(sess.get()) else None
      val (done, cur) = mergeCapEvents(sorted, prev, gapUs, capUs)
      cur.foreach { s =>
        sess.update(s)
        getHandle.registerTimer(s.endUs / 1000L + gapMinutes * 60L * 1000L)
      }
      done.map(capSessOut(user, _)).iterator
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo
    ): Iterator[CapSessOut] = {
      // stale-timer guard: a timer armed by an earlier batch fires even
      // though later events extended the session — only finalize when
      // the OPEN session really ends at/before this timer's horizon
      val expiry = expiredTimerInfo.getExpiryTimeInMs()
      if (sess.exists() && sess.get().endUs / 1000L + gapMinutes * 60L * 1000L <= expiry) {
        val closed = capSessOut(user, sess.get())
        sess.clear()
        Iterator.single(closed)
      } else Iterator.empty
    }
  }

  /** [[cappedSessionCounts]] through transformWithState. */
  def cappedSessionCountsTws(
      events: DataFrame,
      gapMinutes: Int = 30,
      capMinutes: Int = 120,
      watermark: String = "10 minutes"
  ): Dataset[CapSessOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withWatermark("ts", watermark)
      .selectExpr("ts", "user_id", "value")
      .as[(java.sql.Timestamp, Long, Double)]
      .groupByKey(_._2)
      .transformWithState(
        new CappedSessionProcessor(gapMinutes, capMinutes),
        TimeMode.EventTime(),
        OutputMode.Append()
      )
  }

  /** One live heavy-hitter verdict row. */
  final case class HeavyHitterOut(event_type: String, epoch: Long, user_id: Long, n_events: Long)

  /** One per-user feature snapshot after a batch: total events seen and
    * the last-k values (cents, most recent first).
    */
  final case class RecentFeatOut(user_id: Long, epoch: Long, n_seen: Long, recent: Seq[Long])

  /** C45: online last-k feature buffer on the LISTSTATE primitive —
    * the third transformWithState state shape alongside ValueState
    * (A10g's session record) and MapState (B59b's counter map): per
    * user, the rolling "last 3 transaction values" feature every
    * online feature store serves. ListState is the right container
    * because the hot path is APPEND (RocksDB list merge per input
    * row — no read-modify-write of the whole buffer the way a
    * ValueState[Seq] would serialize); the k-trim touches the list
    * only once per batch per key, bounded by k + that batch's rows.
    * Rows are time-ordered WITHIN each batch before appending (multi-
    * shard arrival order inside a batch is not meaningful); across
    * batches the buffer keeps arrival order — the at-ingest contract
    * of a live feature buffer. Emits one snapshot per active user per
    * batch, epoch-stamped like the heavy-hitter monitor.
    */
  class RecentBufferProcessor(k: Int = 3)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long), RecentFeatOut] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Encs}

    @transient private var buf: ListState[(Long, Long)] = _ // (tsUs, cents)
    @transient private var seen: ValueState[Long]       = _
    @transient private var epoch: ValueState[Long]      = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[(Long, Long)](
        "buf", Encs.tuple(Encs.scalaLong, Encs.scalaLong), TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen", Encs.scalaLong, TTLConfig.NONE)
      epoch = getHandle.getValueState[Long]("epoch", Encs.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        userId: Long,
        in: Iterator[(Long, Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[RecentFeatOut] = {
      // time order within the batch, event_id tiebreak: two same-user
      // events in the same microsecond must still buffer in ONE order
      // (the oracle's ORDER BY ts, event_id) regardless of partition
      // arrival order
      val rows = in.toArray.sortBy(r => (r._2, r._3))
      rows.foreach { case (_, tsUs, _, cents) => buf.appendValue((tsUs, cents)) }
      val all = buf.get().toArray
      if (all.length > k) buf.put(all.takeRight(k))
      val n = (if (seen.exists()) seen.get() else 0L) + rows.length
      seen.update(n)
      val e = (if (epoch.exists()) epoch.get() else 0L) + 1L
      epoch.update(e)
      Iterator.single(
        RecentFeatOut(userId, e, n, all.takeRight(k).reverseIterator.map(_._2).toSeq))
    }
  }

  /** [[RecentBufferProcessor]] wired to a stream of
    * (user_id, ts_us, event_id, cents).
    */
  def recentFeatureBuffer(events: DataFrame, k: Int = 3): Dataset[RecentFeatOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .selectExpr("user_id", "ts_us", "event_id", "cents")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new RecentBufferProcessor(k),
        TimeMode.None(),
        OutputMode.Append()
      )
  }

  /** B59's streaming twin — a live skew MONITOR on the MapState
    * primitive: per event_type, a map of per-user running counts
    * (RocksDB-backed — the state the 100 TB/day path holds is user-
    * cardinality-sized per type, with point get/put per input row, no
    * full-state rewrite per trigger the way a ValueState[Map] would
    * serialize). After each batch the group emits its CURRENT heavy
    * hitters (count·n_users·liftDen > total·liftNum, the batch twin's
    * exact integer rule) stamped with a per-group epoch, so the latest
    * epoch IS the current dashboard and earlier epochs are its
    * history. The emission pass iterates the map (O(users-in-state))
    * — the monitor trade-off; the per-row update path never does.
    */
  class HeavyHitterProcessor(liftNum: Int = 13, liftDen: Int = 10)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long), HeavyHitterOut] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => Encs}

    @transient private var counts: MapState[Long, Long] = _
    @transient private var epoch: ValueState[Long]      = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[Long, Long](
        "counts", Encs.scalaLong, Encs.scalaLong, TTLConfig.NONE)
      epoch = getHandle.getValueState[Long]("epoch", Encs.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        eventType: String,
        in: Iterator[(String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[HeavyHitterOut] = {
      in.foreach { case (_, user) =>
        val c = if (counts.containsKey(user)) counts.getValue(user) else 0L
        counts.updateValue(user, c + 1L)
      }
      val e = (if (epoch.exists()) epoch.get() else 0L) + 1L
      epoch.update(e)
      val all   = counts.iterator().map { case (u, c) => (u, c) }.toArray
      val total = all.iterator.map(_._2).sum
      val nU    = all.length.toLong
      all.iterator
        .filter { case (_, c) => c * nU * liftDen > total * liftNum }
        .map { case (u, c) => HeavyHitterOut(eventType, e, u, c) }
    }
  }

  /** [[HeavyHitterProcessor]] wired to a stream of (event_type, user_id). */
  def heavyHitterMonitor(
      events: DataFrame,
      liftNum: Int = 13,
      liftDen: Int = 10
  ): Dataset[HeavyHitterOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .selectExpr("event_type", "user_id")
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new HeavyHitterProcessor(liftNum, liftDen),
        TimeMode.None(),
        OutputMode.Append()
      )
  }

  /** Rolling distinct active users per sliding window — the streaming
    * twin of EventOps.rollingActives (the WAU curve, updated as events
    * arrive). Streaming can't nest aggregations, so sliding DISTINCT
    * uses the one supported composition: the `window()` generator
    * (which PROPAGATES the event-time watermark, unlike a hand-built
    * explode) fans each event into its overlapping windows, a
    * watermark-bounded dropDuplicates keeps one (user, window) row,
    * and the final count is then a plain aggregation. State =
    * watermark-horizon user-window pairs on the dedup side plus open
    * windows on the agg side — both watermark-bounded.
    */
  def rollingActiveCounts(
      events: DataFrame,
      window: String = "7 days",
      slide: String = "1 day",
      watermark: String = "1 day"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(
        org.apache.spark.sql.functions.window(col("ts"), window, slide).as("win"),
        col("user_id")
      )
      .dropDuplicates("user_id", "win")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("active_users"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"), col("active_users"))

  /** Stream-stream interval join: correlate two event streams on a
    * key within a bounded time skew. Both watermarks plus the interval
    * condition bound the join state on each side — without them a
    * stream-stream join buffers forever. This is how the reference's
    * "look up related records" Lambda patterns express in pure
    * Structured Streaming.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyLeft: String,
      keyRight: String,
      tsLeft: String,
      tsRight: String,
      skew: String = "5 minutes",
      watermark: String = "10 minutes",
      joinType: String = "inner"
  ): DataFrame =
    left
      .withWatermark(tsLeft, watermark)
      .join(
        right.withWatermark(tsRight, watermark),
        expr(
          s"""$keyLeft = $keyRight AND
             |$tsRight BETWEEN $tsLeft - INTERVAL $skew AND $tsLeft + INTERVAL $skew""".stripMargin
        ),
        joinType
      )

  /** LEFT OUTER interval join — the "every click, matched or not"
    * form. Same bounded state as the inner join, but an unmatched left
    * row CANNOT emit when first seen (a matching right row may still
    * arrive within the skew): it emits null-padded only once the
    * watermark passes its join horizon and the engine evicts it from
    * state. Downstream consumers must expect that delay — it is the
    * price of a correct outer result on unbounded streams, and the
    * reason the spec advances the watermark before asserting the
    * unmatched row.
    */
  def intervalJoinLeft(
      left: DataFrame,
      right: DataFrame,
      keyLeft: String,
      keyRight: String,
      tsLeft: String,
      tsRight: String,
      skew: String = "5 minutes",
      watermark: String = "10 minutes"
  ): DataFrame =
    intervalJoin(left, right, keyLeft, keyRight, tsLeft, tsRight, skew, watermark, "left_outer")

  /** FULL-outer interval join — completes the stream-stream join-mode
    * matrix (inner / left / full): unmatched rows from EITHER side
    * null-pad once the watermark proves no partner can arrive. Both
    * sides' state is watermark-evicted, and eviction is what emits —
    * the same correctness/delay trade as the left form, paid on both
    * sides.
    */
  def intervalJoinFull(
      left: DataFrame,
      right: DataFrame,
      keyLeft: String,
      keyRight: String,
      tsLeft: String,
      tsRight: String,
      skew: String = "5 minutes",
      watermark: String = "10 minutes"
  ): DataFrame =
    intervalJoin(left, right, keyLeft, keyRight, tsLeft, tsRight, skew, watermark, "full_outer")

  /** Streaming incremental dedup — the STREAM-STATIC join form of
    * Dedup.incrementalDedup's exact arm: a stream of incoming
    * documents probes the (static, pre-built) base-corpus hash index
    * and each micro-batch emits admit/duplicate verdicts. Stream-static
    * joins keep NO join state — the static side is (re)broadcast or
    * hash-probed per micro-batch and the stream side passes through —
    * so this runs at ingest speed regardless of stream history; it is
    * the online admission-control front of the nightly batch refresh.
    */
  def streamingAdmission(docs: DataFrame, baseIndex: DataFrame): DataFrame =
    docs
      .withColumn("text_hash", graft.operators.Dedup.normTextHashCol)
      .join(
        // One row per hash (min doc_id), matching the batch twin
        // incrementalDedup — a base corpus with internal duplicates must
        // not fan each stream doc out into multiple verdict rows.
        baseIndex
          .groupBy(col("text_hash"))
          .agg(min(col("doc_id")).as("base_doc")),
        Seq("text_hash"),
        "left"
      )
      .select(
        col("doc_id"),
        col("text_hash"),
        when(col("base_doc").isNotNull, "duplicate").otherwise("admit").as("verdict"),
        col("base_doc")
      )

  /** Exactly-once delivery on top of Kinesis' at-least-once: drop
    * replayed records by their deterministic content key, keeping
    * dedup state only within the watermark horizon — state size is
    * bounded by (throughput × watermark), not stream history. This is
    * the streaming twin of Dedup.exact.
    */
  def dedupByKey(
      records: DataFrame,
      keyCol: String,
      tsCol: String,
      watermark: String = "10 minutes"
  ): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Incoming topic message (lambda_count's input). */
  final case class TopicMsg(topic_id: Long, message: String, n_devices: Long, page_size: Long)

  /** Emitted per-page message (lcount.go:171-196 topicPageMessage) plus
    * the first/last SNS-style notes (lcount.go:139-156).
    */
  final case class PageMsg(
      topic_id: Long,
      page_num: Long,
      page_count: Long,
      global_seq: Long,
      message: String,
      note: String
  )

  /** Per-topic sequencer state: pages emitted so far (all triggers). */
  final case class SeqState(pagesEmitted: Long)

  /** Stateful page sequencer: each topic message fans out into its
    * page messages `(count/pagesize)+1`, numbered, with first/last
    * notifications, and a per-topic global sequence number that
    * continues across triggers (the role Kinesis shard ordering plays
    * in the reference). `flatMapGroupsWithState` keeps exactly one
    * counter per topic — state size ∝ #topics, not #messages, so it
    * holds at any throughput. ProcessingTimeTimeout would evict idle
    * topics in a production deployment.
    */
  /** The sequencing semantics shared by both state backends: fan each
    * message into its numbered pages (reference formula
    * `(count/pagesize)+1`, first/last notes) and thread the per-topic
    * global sequence. Returns the pages and the advanced counter.
    */
  private def emitPages(
      topicId: Long,
      startSeq: Long,
      msgs: Seq[TopicMsg]
  ): (Seq[PageMsg], Long) = {
    var emitted = startSeq
    val out = msgs.sortBy(_.message).flatMap { m =>
      val pageCount = m.n_devices / m.page_size + 1
      (1L to pageCount).map { p =>
        emitted += 1
        PageMsg(
          topicId,
          p,
          pageCount,
          emitted,
          m.message,
          if (p == 1) "Count: 1st page sent"
          else if (p == pageCount) s"Count: Last Page Sent: $pageCount"
          else ""
        )
      }
    }
    (out, emitted)
  }

  def pageSequencer(spark: SparkSession, msgs: Dataset[TopicMsg]): Dataset[PageMsg] = {
    import spark.implicits._
    msgs
      .groupByKey(_.topic_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (topicId: Long, in: Iterator[TopicMsg], state: GroupState[SeqState]) =>
          val (out, emitted) =
            emitPages(topicId, state.getOption.map(_.pagesEmitted).getOrElse(0L), in.toSeq)
          state.update(SeqState(emitted))
          out.iterator
      }
  }

  /** Spark-4 arbitrary-state twin of [[pageSequencer]], on the
    * `transformWithState` API. Same semantics (one counter per topic,
    * pages numbered across triggers); what changes is the state
    * machinery: typed, named state variables (`ValueState[Long]`)
    * backed by the RocksDB state store — the production-scale path,
    * since flatMapGroupsWithState's HDFS-backed map keeps live state
    * on the executor heap while RocksDB spills to local disk and
    * uploads changelogs, which is what actually holds at 100 TB/day of
    * topic state. The processor also gets per-variable TTL and timers
    * for free (idle-topic eviction = `TTLConfig(Duration)` instead of
    * hand-rolled timeout handling). Equality with the fMGWS variant is
    * spec-asserted across triggers.
    */
  class PageSequencerProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TopicMsg, PageMsg] {
    import org.apache.spark.sql.streaming.{TimeMode, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var emitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      emitted = getHandle.getValueState[Long]("emitted", Encoders.scalaLong, ttl)

    override def handleInputRows(
        topicId: Long,
        in: Iterator[TopicMsg],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[PageMsg] = {
      val start    = if (emitted.exists()) emitted.get() else 0L
      val (out, e) = emitPages(topicId, start, in.toSeq)
      emitted.update(e)
      out.iterator
    }
  }

  /** [[pageSequencer]] on the transformWithState engine (requires the
    * RocksDB state store provider — set
    * `spark.sql.streaming.stateStore.providerClass` before starting).
    *
    * `idleTtl`: evict an idle topic's counter after this duration —
    * the declarative replacement for flatMapGroupsWithState's
    * hand-rolled timeout handling. State size then tracks ACTIVE
    * topics, not all topics ever seen: the property that holds at
    * 100 TB/day with a long-tailed topic population. An evicted
    * topic's numbering restarts at 1 (same behavior as the reference
    * after its Lambda loses the shard checkpoint). TTL requires
    * processing-time semantics, hence the TimeMode switch.
    */
  def pageSequencerTws(
      spark: SparkSession,
      msgs: Dataset[TopicMsg],
      idleTtl: Option[java.time.Duration] = None
  ): Dataset[PageMsg] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    val (ttl, mode) = idleTtl match {
      case Some(d) => (TTLConfig(d), TimeMode.ProcessingTime())
      case None    => (TTLConfig.NONE, TimeMode.None())
    }
    msgs
      .groupByKey(_.topic_id)
      .transformWithState(new PageSequencerProcessor(ttl), mode, OutputMode.Append())
  }

  /** A14 end-to-end THROUGH the DSv2 connector: `readStream` on
    * graft.sources.ProblemSource (real offsets, not a rate-source
    * stand-in) → envelope decode → adder → content-addressed parquet
    * store, drained under `Trigger.AvailableNow` in
    * ⌈numRows/rowsPerBatch⌉ offset-bounded micro-batches, then read
    * back as a batch DataFrame. The source is a pure function of seq,
    * so the correctness gate checks the WHOLE streaming path against a
    * generate_series oracle — connector, offset ranges, decode, math,
    * and sink all hash-verified.
    */
  def problemStreamToStore(
      spark: SparkSession,
      numRows: Long = 10000L,
      rowsPerBatch: Long = 2500L
  ): DataFrame = {
    // the store outlives this call (the returned frame reads it
    // lazily), so it is removed at JVM exit; the checkpoint is not
    // read again after an AvailableNow drain and goes right away
    val tmp    = graft.operators.Ingest.scratchDir("graft-stream-store")
    val outDir = s"$tmp/store"
    val ckpt   = java.nio.file.Paths.get(tmp, "ckpt")
    val records = spark.readStream
      .format("graft.sources.ProblemSource")
      .option("numRows", numRows)
      .option("numPartitions", 8)
      .option("rowsPerBatch", rowsPerBatch)
      .load()
    val answered = addAnswers(decodeEnvelope(records), keyCol = "seq")
    // key_prefix is the digest's first hex char, one of 16 values
    val q = StreamIO
      .contentAddressedSink(answered, outDir, ckpt.toString, availableNow = true, prefixChars = 1)
    try q.awaitTermination()
    finally StreamReplay.deleteTree(ckpt)
    // explicit schema: no footer is read to infer it, and a drain that
    // committed no rows still returns a typed, empty frame
    StreamIO
      .readContentAddressed(
        spark,
        outDir,
        Some(
          "seq LONG, partition_key STRING, num1 LONG, num2 LONG, " +
            "answer STRING, result_key STRING, key_prefix STRING"
        )
      )
      .select("seq", "partition_key", "num1", "num2", "answer", "result_key", "key_prefix")
      .orderBy("seq")
  }

  /** End-to-end wiring for the math flow: envelope stream → decode →
    * add → content-keyed append sink. Returns the started query.
    * Sink format is caller-chosen ("parquet" in production — the S3
    * bucket analog; "memory" in specs).
    */
  def runMathPipeline(
      records: DataFrame,
      format: String,
      path: Option[String],
      queryName: String,
      checkpoint: String
  ) = {
    val writer = addAnswers(decodeEnvelope(records)).writeStream
      .outputMode(OutputMode.Append)
      .format(format)
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
    path.fold(writer)(p => writer.option("path", p)).start()
  }
}
