package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.Base64

import graft.streaming.KinesisLikePipeline
import graft.streaming.KinesisLikePipeline.TopicMsg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** MemoryStream specs for the A14 streaming pipeline: envelope decode →
  * math, watermarked windowed agg, stateful page sequencer.
  */
class StreamingSpec extends SparkSpecBase {

  private def ckpt(): String = Files.createTempDirectory("graft-ckpt").toString

  private def envelope(n1: Long, n2: Long): String =
    Base64.getEncoder.encodeToString(s"""{"Num1":$n1,"Num2":$n2}""".getBytes("UTF-8"))

  test("corpus canary: no same-user adjacency at exactly the session gap, at any SF") {
    // q_stream_sessions derives from the capped-session drain, and the
    // two session conventions differ ONLY at an exact-30-minute
    // adjacency (session_window splits at >= gap, the cap machine
    // merges at <= gap). No such adjacency exists at any SF today — if
    // regenerated testdata ever introduces one, THIS names the cause
    // instead of leaving a bare hash mismatch on the gate key.
    import org.apache.spark.sql.expressions.Window
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val w = Window.partitionBy("user_id").orderBy("ts")
      val n = graft.sources.Tables(spark, s"/root/testdata/$sf").events
        .select(col("user_id"), col("ts"))
        .withColumn("delta_us",
          expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w))
        .filter(col("delta_us") === 30L * 60L * 1000000L)
        .count()
      assert(n == 0L,
        s"$sf has $n exact-gap adjacencies — the q_stream_sessions drain derivation is no longer exact")
    }
  }

  test("envelope decode → adder answers flow through a streaming query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val q = KinesisLikePipeline
      .runMathPipeline(
        in.toDF().toDF("partition_key", "data"),
        format = "memory",
        path = None,
        queryName = "math_out",
        checkpoint = ckpt()
      )
    in.addData(("k1", envelope(3, 4)), ("k2", envelope(10, 0)))
    q.processAllAvailable()
    in.addData(("k1", envelope(3, 4))) // replay: same key ⇒ same result_key (idempotent)
    q.processAllAvailable()
    val rows = spark.table("math_out").collect()
    q.stop()
    val byAnswer = rows.map(r => r.getAs[String]("answer")).sorted
    assert(byAnswer.toSeq == Seq("10 + 0 = 10", "3 + 4 = 7", "3 + 4 = 7"))
    val k1Keys = rows.filter(_.getAs[String]("partition_key") == "k1").map(_.getAs[String]("result_key"))
    assert(k1Keys.distinct.length == 1, "replayed record minted a new content key")
  }

  test("DSv2 problem source streams in offset-bounded micro-batches under AvailableNow") {
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream
      .format("graft.sources.ProblemSource")
      .option("numRows", 1000)
      .option("numPartitions", 4)
      .option("rowsPerBatch", 300)
      .load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes += b.count(): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt())
      .start()
    q.awaitTermination()
    assert(sizes.sum == 1000, s"stream dropped rows: $sizes")
    assert(sizes.forall(_ <= 300), s"admission control exceeded rowsPerBatch: $sizes")
    assert(sizes.length == 4, s"expected 300+300+300+100 pacing, got: $sizes")
  }

  test("DSv2 problem source's statistics bound every micro-batch and the narrowed batch read") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    // a row's bytes as Spark's getSizePerRow counts a row with known string lengths
    def bytes(r: Row): Long = 8L + 8 + (r.getString(1).length + 12) + (r.getString(2).length + 12)
    val seen       = scala.collection.mutable.ArrayBuffer[(Statistics, Long, Long)]()
    val checkpoint = Files.createTempDirectory("graft-ckpt")
    try {
      spark.readStream
        .format("graft.sources.ProblemSource")
        .option("numRows", 1000)
        .option("numPartitions", 4)
        .option("rowsPerBatch", 300)
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect()
          seen += ((b.queryExecution.optimizedPlan.stats, rows.length.toLong, rows.map(bytes).sum)): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint.toString)
        .start()
        .awaitTermination()
    } finally deleteTree(checkpoint)
    assert(seen.map(_._2).sum == 1000 && seen.size == 4, s"unexpected batches: ${seen.map(_._2)}")
    seen.foreach { case (stats, rows, size) =>
      assert(stats.rowCount.exists(_ >= rows), s"$stats reports fewer than $rows rows")
      assert(stats.sizeInBytes >= size, s"$stats reports fewer than $size bytes")
    }
    // a batch read reports the filter-narrowed range and the pruned columns
    val narrowed = spark.read
      .format("graft.sources.ProblemSource")
      .option("numRows", 1000)
      .load()
      .filter(col("seq") >= 900)
      .select("seq")
    val scan = narrowed.queryExecution.optimizedPlan.collectLeaves().head.stats
    assert(scan.rowCount.contains(BigInt(100)) && scan.sizeInBytes == 100 * (8 + 8), s"$scan")
  }

  test("DSv2 problem source resumes from the checkpointed offset after restart") {
    import spark.implicits._
    val checkpoint = ckpt()
    def drain(numRows: Int): Seq[Long] = {
      val got = scala.collection.mutable.ArrayBuffer[Long]()
      val q = spark.readStream
        .format("graft.sources.ProblemSource")
        .option("numRows", numRows)
        .option("numPartitions", 2)
        .option("rowsPerBatch", 200)
        .load()
        .select("seq")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.as[Long].collect(): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .start()
      q.awaitTermination()
      got.toSeq
    }
    assert(drain(500).sorted == (0L until 500L))
    // restart against a longer bound: only the unseen suffix arrives
    assert(drain(1000).sorted == (500L until 1000L))
  }

  test("DSv2 stream → decode → add → content store is exact end to end") {
    import scala.jdk.CollectionConverters._
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def storeDirs(): Set[java.nio.file.Path] = {
      val s = Files.list(tmpRoot)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-stream-store")).toSet
      finally s.close()
    }
    val before = storeDirs()
    val rows = KinesisLikePipeline
      .problemStreamToStore(spark, numRows = 400, rowsPerBatch = 150)
      .collect()
    // the drain's checkpoint is gone once it returns; the store stays
    // until JVM exit because the returned frame reads it lazily
    val created = storeDirs() -- before
    assert(created.size == 1, s"expected one new store temp dir, got $created")
    assert(!Files.exists(created.head.resolve("ckpt")), "drain checkpoint left behind")
    assert(Files.isDirectory(created.head.resolve("store")))
    assert(rows.length == 400)
    val r7 = rows(7)
    assert(r7.getAs[Long]("seq") == 7L)
    assert(r7.getAs[Long]("num1") == 7L)
    assert(r7.getAs[Long]("num2") == (7 * 7 + 3) % 100)
    assert(r7.getAs[String]("answer") == "7 + 52 = 59")
    assert(r7.getAs[String]("result_key").startsWith("add-"))
    assert(r7.getAs[String]("key_prefix").length == 1)
    // replay-stability: content keys are a pure function of seq
    assert(rows.map(_.getAs[String]("result_key")).distinct.length == 400)
  }

  test("watermarked windowed counts finalize after the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = KinesisLikePipeline.windowedCounts(
      in.toDF().toDF("ts", "event_type", "value"),
      window = "1 hour",
      watermark = "10 minutes"
    )
    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("win_out")
      .option("checkpointLocation", ckpt())
      .start()
    val h0 = Timestamp.valueOf("2026-01-01 00:10:00")
    val h0b = Timestamp.valueOf("2026-01-01 00:40:00")
    in.addData((h0, "click", 2.0), (h0b, "click", 3.0), (h0, "view", 1.0))
    q.processAllAvailable()
    // advance the watermark well past hour 0 so its windows emit
    in.addData((Timestamp.valueOf("2026-01-01 03:00:00"), "click", 9.0))
    q.processAllAvailable()
    val rows = spark.table("win_out").collect()
    q.stop()
    val click = rows.find(r => r.getAs[String]("event_type") == "click").get
    assert(click.getAs[Long]("n_events") == 2)
    assert(click.getAs[Double]("sum_value") == 5.0)
  }

  test("tumbling windows: multi-batch streaming sums equal the batch twin bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = KinesisLikePipeline.windowedCounts(
      in.toDF().toDF("ts", "event_type", "value"),
      window = "1 hour",
      watermark = "10 minutes"
    )
    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("win_eq_out")
      .option("checkpointLocation", ckpt())
      .start()
    // Float-hostile values over 3 hours. Batches must advance in event
    // time (globally ts-sorted, small slices) so every window straddles
    // a batch boundary and the state-store partial sums must merge
    // across batches — delivering all 3 hours in every batch would let
    // the watermark close hours 0–1 after batch one and drop the rest
    // as late. Only the decimal sum makes the merged result equal the
    // one-shot batch aggregation.
    val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val fixture = (0 until 300).map { i =>
      (new Timestamp(base + (i % 3) * 3600000L + (i * 7 % 60) * 60000L),
        if (i % 2 == 0) "click" else "view",
        0.01 * i + 0.1)
    }
    fixture.sortBy(_._1.getTime).grouped(40).foreach { b => in.addData(b); q.processAllAvailable() }
    in.addData((Timestamp.valueOf("2026-01-01 09:00:00"), "flush", 0.0))
    q.processAllAvailable()
    val streamed = spark
      .table("win_eq_out")
      .filter(col("event_type").isin("click", "view"))
      .collect()
      .map(r =>
        (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSet
    q.stop()
    val batch = fixture
      .toDF("ts", "event_type", "value")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), graft.operators.Num.moneySum(col("value")).as("sum_value"))
      .collect()
      .map(r =>
        (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSet
    assert(streamed == batch)
    assert(streamed.size == 6) // 3 hours x 2 types all finalized
  }

  test("hopping windows: each event finalizes into its 4 overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = KinesisLikePipeline.hoppingCounts(in.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("hop_out")
      .option("checkpointLocation", ckpt())
      .start()
    in.addData(
      (Timestamp.valueOf("2026-01-01 00:10:00"), "click", 2.0),
      (Timestamp.valueOf("2026-01-01 00:20:00"), "click", 3.0)
    )
    q.processAllAvailable()
    in.addData((Timestamp.valueOf("2026-01-01 03:00:00"), "click", 9.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("hop_out").collect().filter { r =>
      r.getAs[java.sql.Timestamp]("window_start").before(Timestamp.valueOf("2026-01-01 01:00:00"))
    }
    q.stop()
    // 00:10 → windows 23:15/23:30/23:45/00:00; 00:20 adds 00:15; the
    // three shared windows carry both events
    assert(rows.length == 5, s"got ${rows.toSeq}")
    assert(rows.map(_.getAs[Long]("n_events")).sum == 8L)
    val shared = rows.filter(_.getAs[Long]("n_events") == 2L)
    assert(shared.length == 3 && shared.forall(_.getAs[Double]("sum_value") == 5.0))
  }

  test("session windows: state merges within the gap, finalizes past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[(Timestamp, Long, Double)]
    val agg = KinesisLikePipeline.sessionCounts(in.toDF().toDF("ts", "user_id", "value"))
    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("sess_out")
      .option("checkpointLocation", ckpt())
      .start()
    // two events 10 min apart (one session), then a 90-min gap (a new
    // session) — delivered across separate batches so the first
    // session's state must MERGE with the second batch's extension
    in.addData((Timestamp.valueOf("2026-01-01 00:00:00"), 7L, 2.0))
    q.processAllAvailable()
    in.addData(
      (Timestamp.valueOf("2026-01-01 00:10:00"), 7L, 3.0),
      (Timestamp.valueOf("2026-01-01 01:30:00"), 7L, 5.0)
    )
    q.processAllAvailable()
    in.addData((Timestamp.valueOf("2026-01-01 06:00:00"), 9L, 1.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("sess_out").collect()
      .filter(_.getAs[Long]("user_id") == 7L)
      .sortBy(_.getAs[java.sql.Timestamp]("session_start").getTime)
    q.stop()
    assert(rows.length == 2, s"expected 2 finalized sessions, got ${rows.toSeq}")
    assert(rows(0).getAs[Long]("n_events") == 2 && rows(0).getAs[Double]("sum_value") == 5.0)
    assert(rows(0).getAs[java.sql.Timestamp]("session_end") ==
      Timestamp.valueOf("2026-01-01 00:40:00"), "session end must be last event + gap")
    assert(rows(1).getAs[Long]("n_events") == 1 && rows(1).getAs[Double]("sum_value") == 5.0)
  }

  test("capped sessions: cap splits keep the gap anchor, timeout finalizes, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[(Timestamp, Long, Double)]
    val out = KinesisLikePipeline.cappedSessionCounts(in.toDF().toDF("ts", "user_id", "value"))
    val q = out.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("capsess_out")
      .option("checkpointLocation", ckpt())
      .start()
    // user 7: events every 25 min (always inside the 30-min gap) from
    // 00:00 to 02:30 — ONE gap session spanning 2.5h, which the 2-hour
    // cap must split at the 02:00 boundary measured from the 00:00
    // anchor. Delivered across two batches so the anchor carries.
    def ev(hhmm: String, v: Double) = (Timestamp.valueOf(s"2026-01-01 $hhmm:00"), 7L, v)
    in.addData(ev("00:00", 1.0), ev("00:25", 2.0), ev("00:50", 3.0))
    q.processAllAvailable()
    in.addData(ev("01:15", 4.0), ev("01:40", 5.0), ev("02:05", 6.0), ev("02:30", 7.0))
    q.processAllAvailable()
    // advance the watermark far past 02:30 + gap so the open
    // sub-session times out and finalizes
    in.addData((Timestamp.valueOf("2026-01-01 09:00:00"), 9L, 1.0))
    q.processAllAvailable()
    in.addData((Timestamp.valueOf("2026-01-01 12:00:00"), 9L, 1.0))
    q.processAllAvailable()
    val rows = spark.table("capsess_out").collect()
      .filter(_.getAs[Long]("user_id") == 7L)
      .sortBy(_.getAs[java.sql.Timestamp]("session_start").getTime)
    q.stop()
    assert(rows.length == 2, s"expected a cap split into 2 sessions, got ${rows.toSeq}")
    assert(rows(0).getAs[java.sql.Timestamp]("session_start") == Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(rows(0).getAs[java.sql.Timestamp]("session_end") == Timestamp.valueOf("2026-01-01 01:40:00"))
    assert(rows(0).getAs[Long]("n_events") == 5 && rows(0).getAs[Double]("sum_value") == 15.0)
    // the second sub-session starts at its first event (02:05), not at
    // the cap boundary — and exists only because the anchor survived
    // the split (a fresh gap session would still be one session)
    assert(rows(1).getAs[java.sql.Timestamp]("session_start") == Timestamp.valueOf("2026-01-01 02:05:00"))
    assert(rows(1).getAs[java.sql.Timestamp]("session_end") == Timestamp.valueOf("2026-01-01 02:30:00"))
    assert(rows(1).getAs[Long]("n_events") == 2 && rows(1).getAs[Double]("sum_value") == 13.0)
  }

  test("capped sessions TWS twin: same finalized sessions via event-time timers (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkEntry.withRocksDb(spark) {
      val in  = MemoryStream[(Timestamp, Long, Double)]
      val out = KinesisLikePipeline.cappedSessionCountsTws(in.toDF().toDF("ts", "user_id", "value"))
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName("capsess_tws_out")
        .option("checkpointLocation", ckpt())
        .start()
      def ev(hhmm: String, v: Double) = (Timestamp.valueOf(s"2026-01-01 $hhmm:00"), 7L, v)
      // same fixture as the fMGWS spec: the two backends must finalize
      // identical sessions — including via a STALE timer (the batch-1
      // timer at 01:20 fires while batch-2 events extended the session;
      // the guard must ignore it)
      in.addData(ev("00:00", 1.0), ev("00:25", 2.0), ev("00:50", 3.0))
      q.processAllAvailable()
      in.addData(ev("01:15", 4.0), ev("01:40", 5.0), ev("02:05", 6.0), ev("02:30", 7.0))
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2026-01-01 09:00:00"), 9L, 1.0))
      q.processAllAvailable()
      in.addData((Timestamp.valueOf("2026-01-01 12:00:00"), 9L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("capsess_tws_out").collect()
        .filter(_.getAs[Long]("user_id") == 7L)
        .sortBy(_.getAs[java.sql.Timestamp]("session_start").getTime)
      q.stop()
      assert(rows.length == 2, s"expected the same cap split as fMGWS, got ${rows.toSeq}")
      assert(rows(0).getAs[java.sql.Timestamp]("session_end") == Timestamp.valueOf("2026-01-01 01:40:00"))
      assert(rows(0).getAs[Long]("n_events") == 5 && rows(0).getAs[Double]("sum_value") == 15.0)
      assert(rows(1).getAs[java.sql.Timestamp]("session_start") == Timestamp.valueOf("2026-01-01 02:05:00"))
      assert(rows(1).getAs[Long]("n_events") == 2 && rows(1).getAs[Double]("sum_value") == 13.0)
    }
  }

  test("heavy-hitter monitor: MapState counts accumulate across batches (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkEntry.withRocksDb(spark) {
      val in  = MemoryStream[(String, Long)]
      val out = KinesisLikePipeline.heavyHitterMonitor(in.toDF().toDF("event_type", "user_id"))
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName("hh_out")
        .option("checkpointLocation", ckpt())
        .start()
      // batch 1: user 1 has 3 of 6 click events over 4 users —
      // 3·4·10 = 120 > 6·13 = 78, so user 1 is heavy
      in.addData(("click", 1L), ("click", 1L), ("click", 1L),
        ("click", 2L), ("click", 3L), ("click", 4L))
      q.processAllAvailable()
      // batch 2: users 2-4 catch up; user 1 drops below the lift —
      // the verdict must flip, which only happens if batch-1 counts
      // persisted in MapState
      in.addData(("click", 2L), ("click", 2L), ("click", 3L), ("click", 3L),
        ("click", 4L), ("click", 4L))
      q.processAllAvailable()
      val rows = spark.table("hh_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      q.stop()
      val epoch1 = rows.filter(_._2 == 1L)
      val epoch2 = rows.filter(_._2 == 2L)
      assert(epoch1.toSet == Set(("click", 1L, 1L, 3L)),
        s"epoch 1 must flag only user 1: ${epoch1.toSeq}")
      // final counts: u1=3, u2=3, u3=3, u4=3 over total 12, 4 users —
      // 3·4·10 = 120 vs 12·13 = 156: nobody is heavy once uniform
      assert(epoch2.isEmpty, s"epoch 2 must flag nobody (uniform): ${epoch2.toSeq}")
    }
  }

  test("feature buffer: ListState appends across batches, trims to last-k (RocksDB)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkEntry.withRocksDb(spark) {
      val in  = MemoryStream[(Long, Long, Long, Long)]
      val out = KinesisLikePipeline.recentFeatureBuffer(
        in.toDF().toDF("user_id", "ts_us", "event_id", "cents"))
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName("feat_out")
        .option("checkpointLocation", ckpt())
        .start()
      // batch 1: user 1 gets two values out of time order (30 before
      // 10) plus a same-microsecond tie broken by event_id (11 vs 12)
      in.addData((1L, 30L, 12L, 300L), (1L, 10L, 11L, 100L), (2L, 5L, 13L, 50L))
      q.processAllAvailable()
      // batch 2: two more for user 1 — the 4-value history must trim
      // to the last 3, which only works if batch-1 state persisted
      in.addData((1L, 40L, 14L, 400L), (1L, 50L, 15L, 500L))
      q.processAllAvailable()
      val rows = spark.table("feat_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3)))
      q.stop()
      // epoch 1: batch rows were time-sorted before appending
      assert(rows.contains((1L, 1L, 2L, Seq(300L, 100L))), s"epoch1 u1: ${rows.toSeq}")
      assert(rows.contains((2L, 1L, 1L, Seq(50L))))
      // epoch 2: n_seen counts ALL 4 events, buffer holds only the last 3
      assert(rows.contains((1L, 2L, 4L, Seq(500L, 400L, 300L))), s"epoch2 u1: ${rows.toSeq}")
      // user 2 idle in batch 2: no new snapshot
      assert(rows.count(_._1 == 2L) == 1)
    }
  }

  test("streaming admission: stream-static probe of the base index, stateless across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 5L duplicates 1L's normalized text: the index must pre-aggregate
    // to one row per hash (min doc_id) or each probe fans out
    val base = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"), (5L, "alpha beta gamma"))
      .toDF("doc_id", "text")
      .select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.trim(
              org.apache.spark.sql.functions.col("text")), "\\s+", " ")).as("text_hash"))
    val in = MemoryStream[(Long, String)]
    val out = KinesisLikePipeline.streamingAdmission(in.toDF().toDF("doc_id", "text"), base)
    val q = out.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("admit_out")
      .option("checkpointLocation", ckpt())
      .start()
    in.addData((10L, " alpha  beta gamma "), (11L, "brand new content"))
    q.processAllAvailable()
    in.addData((12L, "delta epsilon zeta"), (13L, "also new material"))
    q.processAllAvailable()
    val raw = spark.table("admit_out").collect()
    val rows = raw
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("base_doc")).map(_.toLong)))
      .toMap
    q.stop()
    assert(raw.length == 4, s"one verdict per stream doc (no base-dup fan-out), got ${raw.toSeq}")
    assert(rows == Map(
      10L -> ("duplicate", Some(1L)), // whitespace-normalized match
      11L -> ("admit", None),
      12L -> ("duplicate", Some(2L)), // second batch probes the same static index
      13L -> ("admit", None)
    ), s"got $rows")
  }

  test("rolling actives: sliding distinct counts each user once per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val agg = KinesisLikePipeline.rollingActiveCounts(
      in.toDF().toDF("ts", "user_id"),
      window = "2 days", slide = "1 day", watermark = "1 day")
    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("wau_out")
      .option("checkpointLocation", ckpt())
      .start()
    // user 7 active twice on day 1 and once on day 2 — each window
    // containing them must count them ONCE; user 9 only on day 2
    in.addData(
      (Timestamp.valueOf("2026-01-01 01:00:00"), 7L),
      (Timestamp.valueOf("2026-01-01 09:00:00"), 7L),
      (Timestamp.valueOf("2026-01-02 01:00:00"), 7L),
      (Timestamp.valueOf("2026-01-02 02:00:00"), 9L)
    )
    q.processAllAvailable()
    in.addData((Timestamp.valueOf("2026-01-10 00:00:00"), 1L)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("wau_out").collect()
      .map(r => r.getAs[java.sql.Timestamp]("window_start").toString.take(10) ->
        r.getAs[Long]("active_users")).toMap
    q.stop()
    // 2-day windows sliding daily: [12-31,01-02)={7}, [01-01,01-03)={7,9}, [01-02,01-04)={7,9}
    assert(rows.get("2025-12-31") == Some(1L), s"got $rows")
    assert(rows.get("2026-01-01") == Some(2L), s"got $rows")
    assert(rows.get("2026-01-02") == Some(2L), s"got $rows")
  }

  test("online corpus refresh: foreachBatch merges each batch's admits into the base index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the production loop the static-index admission spec can't show:
    // every micro-batch probes the CURRENT index, and its admitted
    // docs become part of the index the NEXT batch probes — the
    // self-referential online refresh (stream → verdicts → index
    // append), state held in the store rather than join state
    val idxDir = Files.createTempDirectory("graft-idx").toString
    Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.Dedup.normTextHashCol.as("text_hash"))
      .write.mode("overwrite").parquet(idxDir)
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Option[Long])]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val base = batch.sparkSession.read.parquet(idxDir)
        val out  = KinesisLikePipeline.streamingAdmission(batch, base)
        val rows = out.collect()
        verdicts ++= rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("verdict"),
          Option(r.getAs[java.lang.Long]("base_doc")).map(_.toLong)))
        out.filter(col("verdict") === "admit")
          .select(col("doc_id"), col("text_hash"))
          .write.mode("append").parquet(idxDir)
        ()
      }
      .start()
    in.addData((10L, "alpha beta gamma"), (11L, "brand new content"))
    q.processAllAvailable()
    in.addData((12L, "brand new content"), (13L, "other material"))
    q.processAllAvailable()
    q.stop()
    val byDoc = verdicts.map(v => v._1 -> (v._2, v._3)).toMap
    assert(byDoc(10L) == ("duplicate", Some(1L)), s"got $verdicts")
    assert(byDoc(11L) == ("admit", None))
    // 12 duplicates 11 ONLY if batch 1's admit reached the index
    assert(byDoc(12L) == ("duplicate", Some(11L)), s"index merge lost batch-1 admits: $verdicts")
    assert(byDoc(13L) == ("admit", None))
  }

  test("stream-stream interval join correlates events within the time skew only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val views  = MemoryStream[(Timestamp, Long)]
    val joined = KinesisLikePipeline.intervalJoin(
      clicks.toDF().toDF("click_ts", "click_user"),
      views.toDF().toDF("view_ts", "view_user"),
      "click_user",
      "view_user",
      "click_ts",
      "view_ts",
      skew = "5 minutes"
    )
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("join_out")
      .option("checkpointLocation", ckpt())
      .start()
    val ts = (m: Int) => Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    clicks.addData((ts(10), 1L), (ts(10), 2L))
    views.addData((ts(12), 1L), (ts(30), 1L), (ts(12), 3L))
    q.processAllAvailable()
    val rows = spark.table("join_out").collect()
    q.stop()
    // only user 1's view 2 minutes after the click joins; the +20min
    // view and user 3's view do not
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("click_user") == 1L)
  }

  test("left-outer interval join emits unmatched rows null-padded only past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val views  = MemoryStream[(Timestamp, Long)]
    val joined = KinesisLikePipeline.intervalJoinLeft(
      clicks.toDF().toDF("click_ts", "click_user"),
      views.toDF().toDF("view_ts", "view_user"),
      "click_user",
      "view_user",
      "click_ts",
      "view_ts",
      skew = "5 minutes",
      watermark = "10 minutes"
    )
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("ljoin_out")
      .option("checkpointLocation", ckpt())
      .start()
    val ts = (m: Int) => Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    clicks.addData((ts(10), 1L), (ts(10), 2L))
    views.addData((ts(12), 1L))
    q.processAllAvailable()
    // user 1 matched and emits immediately; user 2 is unmatched but its
    // join horizon (10:00 + 5m skew + 10m watermark) hasn't passed —
    // it must NOT have emitted yet
    val early = spark.table("ljoin_out").collect()
    assert(early.length == 1 && early.head.getAs[Long]("click_user") == 1L)
    // advance both watermarks far past the horizon → state eviction
    // emits the null-padded unmatched click
    clicks.addData((ts(50), 9L))
    views.addData((ts(50), 9L))
    q.processAllAvailable()
    val rows = spark.table("ljoin_out").collect()
    q.stop()
    val unmatched = rows.filter(r => r.getAs[Long]("click_user") == 2L)
    assert(unmatched.length == 1, s"unmatched row missing: ${rows.mkString(",")}")
    assert(unmatched.head.isNullAt(unmatched.head.fieldIndex("view_user")),
      "unmatched click must null-pad the view side")
  }

  test("full-outer interval join null-pads unmatched rows from BOTH sides past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val views  = MemoryStream[(Timestamp, Long)]
    val joined = KinesisLikePipeline.intervalJoinFull(
      clicks.toDF().toDF("click_ts", "click_user"),
      views.toDF().toDF("view_ts", "view_user"),
      "click_user",
      "view_user",
      "click_ts",
      "view_ts",
      skew = "5 minutes",
      watermark = "10 minutes"
    )
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("fjoin_out")
      .option("checkpointLocation", ckpt())
      .start()
    val ts = (m: Int) => Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    // user 1 matches; click-only user 2 and view-only user 3 do not
    clicks.addData((ts(10), 1L), (ts(10), 2L))
    views.addData((ts(12), 1L), (ts(12), 3L))
    q.processAllAvailable()
    val early = spark.table("fjoin_out").collect()
    assert(early.length == 1 && early.head.getAs[Long]("click_user") == 1L,
      s"only the match may emit before the horizon: ${early.mkString(",")}")
    clicks.addData((ts(50), 9L))
    views.addData((ts(50), 9L))
    q.processAllAvailable()
    val rows = spark.table("fjoin_out").collect()
    q.stop()
    val clickOnly = rows.filter(r => !r.isNullAt(r.fieldIndex("click_user"))
      && r.getAs[Long]("click_user") == 2L)
    assert(clickOnly.length == 1 && clickOnly.head.isNullAt(clickOnly.head.fieldIndex("view_user")),
      s"click-only row must null-pad the view side: ${rows.mkString(",")}")
    val viewOnly = rows.filter(r => !r.isNullAt(r.fieldIndex("view_user"))
      && r.getAs[Long]("view_user") == 3L)
    assert(viewOnly.length == 1 && viewOnly.head.isNullAt(viewOnly.head.fieldIndex("click_user")),
      s"view-only row must null-pad the click side: ${rows.mkString(",")}")
  }

  test("watermarked stream dedup drops replayed content keys across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = KinesisLikePipeline
      .dedupByKey(in.toDF().toDF("ts", "result_key"), "result_key", "ts", "10 minutes")
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("dedup_out")
      .option("checkpointLocation", ckpt())
      .start()
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00")
    in.addData((t0, "k1"), (t0, "k2"))
    q.processAllAvailable()
    in.addData((Timestamp.valueOf("2026-01-01 00:01:00"), "k1")) // replay within watermark
    q.processAllAvailable()
    val rows = spark.table("dedup_out").collect()
    q.stop()
    assert(rows.map(_.getAs[String]("result_key")).sorted.toSeq == Seq("k1", "k2"))
  }

  test("page sequencer fans out pages with first/last notes and cross-trigger sequence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TopicMsg]
    val out = KinesisLikePipeline.pageSequencer(spark, in.toDS())
    val q = out.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName("pages_out")
      .option("checkpointLocation", ckpt())
      .start()
    in.addData(TopicMsg(1, "m1", 25, 10)) // 25/10+1 = 3 pages
    q.processAllAvailable()
    in.addData(TopicMsg(1, "m2", 5, 10), TopicMsg(2, "m3", 0, 10))
    q.processAllAvailable()
    val rows = spark.table("pages_out").as[KinesisLikePipeline.PageMsg].collect()
    q.stop()
    val t1m1 = rows.filter(r => r.topic_id == 1 && r.message == "m1").sortBy(_.page_num)
    assert(t1m1.map(_.page_num).toSeq == Seq(1L, 2L, 3L))
    assert(t1m1.head.note == "Count: 1st page sent")
    assert(t1m1.last.note == "Count: Last Page Sent: 3")
    // second trigger continues topic 1's global sequence at 4
    val t1m2 = rows.filter(r => r.topic_id == 1 && r.message == "m2")
    assert(t1m2.map(_.global_seq).toSeq == Seq(4L))
    assert(t1m2.head.note == "Count: 1st page sent") // single page ⇒ first note wins? no: 1st emitted first
    val t2 = rows.filter(_.topic_id == 2)
    assert(t2.map(_.global_seq).toSeq == Seq(1L), "topics must not share state")
  }

  test("TWS sequencer TTL evicts idle topic state (numbering restarts)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    SparkEntry.withRocksDb(spark) { try {
      val in = MemoryStream[TopicMsg]
      val out =
        KinesisLikePipeline.pageSequencerTws(spark, in.toDS(), Some(java.time.Duration.ofSeconds(2)))
      q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName("pages_ttl")
        .option("checkpointLocation", ckpt())
        .start()
      // ProcessingTime-mode TWS schedules batches to advance its clock
      // even with no data, so processAllAvailable never quiesces — poll
      // the sink for the expected row count instead
      def awaitRows(n: Long): Unit = {
        val deadline = System.nanoTime + 90L * 1000000000L
        while (spark.table("pages_ttl").count() < n && System.nanoTime < deadline)
          Thread.sleep(200)
        assert(spark.table("pages_ttl").count() >= n, s"timed out waiting for $n rows")
      }
      in.addData(TopicMsg(5, "m1", 5, 10)) // 1 page → counter at 1
      awaitRows(1)
      Thread.sleep(3000)                   // let the 2s TTL lapse
      in.addData(TopicMsg(5, "m2", 5, 10)) // idle topic: state evicted
      awaitRows(2)
      val rows = spark.table("pages_ttl").as[KinesisLikePipeline.PageMsg].collect()
      val seqs = rows.sortBy(_.message).map(_.global_seq).toSeq
      // counter restarted: both messages numbered from 1, not 1 then 2
      assert(seqs == Seq(1L, 1L), s"expected eviction restart, got $seqs")
    } finally {
      // stop in finally: a timed-out await must not leak a running
      // query (and its sink name) into the rest of the suite
      if (q != null) q.stop()
    } }
  }

  test("transformWithState sequencer matches the fMGWS twin across triggers (RocksDB state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    SparkEntry.withRocksDb(spark) {
      val in  = MemoryStream[TopicMsg]
      val out = KinesisLikePipeline.pageSequencerTws(spark, in.toDS())
      val q = out.writeStream
        .outputMode(OutputMode.Append)
        .format("memory")
        .queryName("pages_tws")
        .option("checkpointLocation", ckpt())
        .start()
      in.addData(TopicMsg(1, "m1", 25, 10))
      q.processAllAvailable()
      in.addData(TopicMsg(1, "m2", 5, 10), TopicMsg(2, "m3", 0, 10))
      q.processAllAvailable()
      val rows = spark.table("pages_tws").as[KinesisLikePipeline.PageMsg].collect()
      q.stop()
      // identical output to the flatMapGroupsWithState variant,
      // including the cross-trigger continuation of topic 1's sequence
      val t1m1 = rows.filter(r => r.topic_id == 1 && r.message == "m1").sortBy(_.page_num)
      assert(t1m1.map(_.page_num).toSeq == Seq(1L, 2L, 3L))
      assert(t1m1.head.note == "Count: 1st page sent")
      assert(t1m1.last.note == "Count: Last Page Sent: 3")
      assert(rows.filter(r => r.topic_id == 1 && r.message == "m2").map(_.global_seq).toSeq == Seq(4L))
      assert(rows.filter(_.topic_id == 2).map(_.global_seq).toSeq == Seq(1L))
    }
  }

  test("file replay recovers from a mid-stream stop: checkpoint restart is exactly-once") {
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val tmp   = Files.createTempDirectory("graft-restart")
    val inDir = Files.createDirectories(tmp.resolve("in"))
    // 4 time-ordered slices of 300 rows + a far-future flush sentinel,
    // mtimes pin FileStreamSource admission order (one per micro-batch)
    val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val rows = (0 until 1200).map { i =>
      (i.toLong, new Timestamp(base + i * 30000L), (i % 7).toLong,
        if (i % 2 == 0) "click" else "view", 0.01 * i + 0.1, "{}")
    }
    def writeSlice(i: Int, df: org.apache.spark.sql.DataFrame): Unit =
      graft.streaming.StreamReplay.writeSlice(inDir, i, df)
    rows.grouped(300).zipWithIndex.foreach { case (b, i) =>
      writeSlice(i, b.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    }
    writeSlice(4, Seq((-1L, Timestamp.valueOf("2026-03-01 00:00:00"), -1L, "_flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    writeSlice(5, Seq((-2L, Timestamp.valueOf("2026-04-01 00:00:00"), -1L, "_flush", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))

    val out = tmp.resolve("out").toString
    val ck  = tmp.resolve("ck").toString
    def startQuery() = KinesisLikePipeline
      .windowedCounts(
        spark.readStream.schema(graft.streaming.StreamReplay.eventsDdl)
          .option("maxFilesPerTrigger", "1").parquet(inDir.toString),
        "1 hour", "1 minute")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()

    // run 1: stop as soon as at least one batch committed — whatever
    // batch is in flight dies with the query
    val q1 = startQuery()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (Option(q1.lastProgress).forall(_.batchId < 1) && q1.isActive &&
      System.nanoTime() < deadline) Thread.sleep(50)
    q1.stop()
    // run 2: same checkpoint + sink, drain the rest
    val q2 = startQuery()
    q2.awaitTermination()

    // the metadata-aware read ignores any uncommitted orphan files, so
    // a replayed batch cannot surface twice: the recovered sink must
    // equal the one-shot batch aggregation exactly
    val streamed = spark.read.parquet(out)
      .filter(col("event_type") =!= "_flush")
      .collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSet
    val batch = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Num.moneySum(col("value")).as("sum_value"))
      .collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSet
    assert(streamed == batch, s"recovered sink ${streamed.size} windows vs batch ${batch.size}")
  }

  test("streaming binaryFile ingest drains in bounded micro-batches and equals the batch ingest") {
    import graft.streaming.StreamReplay
    val streamed = StreamReplay.replayBinaryIngest(spark, sfDir, batches = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes"), r.getAs[String]("sha256")))
      .toSet
    // maxFilesPerTrigger = ceil(n/4) must yield ~4 real micro-batches,
    // not one bulk admission
    assert(StreamReplay.lastBatchCount >= 4,
      s"expected >=4 micro-batches, got ${StreamReplay.lastBatchCount}")
    val batch = graft.operators.Multimodal.binaryIngest(tables)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes"), r.getAs[String]("sha256")))
      .toSet
    assert(streamed == batch, "streamed binary metadata diverged from the batch ingest")
  }

  test("archive ingest (batch + streaming tail) equals the per-file binary ingest blob for blob") {
    import graft.streaming.StreamReplay
    // C12c's claim: the SAME blobs at archive granularity yield the
    // SAME typed metadata as the one-.bin-per-doc landing — the
    // documented fix for per-file admission must change the cost
    // model, not the content
    def meta(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes"), r.getAs[String]("sha256")))
      .toSet
    val perFile  = meta(graft.operators.Multimodal.binaryIngest(tables))
    val archived = meta(graft.operators.Multimodal.archiveIngest(tables))
    assert(archived == perFile, "archive metadata diverged from the per-file ingest")
    val tailed = meta(StreamReplay.replayArchiveIngest(spark, sfDir))
    // one archive per micro-batch: sf0.001's 500 docs land as 4
    // single-archive epochs (ceil(125/256) = 1 archive each)
    assert(StreamReplay.lastBatchCount >= 4,
      s"expected >=4 micro-batches, got ${StreamReplay.lastBatchCount}")
    assert(tailed == perFile, "tailed archive metadata diverged from the per-file ingest")
  }

  test("file replay drains the corpus through real micro-batches and equals the batch twin") {
    import graft.streaming.StreamReplay
    val slices = 3
    val streamed = StreamReplay
      .replayEvents(spark, sfDir, slices = slices)(df =>
        KinesisLikePipeline.windowedCounts(df, "1 hour", "1 minute"))
      .filter(col("event_type") =!= StreamReplay.FlushType)
      .collect()
      .map(r =>
        (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSet
    // one micro-batch per slice file + 2 sentinel batches — the replay
    // must exercise cross-batch state merges, not a single-batch drain
    assert(StreamReplay.lastBatchCount >= slices + 2,
      s"expected >=${slices + 2} micro-batches, got ${StreamReplay.lastBatchCount}")
    val batch = graft.operators.EventOps
      .hourlyWindow(tables)
      .collect()
      .map(r =>
        (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSet
    assert(streamed == batch, s"streamed ${streamed.size} windows vs batch ${batch.size}")
  }

  // the gate's quarterHourDrain rollup (SparkEntry): with direct
  // streaming == batch twin proven above, rollup == batch twin here
  // gives rollup == direct streaming transitively — and with a
  // different slice count than the gate, so slice-independence of the
  // derivation is asserted too
  test("hourly and hopping roll up EXACTLY from one drained 15-minute aggregate") {
    import graft.streaming.StreamReplay
    val buckets = StreamReplay
      .replayEvents(spark, sfDir, slices = 3)(df =>
        KinesisLikePipeline.windowedCounts(df, "15 minutes", "1 minute"))
      .filter(col("event_type") =!= StreamReplay.FlushType)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      .toSet
    val hourly = buckets
      .groupBy(date_trunc("hour", col("window_start")).as("window_start"), col("event_type"))
      .agg(sum("n_events").as("n_events"),
        graft.operators.Num.moneySum(col("sum_value")).as("sum_value"))
    assert(key(hourly) == key(graft.operators.EventOps.hourlyWindow(tables)))
    val hopping = buckets
      .select(col("window_start").as("bucket"), col("event_type"),
        col("n_events"), col("sum_value"), expr("explode(sequence(0, 3))").as("k"))
      .groupBy(expr("timestampadd(MINUTE, -15 * k, bucket)").as("window_start"), col("event_type"))
      .agg(sum("n_events").as("n_events"),
        graft.operators.Num.moneySum(col("sum_value")).as("sum_value"))
    assert(key(hopping) == key(graft.operators.EventOps.hoppingWindow(tables)))
  }

  test("foreachBatch drain: crash mid-batch, resume with same dirs, no duplicated partials") {
    import graft.streaming.{StreamReplay => SR}
    val inDir = SR.documentsModSlices(spark, sfDir, 4)
    val run   = java.nio.file.Files.createTempDirectory("drain_restart")
    try {
      val out  = run.resolve("out").toString
      val ckpt = run.resolve("ckpt")
      def partial(batch: org.apache.spark.sql.DataFrame, epoch: Long) =
        graft.operators.Curation.driftPartial(batch, epoch)
      // first attempt dies INSIDE batch 2's sink write, after batches
      // 0-1 committed (and after batch 2 may have partially written)
      val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        SR.drainForeachBatchAt(spark, inDir, SR.documentsDdl, out, ckpt) { (b, id) =>
          val p = partial(b, id)
          if (id == 2L && boom.getAndSet(false)) {
            p.write.mode("overwrite").parquet(s"$out/b$id") // partial sink output lands
            throw new RuntimeException("injected crash after sink write, before commit")
          }
          p
        }
      }
      assert(failed.getMessage.contains("injected crash") ||
        Option(failed.getCause).exists(_.getMessage.contains("injected crash")))
      // resume against the SAME dirs: committed batches 0-1 must not
      // re-run; batch 2's replay must overwrite, not append
      val resumed = SR.drainForeachBatchAt(spark, inDir, SR.documentsDdl, out, ckpt)(partial)
        .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1))).sorted.toSeq
      val clean = SR.replayDocumentsBatches(spark, sfDir)(partial)
        .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(resumed == clean,
        s"crash-resume drain diverged from a clean drain:\nresumed=$resumed\nclean  =$clean")
    } finally {
      // outside StreamReplay's shutdown-cleaned root — delete here or
      // every suite run leaves a /tmp/drain_restart* tree behind
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(run)
      try files.iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally files.close()
    }
  }

  test("streaming drift trajectory: final epoch equals the batch versionDrift; ppm monotone-safe") {
    val partials = graft.streaming.StreamReplay.replayDocumentsBatches(spark, sfDir)((batch, epoch) =>
      graft.operators.Curation.driftPartial(batch, epoch))
    val traj = graft.operators.Curation.driftTrajectory(tables, partials).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(traj.nonEmpty)
    val lastEpoch = traj.map(_._1).max
    assert(lastEpoch == 3L, s"expected 4 replay epochs, last was $lastEpoch")
    // once every V2 doc has arrived, the trajectory's final epoch IS
    // the batch operator's answer (modulo the epoch column)
    val finalRows = traj.filter(_._1 == lastEpoch)
      .map(t => (t._2, t._3, t._4, t._5, t._6, t._7)).toSet
    val batchRows = graft.operators.Curation.versionDrift(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSet
    assert(finalRows == batchRows,
      s"missing=${batchRows -- finalRows} extra=${finalRows -- batchRows}")
    // every epoch's stat stays in [0, 1e6] and cumulative masses never shrink
    assert(traj.forall(t => t._7 >= 0L && t._7 <= 1000000L))
    traj.groupBy(_._2).foreach { case (bucket, rows) =>
      val byEpoch = rows.sortBy(_._1).map(_._4)
      assert(byEpoch.zip(byEpoch.drop(1)).forall { case (a, b) => a <= b },
        s"bucket $bucket cumulative v2 mass shrank across epochs")
    }
  }
}
