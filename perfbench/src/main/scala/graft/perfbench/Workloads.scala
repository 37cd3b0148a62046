package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import graft.operators.{MathOps, Paging}
import graft.sources.Tables
import graft.streaming.KinesisLikePipeline
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What every workload sees: the session, the fixed corpus, the seed
  * and the reference fingerprints.
  */
final case class Ctx(spark: SparkSession, dataDir: String, seed: Long, refs: Refs)

/** A metric as (name, value, unit). */
object Metric {
  type M = (String, Double, String)
}
import Metric.M

trait Workload {

  /** Sample kinds pooled into op_ms_p50 and op_ms_tail. */
  def opKinds: Set[String]

  /** Prepares the workload's inputs; run several times, the last one is used. */
  def setup(): Unit

  /** One pass of the closed loop. */
  def cycle(rec: Recorder): Unit

  /** A cycle's wall time on a 4-core host, its output checks
    * included; `--seconds` divided by it is the number of cycles a run
    * measures.
    */
  def nominalCycleS: Double

  /** Untimed but checked work that warms the cycle's code paths. The
    * first cycles of a run are the slowest while the JIT compiles
    * graft's and Spark's driver paths, so two are left untimed.
    */
  def warmup(rec: Recorder): Unit = { cycle(rec); cycle(rec) }

  /** The workload's own end-to-end metrics, named as in its documentation. */
  def detail(rec: Recorder): Seq[M]

  /** The workload's own per-layer metrics over traced cycles. */
  def layerDetail(rec: Recorder, layers: Layers): Seq[M]
}

object Workload {
  val Names = Seq("kinesis_stream", "topic_fanout")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kinesis_stream" => new KinesisStream(ctx)
    case "topic_fanout"   => new TopicFanout(ctx)
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Executes a query the way the gate does, planning first as its own
    * span when tracing, and returns its output fingerprint.
    */
  def execute(rec: Recorder, df: DataFrame): (Long, Long) = {
    rec.child("spark.planning")(df.queryExecution.executedPlan)
    rec.child("spark.execute")(Fingerprint.of(df))
  }

  def tracedMedians(rec: Recorder, kinds: Set[String]): Seq[M] =
    rec.samples
      .filter(s => s.traced && s.failure.isEmpty && kinds(s.kind))
      .groupBy(_.name)
      .toSeq
      .sortBy(_._1)
      .map { case (name, ss) => (s"${name}_ms", Stats.median(ss.map(_.ms).toSeq), "ms") }

  def msTail(prefix: String, ss: Seq[Sample]): Seq[M] =
    if (ss.isEmpty) Nil
    else {
      val ms = ss.map(_.ms)
      Seq((s"${prefix}_p50", Stats.median(ms), "ms"), (s"${prefix}_p90", Stats.supportedTail(ms)._2, "ms"))
    }

  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** `kinesis_stream`: the paper's headline path. ProblemSource
  * micro-batches → envelope decode → add → content-addressed sink,
  * drained back to back under AvailableNow. The input is a pure
  * function of the generator (`seq`), so the seed does not change it.
  */
final class KinesisStream(ctx: Ctx) extends Workload {
  import KinesisStream._
  private val spark = ctx.spark
  val opKinds       = Set("batch")

  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit       = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
  })

  private val batches   = ArrayBuffer.empty[Batch]
  private val sinkFiles = ArrayBuffer.empty[(Int, Long)]
  private val tmpRoot   = Paths.get(System.getProperty("java.io.tmpdir"))

  // problemStreamToStore leaves its store in a fresh temp dir and
  // never removes it
  private def storeDirs(): Set[Path] = {
    val s = Files.list(tmpRoot)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-stream-store")).toSet
    finally s.close()
  }

  private def drain(rows: Long): DataFrame =
    KinesisLikePipeline.problemStreamToStore(spark, rows, RowsPerBatch)

  /** Starting a query is the stream's set-up: one single-batch drain. */
  def setup(): Unit = {
    val before = storeDirs()
    drain(RowsPerBatch)
    (storeDirs() -- before).foreach(Workload.deleteTree)
  }

  // a drain with its check takes about 3.6 s; rounded up so that a
  // run measures seven drains and 22 runs of each workload fit the
  // time budget
  val nominalCycleS = 4.3

  def cycle(rec: Recorder): Unit = {
    val before = storeDirs()
    events.clear()
    val out = rec.op("drain", "streaming.KinesisLikePipeline.problemStreamToStore")(drain(NumRows)) { df =>
      BusDrain(spark.sparkContext)
      check(df, NumRows)
    }
    val created = storeDirs() -- before
    if (out.isDefined) {
      val done = events.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      done.foreach { p =>
        val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start  = Instant.parse(p.timestamp).toEpochMilli
        val ms     = phases.getOrElse("triggerExecution", 0L)
        rec.derived(
          Sample("batch", "streaming.micro_batch", 0, false, start, start + ms, ms.toDouble, None, 0L, 0.0)
        )
        batches += Batch(rec.tracing, start, phases)
      }
      if (rec.tracing) created.foreach { d =>
        val store = d.resolve("store")
        if (Files.exists(store)) {
          val s = Files.list(store)
          try s.iterator().asScala.filter(_.getFileName.toString.startsWith("b")).foreach { b =>
            val w = Files.walk(b)
            try {
              val parts = w.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
              sinkFiles += ((parts.size, parts.map(Files.size).sum))
            } finally w.close()
          }
          finally s.close()
        }
      }
    }
    created.foreach(Workload.deleteTree)
  }

  /** The store must hold exactly the generator's rows: seq 0..n-1 once
    * each, with its operands, answer string and content key. The rows
    * are few, so they are collected and checked in the driver.
    */
  private def check(df: DataFrame, rows: Long): Option[String] = {
    val got   = df.select("seq", "num1", "num2", "answer", "result_key").collect()
    val seqs  = got.map(_.getLong(0))
    val wrong = got.count { r =>
      val seq = r.getLong(0)
      val (n1, n2) = (seq % 100, (7 * seq + 3) % 100)
      r.isNullAt(1) || r.getLong(1) != n1 || r.isNullAt(2) || r.getLong(2) != n2 ||
        r.getString(3) != s"$n1 + $n2 = ${n1 + n2}" || r.getString(4) != "add-" + md5Hex(s"add-$seq")
    }
    if (got.length == rows && seqs.distinct.length == rows && seqs.min == 0L && seqs.max == rows - 1 && wrong == 0)
      None
    else
      Some(
        s"store holds ${got.length} rows (${seqs.distinct.length} distinct seq in " +
          s"[${seqs.minOption.getOrElse(-1L)}, ${seqs.maxOption.getOrElse(-1L)}]), $wrong wrong; want $rows"
      )
  }

  def detail(rec: Recorder): Seq[M] = {
    // every checked drain committed exactly NumRows rows
    val drains = rec.ok("drain")
    Seq(("stream_records_per_s", NumRows * drains.size / (drains.map(_.ms).sum / 1000), "1/s")) ++
      Workload.msTail("batch_ms", rec.ok("batch"))
  }

  def layerDetail(rec: Recorder, layers: Layers): Seq[M] = {
    val traced = batches.filter(_.traced).toSeq
    if (traced.isEmpty) Nil
    else {
      def phase(name: String) = Stats.median(traced.map(_.phases.getOrElse(name, 0L).toDouble))
      val listed = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      val unaccounted = Stats.median(traced.map { b =>
        (b.phases.getOrElse("triggerExecution", 0L) - listed.map(b.phases.getOrElse(_, 0L)).sum).toDouble
      })
      val jobsPerBatch = Stats.mean(traced.map { b =>
        val end = b.startMs + b.phases.getOrElse("triggerExecution", 0L)
        layers.synchronized(layers.jobs.count(j => j.start >= b.startMs - 1 && j.start <= end + 1)).toDouble
      })
      Seq(
        ("streaming.latest_offset_ms", phase("latestOffset"), "ms"),
        ("streaming.query_planning_ms", phase("queryPlanning"), "ms"),
        ("streaming.add_batch_ms", phase("addBatch"), "ms"),
        ("streaming.wal_commit_ms", phase("walCommit"), "ms"),
        ("streaming.commit_offsets_ms", phase("commitOffsets"), "ms"),
        ("streaming.unaccounted_ms", unaccounted, "ms"),
        ("streaming.jobs_per_batch", jobsPerBatch, "count"),
        ("streaming.sink_files_per_batch", Stats.mean(sinkFiles.map(_._1.toDouble).toSeq), "count"),
        ("streaming.sink_bytes_per_batch", Stats.mean(sinkFiles.map(_._2.toDouble).toSeq), "bytes")
      )
    }
  }
}

object KinesisStream {
  def md5Hex(s: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x")
      .mkString

  final case class Batch(traced: Boolean, startMs: Long, phases: Map[String, Long])

  // small batches, so per-batch offset, planning and commit work is most
  // of each batch
  val NumRows      = 1000L
  val RowsPerBatch = 200L
}

/** `topic_fanout`: the lambda_count → lambda_page batch plans over the
  * corpus `Tables`, a fixed plan order per pass. The seed picks each
  * pass's topic and pages; pages are drawn from 1 to the topic's page
  * count, which is the number of pages the reference holds for it.
  */
final class TopicFanout(ctx: Ctx) extends Workload {
  import TopicFanout._
  val opKinds       = Set("query")
  val nominalCycleS = 7.5
  private var t: Tables = _
  private var pass = 0

  private lazy val pageCounts: Map[Long, Int] =
    ctx.refs.keys.toSeq.collect { case PageKey(topic, _) => topic.toLong }.groupMapReduce(identity)(_ => 1)(_ + _)

  def setup(): Unit = {
    t = Tables(ctx.spark, ctx.dataDir)
    Seq(t.customer, t.orders, t.events).foreach(_.count())
  }

  /** (public function, fingerprint key, query) in the fixed pass order. */
  def plans(topic: Long, pages: Seq[Int]): Seq[(String, String, () => DataFrame)] =
    Seq[(String, String, () => DataFrame)](
      ("Paging.topicPageCounts", "Paging.topicPageCounts", () => Paging.topicPageCounts(t)),
      ("Paging.settingsOverride", "Paging.settingsOverride", () => Paging.settingsOverride(t))
    ) ++ pages.map(p =>
      ("Paging.pageArns", s"Paging.pageArns/$topic/$p", () => Paging.pageArns(t, topic, p))
    ) ++ Seq[(String, String, () => DataFrame)](
      ("Paging.sqsBatches", s"Paging.sqsBatches/$topic", () => Paging.sqsBatches(t, topic)),
      (
        "Paging.fanoutPayloads",
        s"Paging.fanoutPayloads/$topic",
        () => Paging.fanoutPayloads(t, topic, SparkEntry.TopicMessage)
      ),
      (
        "Paging.firstLastPageNotifications",
        "Paging.firstLastPageNotifications",
        () => Paging.firstLastPageNotifications(t)
      ),
      ("Paging.pagesScalable", "Paging.pagesScalable", () => Paging.pagesScalable(t)),
      ("Paging.topicFanoutCounts", "Paging.topicFanoutCounts", () => Paging.topicFanoutCounts(t)),
      ("MathOps.adder", "MathOps.adder", () => MathOps.adder(t)),
      ("MathOps.multiplier", "MathOps.multiplier", () => MathOps.multiplier(t)),
      ("MathOps.kinesisDecode", "MathOps.kinesisDecode", () => MathOps.kinesisDecode(t)),
      ("MathOps.lambdaEventDecode", "MathOps.lambdaEventDecode", () => MathOps.lambdaEventDecode(t))
    )

  def cycle(rec: Recorder): Unit = {
    val rng   = new Random(ctx.seed * 1000003L + pass)
    pass += 1
    val topic = rng.nextInt(Topics).toLong
    val pages = rng.shuffle((1 to pageCounts.getOrElse(topic, 1)).toList).take(PagesPerPass)
    plans(topic, pages).foreach { case (fn, key, q) =>
      rec.op("query", s"operators.$fn")(Workload.execute(rec, q()))(ctx.refs.check(key, _))
    }
  }

  /** Every (topic, page) a seed can pick, for recording fingerprints:
    * each topic's pages 1 to its `topicPageCounts` page count.
    */
  def recordAll(rec: Recorder): Unit = {
    val counts = Paging.topicPageCounts(t).collect().map { r =>
      r.getAs[Long]("topic_id") -> r.getAs[Long]("page_count").toInt
    }.toMap
    require(counts.keySet == (0 until Topics).map(_.toLong).toSet, s"topics in the corpus: ${counts.keys}")
    val fixed = plans(0L, Nil).filterNot(_._2.contains('/'))
    val perTopic = counts.toSeq.sorted.flatMap { case (topic, n) =>
      plans(topic, 1 to n).filter(_._2.contains('/'))
    }
    (fixed ++ perTopic).distinctBy(_._2).foreach { case (fn, key, q) =>
      rec.op("query", s"operators.$fn")(Workload.execute(rec, q()))(ctx.refs.check(key, _))
    }
  }

  def detail(rec: Recorder): Seq[M] =
    Seq(("topic_pass_s", Stats.median(rec.cycles.filter(_.ok).map(_.callMs / 1000).toSeq), "s")) ++
      Workload.msTail("query_ms", rec.ok("query"))

  def layerDetail(rec: Recorder, layers: Layers): Seq[M] = Workload.tracedMedians(rec, opKinds)
}

object TopicFanout {
  val Topics       = 25 // c_nationkey 0..24
  val PagesPerPass = 3  // every topic has at least five pages in the corpus
  val PageKey      = raw"Paging\.pageArns/(\d+)/(\d+)".r
}
