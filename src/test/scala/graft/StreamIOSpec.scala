package graft

import java.nio.file.Files

import graft.streaming.{KinesisLikePipeline, StreamIO}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamIOSpec extends SparkSpecBase {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("content-addressed sink lands decoded answers in key-sorted parquet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[(String, String)]
    val out = tmp("graft-s3-out")
    val q = StreamIO.contentAddressedSink(
      KinesisLikePipeline.addAnswers(
        KinesisLikePipeline.decodeEnvelope(in.toDF().toDF("partition_key", "data"))
      ),
      out,
      tmp("graft-s3-ckpt")
    )
    val env = (n1: Long, n2: Long) =>
      java.util.Base64.getEncoder.encodeToString(s"""{"Num1":$n1,"Num2":$n2}""".getBytes)
    in.addData(("a", env(1, 2)), ("b", env(30, 12)))
    q.processAllAvailable()
    q.stop()
    val rows = StreamIO.readContentAddressed(spark, out)
    assert(rows.count() == 2)
    assert(rows.columns.contains("key_prefix"))
    assert(rows.filter(col("answer") === "30 + 12 = 42").count() == 1)
  }

  /** Drain 600 ProblemSource rows (three micro-batches) into a
    * content-addressed sink and return its output dir.
    */
  private def drainToSink(prefixChars: Int): String = {
    val out = tmp("graft-s3-layout")
    val records = spark.readStream
      .format("graft.sources.ProblemSource")
      .option("numRows", 600)
      .option("numPartitions", 4)
      .option("rowsPerBatch", 200)
      .load()
    StreamIO
      .contentAddressedSink(
        KinesisLikePipeline.addAnswers(KinesisLikePipeline.decodeEnvelope(records), keyCol = "seq"),
        out,
        tmp("graft-s3-layout-ckpt"),
        availableNow = true,
        prefixChars = prefixChars
      )
      .awaitTermination()
    out
  }

  test("content-addressed sink writes key-sorted files per batch and pushes prefix filters") {
    import scala.jdk.CollectionConverters._
    def ls(p: java.nio.file.Path): List[java.nio.file.Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val out     = drainToSink(prefixChars = 1)
    val batches = ls(java.nio.file.Paths.get(out)).filter(_.getFileName.toString.matches("b\\d+"))
    assert(batches.size == 3, s"expected three batch dirs, got $batches")
    batches.foreach { b =>
      val children = ls(b)
      assert(!children.exists(_.getFileName.toString.startsWith("key_prefix=")),
        s"$b still holds prefix partition dirs")
      val files = children.filter(_.getFileName.toString.endsWith(".parquet"))
      assert(files.nonEmpty, s"$b holds no parquet file")
      files.foreach { f =>
        val keys = spark.read.parquet(f.toString).select("key_prefix", "result_key").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(keys == keys.sorted, s"$f is not ordered by (key_prefix, result_key)")
      }
    }

    val all = StreamIO.readContentAddressed(spark, out)
      .select("seq", "result_key").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(all.map(_._1).sorted.toSeq == (0L until 600L))
    val prefixA = StreamIO.readContentAddressed(spark, out).filter(col("key_prefix") === "a")
    val plan    = prefixA.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(key_prefix,a)"),
      s"prefix filter not pushed into the parquet scan:\n$plan")
    val expected = all.filter(_._2.stripPrefix("add-").startsWith("a")).map(_._1).toSet
    assert(expected.nonEmpty)
    assert(prefixA.select("seq").collect().map(_.getLong(0)).toSet == expected)
  }

  test("content-addressed sink round-trips at the default 2-char prefix width") {
    val rows = StreamIO.readContentAddressed(spark, drainToSink(prefixChars = 2))
      .select("seq", "result_key", "key_prefix").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 600L))
    rows.foreach { r =>
      assert(r.getString(2) == r.getString(1).stripPrefix("add-").take(2), s"bad key_prefix in $r")
    }
  }

  test("content-addressed read: empty sink output and row-less batch dirs degrade gracefully") {
    val out = tmp("graft-s3-empty")
    val ddl = "result_key STRING, answer STRING, key_prefix STRING"
    // no b<id> dirs at all: an empty table shaped by the schema, not an error
    val none = StreamIO.readContentAddressed(spark, out, Some(ddl))
    assert(none.count() == 0 && none.columns.toSet == Set("result_key", "answer", "key_prefix"))
    // a missing root behaves the same (a sink that never committed)
    assert(StreamIO.readContentAddressed(spark, s"$out/never-created", Some(ddl)).count() == 0)
    // a b<id> with only _SUCCESS (a row-less partitioned write) must be
    // skipped, not fed to the reader where schema inference would throw
    val b0 = new java.io.File(s"$out/b0"); b0.mkdirs()
    new java.io.File(b0, "_SUCCESS").createNewFile()
    assert(StreamIO.readContentAddressed(spark, out, Some(ddl)).count() == 0)
    // without a schema and nothing readable, the error names the problem
    val ex = intercept[IllegalArgumentException](StreamIO.readContentAddressed(spark, out))
    assert(ex.getMessage.contains("no batch directories"))
    // a real batch beside the empty one reads fine and skips the empty
    spark.range(2).selectExpr("concat('add-', id) AS result_key", "'1 + 1 = 2' AS answer",
        "'0' AS key_prefix")
      .write.parquet(s"$out/b1")
    assert(StreamIO.readContentAddressed(spark, out, Some(ddl)).count() == 2)
  }

  test("batched queue sink groups payloads into fixed-size send batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[(Long, String)]
    val out = tmp("graft-sqs-out")
    val q = StreamIO.batchedQueueSink(
      in.toDF().toDF("topic_id", "payload_b64"),
      out,
      tmp("graft-sqs-ckpt"),
      batchSize = 3
    )
    in.addData((1L to 7L).map(i => (1L, s"p$i")) ++ Seq((2L, "x")): _*)
    q.processAllAvailable()
    q.stop()
    val batches = StreamIO.readQueueBatches(spark, out)
    val t1 = batches.filter(col("topic_id") === 1).select("entries").as[Seq[String]].collect()
    assert(t1.map(_.size).sorted.toSeq == Seq(1, 3, 3)) // 7 payloads → 3+3+1
    assert(batches.filter(col("topic_id") === 2).count() == 1)
  }

  test("queue-batch replay: one micro-batch per slice, every payload in exactly one ≤batchSize batch") {
    import graft.streaming.StreamReplay
    val slices = 3
    val out    = StreamReplay.replayQueueBatches(spark, sfDir, "MSG", slices = slices, batchSize = 10)
    assert(StreamReplay.lastBatchCount == slices,
      s"expected $slices micro-batches, got ${StreamReplay.lastBatchCount}")
    val rows = out
      .select(col("topic_id"), col("micro_batch"), col("send_batch"),
        size(col("entries")).as("n"), explode(col("entries")).as("payload"))
      .collect()
    // conservation: every fan-out payload lands in exactly one batch
    val expected = graft.operators.Paging.queuePayloads(tables, "MSG").count()
    assert(rows.length.toLong == expected, s"${rows.length} batched vs $expected payloads")
    assert(rows.map(_.getAs[String]("payload")).distinct.length.toLong == expected)
    // the SendMessageBatch contract: never more than batchSize entries,
    // and within a (micro_batch, topic) only the LAST batch may be short
    val groups = rows.map(r => ((r.getLong(1), r.getLong(0)), (r.getLong(2), r.getInt(3))))
      .groupBy(_._1).values
    groups.foreach { g =>
      val byBatch = g.map(_._2).distinct.sortBy(_._1)
      assert(byBatch.forall(_._2 <= 10))
      assert(byBatch.init.forall(_._2 == 10), s"short batch before the tail: ${byBatch.toSeq}")
    }
  }

  test("end-to-end topic fan-out: message stream → page sequencer → batched queue sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in  = MemoryStream[KinesisLikePipeline.TopicMsg]
    val out = tmp("graft-e2e-out")
    // the full reference flow in one streaming plan: lambda_count's
    // page fan-out (stateful) feeding lambda_page's SQS batching —
    // notes ride along so the SNS first/last signals are observable
    // at the queue
    val payloads = KinesisLikePipeline
      .pageSequencer(spark, in.toDS())
      .select(
        col("topic_id"),
        base64(
          concat_ws("|", col("topic_id"), col("page_num"), col("global_seq"), col("message"), col("note"))
            .cast("binary")
        ).as("payload_b64")
      )
    val q = StreamIO.batchedQueueSink(payloads, out, tmp("graft-e2e-ckpt"), batchSize = 2)
    in.addData(KinesisLikePipeline.TopicMsg(7, "hello", 45, 10)) // 45/10+1 = 5 pages
    q.processAllAvailable()
    // second trigger: the sequencer state must carry across triggers
    in.addData(KinesisLikePipeline.TopicMsg(7, "again", 15, 10)) // 15/10+1 = 2 pages
    q.processAllAvailable()
    q.stop()
    val batches = StreamIO.readQueueBatches(spark, out)
    val decoded = batches
      .select(col("micro_batch"), explode(col("entries")).as("e"))
      .select(col("micro_batch"), unbase64(col("e")).cast("string").as("m"))
      .as[(Long, String)]
      .collect()
      .map { case (mb, m) => (mb, m.split("\\|", -1)) }
    assert(decoded.length == 7, s"expected 5+2 page payloads, got ${decoded.length}")
    // first/last notes across BOTH triggers, decoded at the queue side
    val hello = decoded.map(_._2).filter(_(3) == "hello").sortBy(_(1).toLong)
    assert(hello.head(4) == "Count: 1st page sent")
    assert(hello.last(4) == "Count: Last Page Sent: 5")
    val again = decoded.map(_._2).filter(_(3) == "again").sortBy(_(1).toLong)
    assert(again.head(4) == "Count: 1st page sent")
    assert(again.last(4) == "Count: Last Page Sent: 2")
    // per-topic global sequence keeps counting across triggers: 1..5 then 6..7
    assert(again.map(_(2).toLong).toSeq == Seq(6L, 7L))
    // and the two triggers landed as distinct micro-batches in the sink
    assert(decoded.map(_._1).distinct.length == 2, "expected two micro-batch commits")
    val sizes = batches.select("entries").as[Seq[String]].collect().map(_.size)
    assert(sizes.forall(_ <= 2), s"batch size cap violated: ${sizes.toSeq}")
  }

  test("rate-source producer emits well-formed decodable envelopes") {
    val stream = StreamIO.mathProblemStream(spark, rowsPerSecond = 500)
    assert(stream.isStreaming)
    val q = KinesisLikePipeline
      .decodeEnvelope(stream)
      .writeStream
      .format("memory")
      .queryName("rate_probe")
      .option("checkpointLocation", tmp("graft-rate-ckpt"))
      .start()
    try {
      // wait until at least one non-empty micro-batch lands
      var tries = 0
      while (spark.table("rate_probe").isEmpty && tries < 50) { Thread.sleep(200); tries += 1 }
      val rows = spark.table("rate_probe").collect()
      assert(rows.nonEmpty, "rate source produced nothing in 10s")
      assert(rows.forall { r =>
        val n1 = r.getAs[Long]("num1"); val n2 = r.getAs[Long]("num2")
        n1 >= 0 && n1 < 100 && n2 >= 0 && n2 < 100
      })
    } finally q.stop()
  }
}
