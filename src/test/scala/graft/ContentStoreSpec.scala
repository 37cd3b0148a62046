package graft

import java.nio.file.Files

import graft.sources.{ContentStore, ContentStoreWrite, StoreWriterFactory}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.unsafe.types.UTF8String

/** The writable DSv2 connector's commit protocol: batch round trip,
  * zombie-attempt invisibility, epoch-replay idempotence, and the
  * writeStream path end to end.
  */
class ContentStoreSpec extends SparkSpecBase {

  private def tmp(): String = Files.createTempDirectory("graft-store").toString

  private def hconf            = spark.sessionState.newHadoopConf()
  private def sconf            = new org.apache.spark.util.SerializableConfiguration(hconf)
  private def factoryFor(dir: String) = new StoreWriterFactory(dir, 0, 1, sconf)

  private def readBack(dir: String): Set[(String, String)] =
    spark.read
      .format("graft.sources.ContentStore")
      .option("path", dir)
      .load()
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet

  test("batch write + read back round-trips; appends accumulate") {
    import spark.implicits._
    val dir = tmp()
    val df = (1 to 100)
      .map(i => (s"add-key$i", s"payload $i with\ttabs and\nnewlines"))
      .toDF("result_key", "payload")
    df.write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    val once = readBack(dir)
    assert(once.size == 100)
    assert(once.contains(("add-key7", "payload 7 with\ttabs and\nnewlines")))
    df.write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    assert(
      spark.read.format("graft.sources.ContentStore").option("path", dir).load().count() == 200,
      "second append must add a second manifest"
    )
  }

  test("pinned-snapshot read reproduces the captured manifest set across later appends") {
    import spark.implicits._
    val dir = tmp()
    Seq(("k1", "v1"), ("k2", "v2")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    val snapshot = graft.sources.ContentStore.snapshotManifests(dir)
    assert(snapshot.size == 1, "one batch write = one manifest")
    // a later append must NOT leak into a read pinned to the snapshot
    Seq(("k3", "v3")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    val pinned = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("manifests", snapshot.mkString(","))
      .load().as[(String, String)].collect().toSet
    assert(pinned == Set(("k1", "v1"), ("k2", "v2")), s"pin leaked later commits: $pinned")
    val full = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).load().count()
    assert(full == 3, "unpinned read must see every commit")
    // pinning the CURRENT set reproduces the full store
    val now = graft.sources.ContentStore.snapshotManifests(dir)
    assert(now.size == 2)
    val repinned = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("manifests", now.mkString(","))
      .load().count()
    assert(repinned == 3)
  }

  test("rows from a zombie task attempt are invisible to readers") {
    val dir     = tmp()
    val factory = factoryFor(dir)
    // attempt 1 writes rows, then the executor 'dies' (no commit)
    val zombie = factory.createWriter(0, 1L)
    zombie.write(InternalRow(UTF8String.fromString("k"), UTF8String.fromString("from-zombie")))
    // the retried attempt wins the commit coordinator and commits
    val winner = factory.createWriter(0, 2L)
    winner.write(InternalRow(UTF8String.fromString("k"), UTF8String.fromString("from-winner")))
    ContentStoreWrite.writeManifest(dir, "batch-test-0", Array(winner.commit()), hconf)
    zombie.abort()
    assert(readBack(dir) == Set(("k", "from-winner")))
  }

  test("replaying a committed streaming epoch is a no-op (exactly-once)") {
    val dir     = tmp()
    val factory = factoryFor(dir)
    val w1      = factory.createWriter(0, 1L, 7L)
    w1.write(InternalRow(UTF8String.fromString("k7"), UTF8String.fromString("v")))
    ContentStoreWrite.writeManifest(dir, "epoch-q-7", Array(w1.commit()), hconf, idempotent = true)
    // driver restarts and replays epoch 7: a fresh attempt rewrites the
    // same data and the sink sees a second commit for the same epoch
    val w2 = factory.createWriter(0, 2L, 7L)
    w2.write(InternalRow(UTF8String.fromString("k7"), UTF8String.fromString("v")))
    ContentStoreWrite.writeManifest(dir, "epoch-q-7", Array(w2.commit()), hconf, idempotent = true)
    assert(readBack(dir).size == 1, "epoch replay must not double rows")
    // and the replayed file must not linger as an orphan in data/
    val dataFiles = new java.io.File(s"$dir/data").list().filterNot(_.startsWith("."))
    assert(dataFiles.length == 1, s"replayed epoch left an orphan: ${dataFiles.toSeq}")
    // manifests commit via tmp-then-rename: no .tmp residue may remain
    // (.crc checksum sidecars are the local FileSystem's, not ours)
    val manifests = new java.io.File(s"$dir/_manifest").list()
    assert(manifests.forall(!_.contains(".tmp-")), s"temp manifest leaked: ${manifests.toSeq}")
  }

  test("writeStream lands micro-batches through epoch manifests") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val in  = MemoryStream[(String, String)]
    val q = in
      .toDF()
      .toDF("result_key", "payload")
      .writeStream
      .format("graft.sources.ContentStore")
      .option("path", dir)
      .option("checkpointLocation", tmp())
      .start()
    in.addData(("a", "1"), ("b", "2"))
    q.processAllAvailable()
    in.addData(("c", "3"))
    q.processAllAvailable()
    q.stop()
    assert(readBack(dir) == Set(("a", "1"), ("b", "2"), ("c", "3")))
    assert(ContentStore.committedFiles(dir).nonEmpty)
  }

  test("streaming epoch writes honor the bucketed layout; SPJ-readable afterwards") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val in  = MemoryStream[(String, String)]
    val q = in.toDF().toDF("result_key", "payload")
      .writeStream.format("graft.sources.ContentStore")
      .option("path", dir).option("buckets", 4)
      .option("checkpointLocation", tmp())
      .start()
    in.addData((1 to 60).map(i => (s"sk$i", s"v$i")): _*)
    q.processAllAvailable()
    in.addData((61 to 120).map(i => (s"sk$i", s"v$i")): _*)
    q.processAllAvailable()
    q.stop()
    // every epoch-committed file carries a bucket id < 4
    val files = ContentStore.committedFiles(dir, hconf)
    assert(files.nonEmpty &&
      files.forall(f => ContentStore.bucketOfFile(f).exists(_ < 4)), files.toString)
    // the streamed store is key-grouped readable with correct buckets
    val got = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("bucketedRead", 4).load()
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(got.map(t => (t._1, t._2)).toSet ==
      (1 to 120).map(i => (s"sk$i", s"v$i")).toSet)
    assert(got.forall { case (k, _, b) => b == ContentStore.bucketOf(k, 4) })
  }

  test("readStream tails the manifest log exactly-once across restarts") {
    import spark.implicits._
    val dir  = tmp()
    val ckpt = tmp()

    def writeBatch(rows: (String, String)*): Unit =
      rows.toSeq
        .toDF("result_key", "payload")
        .write
        .format("graft.sources.ContentStore")
        .option("path", dir)
        .mode("append")
        .save()

    val outDir = tmp()
    def drain(): Set[(String, String)] = {
      // file sink: the one sink that RESUMES from a checkpoint, so each
      // drain is a restart of the same logical query
      val q = spark.readStream
        .format("graft.sources.ContentStore")
        .option("path", dir)
        .load()
        .writeStream
        .format("json")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read
        .schema("result_key STRING, payload STRING")
        .json(outDir)
        .as[(String, String)]
        .collect()
        .toSet
    }

    writeBatch("a" -> "1", "b" -> "2")
    writeBatch("c" -> "3")
    assert(drain() == Set("a" -> "1", "b" -> "2", "c" -> "3"))

    // two more commits land while the reader is down; the restarted
    // reader (same checkpoint) must pick up ONLY the new manifests —
    // the cumulative sink grows to exactly five rows: nothing
    // replayed, nothing skipped
    writeBatch("d" -> "4")
    writeBatch("e" -> "5")
    assert(drain() == Set("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4", "e" -> "5"))

    // nothing new → an AvailableNow drain terminates without appending
    assert(drain().size == 5)
  }

  test("columnar tail: ColumnarStore readStream drains ParquetEpochs manifests exactly-once across restarts") {
    import spark.implicits._
    val dir  = tmp()
    val ckpt = tmp()

    def appendEpoch(rows: (Long, String, Double)*): Unit =
      graft.sources.ParquetEpochs.append(
        rows.toSeq.toDF("id", "name", "score"), dir)

    val outDir = tmp()
    def drain(): Set[(Long, String, Double)] = {
      val q = spark.readStream
        .format("graft.sources.ColumnarStore")
        .option("path", dir)
        .option("maxFilesPerTrigger", "1")
        .load()
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).as[(Long, String, Double)].collect().toSet
    }

    appendEpoch((1L, "a", 0.5))
    appendEpoch((2L, "b", 1.5), (3L, "c", 2.5))
    assert(drain() == Set((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)))

    // typed schema survives the tail: the stream resolved from _schema
    val streamSchema = spark.readStream
      .format("graft.sources.ColumnarStore").option("path", dir).load().schema
    assert(streamSchema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("id", "long"), ("name", "string"), ("score", "double")))

    // two more epochs land while the reader is down; the restarted
    // reader (same checkpoint) picks up ONLY the new manifests
    appendEpoch((4L, "d", 3.5))
    appendEpoch((5L, "e", 4.5))
    assert(drain() ==
      Set((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5), (4L, "d", 3.5), (5L, "e", 4.5)))

    // nothing new → an AvailableNow drain terminates without appending
    assert(drain().size == 5)

    // the K-V surface refuses the columnar store, and vice versa
    val eKv = intercept[IllegalStateException] {
      spark.read.format("graft.sources.ContentStore").option("path", dir).load()
    }
    assert(eKv.getMessage.contains("parquet"))
    val kvDir = tmp()
    Seq(("k1", "v1")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", kvDir).mode("append").save()
    val eCol = intercept[IllegalStateException] {
      spark.readStream.format("graft.sources.ColumnarStore").option("path", kvDir).load()
    }
    assert(eCol.getMessage.contains("not a columnar"))
  }

  test("columnar tail stays exactly-once across compaction (rewritten epochs not re-emitted)") {
    import spark.implicits._
    val dir  = tmp()
    val ckpt = tmp()
    def appendEpoch(rows: (Long, String, Double)*): Unit =
      graft.sources.ParquetEpochs.append(rows.toSeq.toDF("id", "name", "score"), dir)

    val outDir = tmp()
    def drain(): Set[Long] = {
      val q = spark.readStream
        .format("graft.sources.ColumnarStore")
        .option("path", dir)
        .load()
        .writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(outDir).select("id").as[Long].collect().toSet
    }

    appendEpoch((1L, "a", 0.5))
    appendEpoch((2L, "b", 1.5))
    assert(drain() == Set(1L, 2L))
    // columnar OPTIMIZE folds both epochs; the tail has consumed the
    // sources, so the compaction manifest must emit NOTHING for them
    assert(graft.sources.ParquetEpochs.compact(spark, dir).isDefined)
    appendEpoch((3L, "c", 2.5))
    assert(drain() == Set(1L, 2L, 3L), "compaction must not replay consumed rows")
  }

  test("columnar tail `columns` option prunes the read schema (streaming has no engine pruning)") {
    import spark.implicits._
    val dir = tmp()
    graft.sources.ParquetEpochs.append(
      Seq((1L, "a", 10L, "long text one"), (2L, "b", 20L, "long text two"))
        .toDF("id", "name", "n", "text"), dir)
    val pruned = spark.readStream
      .format("graft.sources.ColumnarStore")
      .option("path", dir)
      .option("columns", "id,n")
      .load()
    assert(pruned.schema.fieldNames.toSeq == Seq("id", "n"),
      "the columns option must subset the resolution schema in store order")
    val q = pruned.writeStream.format("memory").queryName("pruned_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("pruned_tail").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
    // unknown columns refuse at resolution, naming the offenders
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft.sources.ColumnarStore")
        .option("path", dir).option("columns", "id,nope").load()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("columnar tail keyRange option prunes non-covering files at partition planning") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmp()
    // two range-clustered epochs: ids 0..399 and 400..799, 4 files each
    def epoch(lo: Long): org.apache.spark.sql.DataFrame =
      spark.range(lo, lo + 400).selectExpr("id", "id * 2 AS v")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    graft.sources.ParquetEpochs.append(epoch(0L), dir): Unit
    graft.sources.ParquetEpochs.append(epoch(400L), dir): Unit
    val schema = graft.sources.ParquetEpochs.recordedSchema(dir, hconf).get
    // direct stream: the ranged plan is a strict subset of the 8 files
    val ranged = new graft.sources.ColumnarMicroBatchStream(
      dir, sconf, tmp(), 0, 10, schema, Some(("id", "100", "199")))
    val end   = ranged.latestOffset(ranged.initialOffset(), ReadLimit.allAvailable())
    val parts = ranged.planInputPartitions(ranged.initialOffset(), end)
    assert(parts.nonEmpty && parts.length < 8,
      s"keyRange [100,199] must plan a covering subset of 8 clustered files, got ${parts.length}")
    val unranged = new graft.sources.ColumnarMicroBatchStream(
      dir, sconf, tmp(), 0, 10, schema, None)
    val end2 = unranged.latestOffset(unranged.initialOffset(), ReadLimit.allAvailable())
    assert(unranged.planInputPartitions(unranged.initialOffset(), end2).length == 8)
    // end-to-end: the pruned tail + the consumer's own filter == the slice
    // (keyRange is an I/O option — covering files still emit out-of-range rows)
    val q = spark.readStream.format("graft.sources.ColumnarStore")
      .option("path", dir)
      .option("keyRangeColumn", "id").option("keyRangeLo", "100").option("keyRangeHi", "199")
      .load()
      .where(col("id").between(100L, 199L))
      .writeStream.format("memory").queryName("ranged_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("ranged_tail").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (100L to 199L).map(i => (i, i * 2)).toSet)
    // incomplete option triples refuse at resolution
    val e = intercept[Exception] {
      spark.readStream.format("graft.sources.ColumnarStore")
        .option("path", dir).option("keyRangeColumn", "id").load()
    }
    assert(e.getMessage.contains("keyRange"))
    // a typo'd column refuses with the recorded schema in the message
    val e2 = intercept[Exception] {
      spark.readStream.format("graft.sources.ColumnarStore")
        .option("path", dir).option("keyRangeColumn", "nope")
        .option("keyRangeLo", "1").option("keyRangeHi", "2").load()
    }
    assert(e2.getMessage.contains("nope"))
  }

  test("columnar streamingAppend: one epoch per micro-batch, exactly-once across restarts") {
    import spark.implicits._
    val src  = tmp()
    val dir  = tmp()
    val ckpt = tmp()
    def addSlice(name: String, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("id", "name").coalesce(1).write.parquet(s"$src/$name")
    def drain(): Unit = {
      val q = graft.sources.ParquetEpochs.streamingAppend(
        spark.readStream.schema("id LONG, name STRING")
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(src),
        dir, ckpt, availableNow = true)
      q.awaitTermination()
    }
    addSlice("s0", (1L, "a"), (2L, "b"))
    addSlice("s1", (3L, "c"))
    drain()
    val manifests1 = graft.sources.ParquetEpochs.snapshot(dir)
    assert(manifests1.size == 2 && manifests1.forall(_.startsWith("epoch-pq-")),
      s"one epoch manifest per micro-batch: $manifests1")
    // restart with nothing new: no new manifests, no replayed rows
    drain()
    assert(graft.sources.ParquetEpochs.snapshot(dir) == manifests1)
    // new slice while the writer is down; the restart appends ONLY it
    addSlice("s2", (4L, "d"))
    drain()
    val all = graft.sources.ParquetEpochs.read(
      spark, dir, graft.sources.ParquetEpochs.snapshot(dir))
    assert(all.as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a REPLAYED epoch commit (same manifest name) is a no-op: files
    // staged by the replay are dropped, the store is unchanged
    val before = graft.sources.ParquetEpochs.snapshot(dir).toSet
    graft.sources.ParquetEpochs.append(
      Seq((99L, "zombie")).toDF("id", "name"), dir,
      manifestName = Some(before.head)): Unit
    assert(graft.sources.ParquetEpochs.snapshot(dir).toSet == before)
    assert(!graft.sources.ParquetEpochs.read(spark, dir, before.toSeq)
      .as[(Long, String)].collect().toSet.contains((99L, "zombie")),
      "replayed epoch's files must be dropped, not merged")
  }

  test("schema is one-per-store: a mismatched columnar append refuses") {
    import spark.implicits._
    val dir = tmp()
    graft.sources.ParquetEpochs.append(Seq((1L, "a")).toDF("id", "name"), dir)
    val e = intercept[IllegalStateException] {
      graft.sources.ParquetEpochs.append(Seq((1L, 2L)).toDF("id", "other"), dir)
    }
    assert(e.getMessage.contains("one row schema per store"))
    // an empty pinned read types itself from the recorded schema
    val empty = graft.sources.ParquetEpochs.read(spark, dir, Seq.empty)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "name") && empty.count() == 0)
  }

  test("streaming relay: problem stream writes epochs, a second query tails them") {
    // the handoff the streaming read exists for: pipeline A's epochs
    // become pipeline B's micro-batches, with the store as the
    // exactly-once boundary between two independent queries
    val dir = tmp()
    val producer = graft.streaming.KinesisLikePipeline
      .addAnswers(
        graft.streaming.KinesisLikePipeline.decodeEnvelope(
          spark.readStream
            .format("graft.sources.ProblemSource")
            .option("numRows", 100)
            .option("rowsPerBatch", 25)
            .load()
        ),
        keyCol = "seq"
      )
      .select(
        org.apache.spark.sql.functions.col("result_key"),
        org.apache.spark.sql.functions.col("answer").as("payload")
      )
      .writeStream
      .format("graft.sources.ContentStore")
      .option("path", dir)
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    producer.awaitTermination()
    assert(ContentStore.manifestNames(dir, hconf).size == 4, "expected one manifest per epoch")

    val consumer = spark.readStream
      .format("graft.sources.ContentStore")
      .option("path", dir)
      .load()
      .writeStream
      .format("memory")
      .queryName("relay_out")
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    consumer.awaitTermination()
    val rows = spark.table("relay_out").collect()
    assert(rows.length == 100)
    assert(rows.map(_.getString(0)).distinct.length == 100, "content keys must be unique")
    assert(rows.forall(_.getString(1).matches("\\d+ \\+ \\d+ = \\d+")))
  }

  private def writeOne(dir: String, rows: (String, String)*): Unit = {
    import spark.implicits._
    rows.toSeq
      .toDF("result_key", "payload")
      .coalesce(1)
      .write
      .format("graft.sources.ContentStore")
      .option("path", dir)
      .mode("append")
      .save()
  }

  test("maxFilesPerTrigger drains a backlog in ceil(n/limit) micro-batches") {
    val dir = tmp()
    (1 to 6).foreach(i => writeOne(dir, s"k$i" -> s"v$i")) // 6 manifests × 1 file
    val q = spark.readStream
      .format("graft.sources.ContentStore")
      .option("path", dir)
      .option("maxFilesPerTrigger", 2)
      .load()
      .writeStream
      .format("memory")
      .queryName("limited_drain")
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("limited_drain").count() == 6, "AvailableNow must still reach the snapshot")
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3, s"6 single-file manifests / limit 2 = 3 batches, got $dataBatches")
  }

  test("manifest-log compaction bounds the offset and the log; restart after it stays exactly-once") {
    import spark.implicits._
    val dir  = tmp()
    val ckpt = tmp()
    val outDir = tmp()
    def drain(): Set[String] = {
      val q = spark.readStream
        .format("graft.sources.ContentStore")
        .option("path", dir)
        .option("maxFilesPerTrigger", 1) // one manifest per micro-batch
        .option("compactInterval", 2)
        .load()
        .writeStream
        .format("json")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read
        .schema("result_key STRING, payload STRING")
        .json(outDir)
        .as[(String, String)]
        .collect()
        .map(_._1)
        .toSet
    }

    (1 to 5).foreach(i => writeOne(dir, s"k$i" -> s"v$i"))
    assert(drain() == (1 to 5).map(i => s"k$i").toSet)

    // the source-owned log compacted (batches 1..5, interval 2 →
    // compacts at 2 and 4). Retention keeps plain entries to
    // n - 2·interval — the crash-replay window (consumedThrough(i-1)
    // reads up to an interval OLDER than the replayed batch) plus an
    // interval of slack — so at n=4 nothing is deleted yet
    val logDir = new java.io.File(s"$ckpt/sources/0/manifest-log")
    val logFiles = logDir.list().toSet
    assert(logFiles.exists(_.endsWith(".compact")), s"no compaction written: $logFiles")
    assert(logFiles.contains("1") && logFiles.contains("2"),
      s"entries inside the replay-safety window must be retained: $logFiles")

    // the ENGINE-checkpointed offset is one monotonic batch id — its
    // JSON never grows with manifest history
    val offsetFiles = new java.io.File(s"$ckpt/offsets").listFiles().filter(_.isFile)
      .filterNot(_.getName.startsWith("."))
    val latest = offsetFiles.maxBy(_.getName.toLong)
    val offsetJson = new String(java.nio.file.Files.readAllBytes(latest.toPath), "UTF-8")
      .linesIterator.toSeq.last.trim
    assert(offsetJson.matches("\\d+"), s"offset must be a bounded batch id, got: $offsetJson")

    // two more epochs after compaction; the restarted tail reads
    // exactly the new ones
    (6 to 7).foreach(i => writeOne(dir, s"k$i" -> s"v$i"))
    assert(drain() == (1 to 7).map(i => s"k$i").toSet, "restart after compaction lost or duplicated rows")
    // the batch-6 compact's cleanup crossed the 2·interval horizon:
    // entries 1,2 are now outside every replay window and deleted
    val afterFiles = logDir.list().toSet
    assert(!afterFiles.contains("1") && !afterFiles.contains("2"),
      s"entries past the 2-interval horizon must be deleted: $afterFiles")
  }

  test("full relay chain: problem stream → store epochs → tailing sequencer → batched queue, exactly-once across a mid-chain restart") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.{KinesisLikePipeline, StreamIO}
    val storeDir  = tmp()
    val ckptProd  = tmp()
    val ckptRelay = tmp()
    val queueDir  = tmp()

    // stage A: the DSv2 problem stream answered and committed to the
    // store as epoch manifests (reruns resume the SAME producer
    // checkpoint, so the second call emits only the new epochs)
    def produce(numRows: Int): Unit = {
      val records = spark.readStream
        .format("graft.sources.ProblemSource")
        .option("numRows", numRows)
        .option("rowsPerBatch", 30)
        .option("numPartitions", 4)
        .load()
      val q = KinesisLikePipeline
        .addAnswers(KinesisLikePipeline.decodeEnvelope(records), keyCol = "seq")
        .select(
          col("result_key"),
          concat(col("result_key"), lit("|"), col("answer")).as("payload")
        )
        .writeStream
        .format("graft.sources.ContentStore")
        .option("path", storeDir)
        .option("checkpointLocation", ckptProd)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // stage B: tail the store one manifest per trigger (compaction
    // every 2 batches, so the restart below resumes FROM a compact),
    // sequence pages per topic with checkpointed fMGWS state, land
    // SendMessageBatch-style JSON lines
    def relay(): Int = {
      val msgs = spark.readStream
        .format("graft.sources.ContentStore")
        .option("path", storeDir)
        .option("maxFilesPerTrigger", 1)
        .option("compactInterval", 2)
        .load()
        .select(
          pmod(xxhash64(col("result_key")), lit(3)).as("topic_id"),
          col("payload").as("message"),
          lit(25L).as("n_devices"),
          lit(10L).as("page_size")
        )
        .as[KinesisLikePipeline.TopicMsg]
      val pages = KinesisLikePipeline.pageSequencer(spark, msgs)
      val payloads = pages
        .toDF()
        .select(
          col("topic_id"),
          base64(
            to_json(
              struct(col("page_num"), col("page_count"), col("global_seq"), col("message"), col("note"))
            ).cast("binary")
          ).as("payload_b64")
        )
      val q = StreamIO.batchedQueueSink(payloads, queueDir, ckptRelay)
      q.processAllAvailable()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      dataBatches
    }

    produce(60)
    val b1 = relay()
    produce(120) // two more epochs land while the relay is down
    val b2 = relay() // restart: same sequencer checkpoint, post-compaction offset
    assert(b1 >= 2 && b2 >= 2, s"expected ≥3 data triggers across the chain, got $b1 + $b2")

    val pageSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "page_num LONG, page_count LONG, global_seq LONG, message STRING, note STRING"
    )
    val lines = StreamIO.readQueueBatches(spark, queueDir)
    // SendMessageBatch contract: no line carries more than 10 entries
    assert(lines.select(size(col("entries")).as("n")).collect().forall(_.getInt(0) <= 10))
    val pages = lines
      .select(col("topic_id"), explode(col("entries")).as("b64"))
      .select(col("topic_id"), from_json(unbase64(col("b64")).cast("string"), pageSchema).as("p"))
      .select(col("topic_id"), col("p.*"))
      .collect()

    // exactly-once through the WHOLE chain: 120 unique messages × 3
    // pages (25/10+1), no page delivered twice despite the restart
    assert(pages.length == 360, s"expected 360 pages, got ${pages.length}")
    val byMsg = pages.groupBy(_.getAs[String]("message"))
    assert(byMsg.size == 120, s"expected 120 distinct messages, got ${byMsg.size}")
    byMsg.foreach { case (m, ps) =>
      assert(ps.map(_.getAs[Long]("page_num")).sorted.toSeq == Seq(1L, 2L, 3L), s"pages of $m")
      assert(ps.count(_.getAs[String]("note") == "Count: 1st page sent") == 1, s"first note of $m")
      assert(ps.count(_.getAs[String]("note").startsWith("Count: Last Page Sent")) == 1, s"last note of $m")
    }
    // per-topic global sequence is contiguous ACROSS triggers and the
    // restart — the sequencer state survived the mid-chain stop
    pages.groupBy(_.getAs[Long]("topic_id")).foreach { case (t, ps) =>
      val seqs = ps.map(_.getAs[Long]("global_seq")).sorted.toSeq
      assert(seqs == (1L to ps.length).toSeq, s"topic $t sequence has gaps/dups: $seqs")
    }
  }

  test("legacy set offsets migrate into the manifest log (pre-log checkpoints resume)") {
    import graft.sources.{StoreBatchOffset, StoreMicroBatchStream, StoreOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmp()
    writeOne(dir, "old" -> "1")
    writeOne(dir, "new" -> "2")
    val consumed = ContentStore.manifestNames(dir, hconf).head // the 'old' manifest
    val stream = new StoreMicroBatchStream(dir, sconf, tmp(), 0, 10)
    val legacy = StoreOffset(Vector(consumed))
    assert(StoreOffset.fromJson(legacy.json()).manifests == Vector(consumed))
    val next = stream.latestOffset(legacy, ReadLimit.allAvailable())
    assert(next == StoreBatchOffset(1), s"migrated stream must continue at batch 1, got $next")
    // the planned batch contains ONLY the unconsumed manifest's file
    val parts = stream.planInputPartitions(legacy, next)
    assert(parts.length == 1, s"legacy-consumed manifest must not replay: ${parts.toSeq}")
    // nothing further → offset stays put
    assert(stream.latestOffset(next, ReadLimit.allAvailable()) == StoreBatchOffset(1))
  }

  test("key-range stats skip files at planning time; results unchanged") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmp()
    // range-clustered write: 4 tasks → 4 files with disjoint key ranges
    (1 to 400).map(i => (f"k$i%04d", s"v$i")).toDF("result_key", "payload")
      .repartitionByRange(4, col("result_key"))
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    val allFiles = ContentStore.committedFiles(dir, hconf)
    assert(allFiles.size == 4, s"expected 4 range files, got $allFiles")
    // stats side file recorded bounds for every file
    val manifest = ContentStore.manifestNames(dir, hconf).head
    val stats    = ContentStore.statsForManifest(dir, manifest, hconf)
    assert(stats.keySet == allFiles.toSet)
    // the filtered scan's partition count IS its planned file count
    // (one input partition per surviving file, filters are narrow)
    val store = spark.read.format("graft.sources.ContentStore").option("path", dir).load()
    val point = store.filter(col("result_key") === "k0042")
    assert(point.collect().map(_.getString(1)).toSeq == Seq("v42"))
    assert(point.rdd.getNumPartitions == 1,
      s"point lookup must plan 1 file, planned ${point.rdd.getNumPartitions}")
    // range predicate: the first half of the key space can never need
    // all 4 disjoint-range files
    val range = store.filter(col("result_key") < "k0200")
    assert(range.count() == 199)
    assert(range.rdd.getNumPartitions <= 3,
      s"range scan planned ${range.rdd.getNumPartitions} of 4 files")
    // prefix predicate: 100 contiguous keys
    val prefix = store.filter(col("result_key").startsWith("k03"))
    assert(prefix.count() == 100)
    assert(prefix.rdd.getNumPartitions <= 3)
    // an unfiltered read still sees everything
    assert(store.count() == 400)
  }

  test("runtime filters prune files: API prunes to the covering subset, DPP reaches the scan") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val dir = tmp()
    (1 to 400).map(i => (f"k$i%04d", s"v$i")).toDF("result_key", "payload")
      .repartitionByRange(4, col("result_key"))
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    // API level: a runtime IN-filter must re-plan to only covering files
    val table = new graft.sources.ContentStoreTable(dir)
    val scan = table
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(java.util.Map.of()))
      .build()
    val rf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).toSeq == Seq("result_key"))
    assert(scan.toBatch.planInputPartitions().length == 4)
    rf.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("result_key", Array("k0042", "k0043"))))
    assert(scan.toBatch.planInputPartitions().length == 1,
      "two same-range runtime keys must prune to the one covering file")
    // end to end: a filtered-dim join injects a dynamic pruning
    // subquery into the store scan (reusing the dim broadcast)
    val store = spark.read.format("graft.sources.ContentStore").option("path", dir).load()
    // dim must NOT be a LocalRelation: ConvertToLocalRelation would
    // fold the Filter node away and DPP sees no selective predicate
    val dim = spark.range(1, 401)
      .select(org.apache.spark.sql.functions.format_string("k%04d", col("id")).as("result_key"),
        col("id").as("grp"))
      .filter(col("grp") >= 390)
    val joined = store.join(broadcast(dim), Seq("result_key"))
    assert(joined.count() == 11)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"runtime filter must reach the store scan:\n$plan")
    // the gate query's shape (dim = aggregate + HAVING-style filter
    // over parquet) must inject the same dynamic pruning
    val gate     = graft.operators.Joins.storeRuntimePrunedJoin(tables, tmp())
    val gatePlan = gate.queryExecution.executedPlan.toString
    assert(gate.collect().nonEmpty)
    assert(gatePlan.toLowerCase.contains("dynamicpruning"),
      s"gate join must runtime-prune the store scan:\n$gatePlan")
  }

  test("reported size statistics let the planner broadcast a small store unhinted") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    import spark.implicits._
    val dir = tmp()
    (1 to 50).map(i => (s"k$i", s"v$i")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    val store = spark.read.format("graft.sources.ContentStore").option("path", dir).load()
    val big   = spark.range(100000).select(concat_ws("", lit("k"), col("id")).as("result_key"))
    val joined = big.join(store, Seq("result_key"))
    assert(joined.count() == 50)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small store (real size stats) must broadcast without a hint:\n$plan")
  }

  test("size statistics hold on both sides of the listing threshold") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // estimateStatistics sizes <=64 survivors per-file and larger sets
    // via one data/ listing (the RPC-economy trade); both branches must
    // report real bytes. 70 single-row files forces the listing branch;
    // a stats-pruned read of the same store drops to the per-file one.
    val dir = tmp()
    val df = (1 to 70).map(i => (f"k$i%03d", s"v$i")).toDF("result_key", "payload")
      .repartitionByRange(70, col("result_key")).sortWithinPartitions("result_key")
    df.write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    def sizeOf(d: org.apache.spark.sql.DataFrame): BigInt =
      d.queryExecution.optimizedPlan.stats.sizeInBytes
    val full = spark.read.format("graft.sources.ContentStore").option("path", dir).load()
    val fullSize = sizeOf(full)
    val nFiles = ContentStore.committedFiles(dir).length
    assert(nFiles == 70, s"fixture must span the threshold: $nFiles")
    assert(fullSize > 0 && fullSize < 1000000, s"listing-branch stats must be real bytes: $fullSize")
    // key-range pruning leaves ~1 surviving file -> per-file branch
    val pruned = full.filter(col("result_key") === "k001")
    assert(pruned.count() == 1)
    val prunedSize = sizeOf(pruned)
    assert(prunedSize > 0 && prunedSize < fullSize,
      s"per-file-branch stats must shrink with pruning: $prunedSize vs $fullSize")
  }

  test("bucketed write + bucketedRead round-trips with store-hash bucket ids") {
    import spark.implicits._
    val dir = tmp()
    val rows = (1 to 200).map(i => (s"key$i", s"payload$i"))
    rows.toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore")
      .option("path", dir).option("buckets", 8).mode("append").save()
    val got = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("bucketedRead", 8).load()
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(got.map(t => (t._1, t._2)).toSet == rows.toSet)
    // every row's bucket column is the store hash of its key
    assert(got.forall { case (k, _, b) => b == ContentStore.bucketOf(k, 8) })
    // the layout really is bucketed: each committed file holds one bucket
    assert(ContentStore.committedFiles(dir, hconf)
      .forall(f => graft.sources.ContentStore.bucketOfFile(f).exists(_ < 8)))
    // a non-bucketed read of the same store still sees plain rows
    assert(readBack(dir).size == 200)
  }

  test("bucketing is a recorded layout contract: contradicting writes refuse, the store survives") {
    import spark.implicits._
    // the first bucketed commit records `_buckets`; any later commit
    // that contradicts it — a different count, or an unbucketed write
    // — must fail at the WRITER (before its manifest is visible)
    // instead of silently poisoning every later bucketedRead
    val dir = tmp()
    def write(rows: Seq[(String, String)], buckets: Int): Unit = {
      val w = rows.toDF("result_key", "payload")
        .write.format("graft.sources.ContentStore").option("path", dir).mode("append")
      (if (buckets > 0) w.option("buckets", buckets) else w).save()
    }
    write((1 to 50).map(i => (s"k$i", s"v$i")), buckets = 4)
    assert(ContentStore.recordedBuckets(dir, hconf) == 4)
    def refuses(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t =>
        t.isInstanceOf[IllegalStateException] && t.getMessage.contains("bucketed with n=4")),
        s"expected the layout refusal, got: $e")
    }
    refuses(write(Seq("x" -> "y"), buckets = 8))
    // an OMITTED option ADOPTS the recorded layout (r19 — the
    // dataShards rule applied to buckets: SQL INSERT INTO and
    // streaming writes cannot pass options, and adoption routes their
    // files by the recorded count instead of refusing or poisoning)
    write(Seq("x" -> "y"), buckets = 0)
    assert(ContentStore.committedFiles(dir, hconf)
      .forall(f => graft.sources.ContentStore.bucketOfFile(f).isDefined),
      "an adopted write must still route every file by bucket")
    // the refused commit left no manifest and no data: the store
    // still reads whole, bucketed, with its recorded count
    assert(ContentStore.recordedBuckets(dir, hconf) == 4)
    assert(readBack(dir).size == 51)
    val got = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("bucketedRead", 4).load().count()
    assert(got == 51)
    write((51 to 60).map(i => (s"k$i", s"v$i")), buckets = 4) // matching append still lands
    assert(readBack(dir).size == 61)
  }

  test("storage-partitioned join of two co-bucketed stores plans with zero shuffle") {
    import spark.implicits._
    val dirA = tmp(); val dirB = tmp()
    val left  = (1 to 300).map(i => (s"u$i", s"a$i"))
    val right = (151 to 450).map(i => (s"u$i", s"b$i"))
    left.toDF("result_key", "payload").write.format("graft.sources.ContentStore")
      .option("path", dirA).option("buckets", 4).mode("append").save()
    right.toDF("result_key", "payload").write.format("graft.sources.ContentStore")
      .option("path", dirB).option("buckets", 4).mode("append").save()
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold"   -> "-1",
      // join keys (bucket, result_key) are a SUPERSET of the partition
      // key — co-location still holds (equal keys ⇒ equal bucket), but
      // the exact-match default would reject it
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    GraftSession.withConfs(spark, confs: _*) {
      def store(dir: String) = spark.read.format("graft.sources.ContentStore")
        .option("path", dir).option("bucketedRead", 4).load()
      val a = store(dirA)
      val b = store(dirB).withColumnRenamed("payload", "payload_b")
      val joined = a.join(b, Seq("bucket", "result_key"))
        .select("result_key", "payload", "payload_b")
      val got = joined.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val expected = (151 to 300).map(i => (s"u$i", s"a$i", s"b$i")).toSet
      assert(got == expected, s"${got.size} rows vs ${expected.size}")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle or broadcast:\n$plan")
      // and an aggregate grouping on the partition key is exchange-free too
      val agg = store(dirA).groupBy("bucket").count()
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), s"bucket aggregate must not shuffle:\n$aggPlan")
    }
  }
}
