package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.sources.Tables

/** File-source REPLAY harness: drives the streaming operators through
  * the gate's hash check by re-feeding the stored corpus as a
  * sequence of ordered micro-batches, so each streaming twin
  * (windows, sessions, exactly-once dedup, sequencers, store tails and
  * writers) is checked against the same DuckDB oracle as its batch
  * sibling:
  *
  *   corpus table → K contiguous slice files (controlled names AND
  *   mtimes, so FileStreamSource admits them oldest-first) →
  *   `readStream` + `maxFilesPerTrigger=1` (one slice per micro-batch,
  *   so watermark advancement, state-store merges ACROSS batches, and
  *   Append-mode finalization all genuinely execute) → the streaming
  *   transform under test → sink + checkpoint, drained with
  *   `Trigger.AvailableNow` → read back as a batch DataFrame for the
  *   gate compare.
  *
  * Event replays append two far-future SENTINEL slices (`_flush` rows
  * 30/60 days past the corpus max, negative ids), which land in the
  * final micro-batches: the
  * first pushes the watermark past every real window's end + gap, the
  * second runs one more batch under that watermark so state evicted by
  * it is emitted even under the "watermark updates from the PREVIOUS
  * batch's max event time" rule. Every real window therefore
  * finalizes, the sentinels' own windows never do (their ends exceed
  * the final watermark), and the drained output is exactly the batch
  * aggregation of the corpus — giving the streaming path the SAME
  * exact SQL oracle as its batch twin. Callers filter the sentinel
  * key (`event_type = '_flush'` / `user_id = -1`) off the read-back.
  *
  * This is a GATE harness, not a production source: in production the
  * slices are the files/offsets that arrive over time (Kinesis shards,
  * content-store epochs — see StreamIO), and the same transforms run
  * unchanged. Slicing cost here is one min/max agg + K filtered
  * single-file writes of the test corpus. Every drain runs its query
  * through [[runToEnd]], which states what a drain does to the
  * caller's session.
  */
object StreamReplay {

  /** Events schema pinned for the file stream source (inference is
    * disabled for streaming reads, and must match Tables.events'
    * normalized shape).
    */
  val eventsDdl =
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** Sentinel event_type — never occurs in the corpus. */
  val FlushType = "_flush"

  private val MicrosPerDay = 86400L * 1000000L

  /** Shuffle width pinned for the replays' own streaming queries:
    * stateful operators allocate (and commit) one state-store instance
    * per shuffle partition PER micro-batch, so at gate scale (≤100k
    * rows, 6-8 batches) narrow is faster — measured 8→4 on the
    * slowest replay keys before pinning. Production sizes this to
    * stream throughput at first deploy (fixed by the checkpoint
    * thereafter).
    */
  private val ReplayShuffleWidth = 4

  /** The drain contract: start one streaming query and block until it
    * ends, with the shuffle width narrowed to [[ReplayShuffleWidth]]
    * (never widened) plus any `extraConfs` pinned for the query's
    * lifetime — the query clones the session conf at `start()` — then
    * record its batch count for [[lastBatchCount]]. Every pinned conf
    * is restored exactly ([[graft.GraftSession.withConfs]]), so a
    * replay leaves the caller's session as it found it.
    */
  private def runToEnd(spark: SparkSession, extraConfs: (String, String)*)(
      start: => StreamingQuery
  ): Unit = {
    val widthKey = "spark.sql.shuffle.partitions"
    val width    = math.min(ReplayShuffleWidth, spark.conf.get(widthKey).toInt)
    GraftSession.withConfs(spark, (widthKey -> width.toString) +: extraConfs: _*) {
      val query = start
      query.awaitTermination()
      recordBatchCount(query)
    }
  }

  /** Micro-batch count (data-carrying batches only) of the most recent
    * replay ON THIS THREAD (test telemetry). Counted from
    * `recentProgress` with `numInputRows > 0` rather than the last
    * progress's batchId: AvailableNow can run a trailing no-data batch
    * (which would overcount real data batches), and a ThreadLocal keeps
    * concurrent replays in parallel test runs from clobbering each
    * other's value before the assertion reads it.
    */
  private val lastBatchCountTl: ThreadLocal[Long] = new ThreadLocal[Long] {
    override def initialValue(): Long = -1L
  }
  def lastBatchCount: Long = lastBatchCountTl.get()
  private def recordBatchCount(query: StreamingQuery): Unit = {
    val recent = query.recentProgress
    // recentProgress is a BOUNDED ring (spark.sql.streaming
    // .numRecentProgressUpdates, default 100): a replay running more
    // micro-batches than the cap silently loses its head and would
    // undercount. The counter is spec-only telemetry — the replay's
    // DATA is already complete and correct at this point — so a
    // truncated ring must not fail the replay itself: record the
    // unreliable sentinel (-1, same as "never recorded") and name the
    // cause on stderr; any spec asserting a count then fails loudly
    // with the note pointing at the fix.
    val cap = query.sparkSession.conf
      .getOption("spark.sql.streaming.numRecentProgressUpdates").map(_.toInt).getOrElse(100)
    // a full ring alone doesn't prove truncation: a replay of EXACTLY
    // cap micro-batches fills the ring losslessly. The tell is the
    // batch-id span — lastProgress.batchId + 1 total batches (fresh
    // checkpoints start at 0; every replay here creates one) vs the
    // ring's DISTINCT batch ids, not its length: no-data/idle progress
    // events share a batchId with their batch, so a ring padded by
    // them can evict real entries while totalBatches <= length. Head
    // check as the second belt: a full ring whose oldest entry is not
    // batch 0 provably lost the head. (Residual corner: batch 0
    // emitting BOTH a data and an idle event and losing only the data
    // one passes both tells — acceptable for spec telemetry.)
    val totalBatches = Option(query.lastProgress).map(_.batchId + 1).getOrElse(0L)
    val distinctIds  = recent.iterator.map(_.batchId).toSet.size
    if (recent.length >= cap &&
        (totalBatches > distinctIds || recent.headOption.exists(_.batchId != 0))) {
      System.err.println(
        s"[graft] replay ran >=$cap micro-batches and recentProgress truncated; " +
          "lastBatchCount is unreliable (-1) — raise " +
          "spark.sql.streaming.numRecentProgressUpdates to assert batch counts at this scale")
      lastBatchCountTl.set(-1L)
    } else lastBatchCountTl.set(recent.count(_.numInputRows > 0).toLong)
  }

  /** One temp root per JVM for every replay's slices, checkpoints and
    * drained sinks, removed by a shutdown hook — repeated Verify/Bench
    * runs no longer accumulate orphaned graft-replay-* trees.
    */
  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft-replay")
    sys.addShutdownHook(deleteTree(r))
    r
  }

  private val runCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Run one drain in a fresh run dir: `drain` gets the dir and its
    * checkpoint path, and the checkpoint (offsets + state snapshots,
    * the bulk of a replay's footprint) is deleted once `drain` returns,
    * i.e. once its query committed. The run dir's sinks and stores stay
    * until the JVM shutdown hook — the read-backs are lazy.
    */
  private def inFreshRun[T](drain: (Path, Path) => T): T = {
    val run    = Files.createDirectories(root.resolve(f"run-${runCounter.getAndIncrement()}%04d"))
    val ckpt   = run.resolve("ckpt")
    val result = drain(run, ckpt)
    deleteTree(ckpt)
    result
  }

  /** Drain the streaming DataFrame built by `stream` (given the fresh
    * run dir, for inputs that live next to the sink) to a parquet sink
    * under AvailableNow, and read the sink back.
    */
  private def drainToParquet(spark: SparkSession, extraConfs: (String, String)*)(
      stream: Path => DataFrame
  ): DataFrame =
    inFreshRun { (run, ckpt) =>
      val out = run.resolve("out").toString
      runToEnd(spark, extraConfs: _*)(
        stream(run).writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start())
      spark.read.parquet(out)
    }

  /** One file source over a slice dir, admitting one slice file per
    * micro-batch.
    */
  private def sliceStream(spark: SparkSession, ddl: String, inDir: Path): DataFrame =
    spark.readStream.schema(ddl).option("maxFilesPerTrigger", "1").parquet(inDir.toString)

  /** Slice directories are immutable once built, and most replay keys
    * ask for the SAME slicing of the same corpus (default 4 slices +
    * flush sentinels), so slicing once per (table, sfDir, slices,
    * sentinels) and re-reading across the 17+ q_stream_* gate keys
    * removes ~15 redundant slice builds per Verify/Bench run. Each
    * drain still gets its own checkpoint and sink — only the INPUT
    * files are shared, which is exactly the production shape (many
    * consumers over one arrival log).
    */
  private val sliceCache = new java.util.concurrent.ConcurrentHashMap[String, Path]()

  private val sliceCounter = new java.util.concurrent.atomic.AtomicLong()

  private def cachedSlices(key: String)(build: Path => Unit): Path =
    sliceCache.computeIfAbsent(
      key,
      _ => {
        val dir =
          Files.createDirectories(root.resolve(f"slices-${sliceCounter.getAndIncrement()}%03d"))
        build(dir)
        dir
      }
    )

  /** Drained-sink cache: gate-key FAMILIES that run the SAME streaming
    * pipeline over the same slices (the interval-join mode trio derives
    * from one full-outer drain; A9's notify rows are a filter of A14's
    * sequencer drain) drain once per JVM and read the one sink. The
    * caller-supplied key IS the pipeline identity — callers must never
    * reuse a key across different transforms. Only the SINK is shared;
    * each family still executes its full micro-batch replay once, so
    * the streaming path stays under the oracle.
    */
  private val drainCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[streaming] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val us = Files.walk(p)
      try us.iterator().asScala.toSeq.reverseIterator.foreach(f => Files.deleteIfExists(f))
      finally us.close()
    }

  /** Replay the sf events table through `xform` (a streaming
    * DataFrame transform) and return the drained sink as a batch
    * DataFrame. `slices` micro-batches of real data + 2 sentinel
    * batches.
    */
  def replayEvents(
      spark: SparkSession,
      sfDir: String,
      slices: Int = 4,
      cacheKey: Option[String] = None
  )(
      xform: DataFrame => DataFrame
  ): DataFrame =
    replayEventsMulti(spark, sfDir, slices, Seq(FlushType), 1, cacheKey)(ss => xform(ss.head))

  /** Two-source variant for STREAM-STREAM joins: both streams read the
    * same slice files through independent file sources (their offsets
    * advance in the same admission order, and stream-stream self-join
    * restrictions never apply). `sentinelTypes` lets the sentinels
    * carry event types that PASS the per-side type filters — a
    * filtered-out sentinel would never reach a side's
    * EventTimeWatermark collector, and an outer join only null-pads a
    * row once the watermark on BOTH sides proves no partner can
    * arrive. Sentinel rows keep user_id -1, so join output filters
    * them by key, not type.
    */
  def replayEventsPair(
      spark: SparkSession,
      sfDir: String,
      slices: Int = 4,
      sentinelTypes: Seq[String] = Seq(FlushType),
      cacheKey: Option[String] = None
  )(xform: (DataFrame, DataFrame) => DataFrame): DataFrame =
    replayEventsMulti(spark, sfDir, slices, sentinelTypes, 2, cacheKey)(ss => xform(ss(0), ss(1)))

  /** Documents schema pinned for the file stream source. */
  val documentsDdl =
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

  /** Replay the sf documents table as doc_id-contiguous micro-batches.
    * For STATELESS streaming transforms (stream-static joins,
    * per-row scoring): no watermark is involved, so no sentinels —
    * the drained sink is complete once every slice is processed.
    */
  def replayDocuments(spark: SparkSession, sfDir: String, slices: Int = 4)(
      xform: DataFrame => DataFrame
  ): DataFrame = {
    val inDir = cachedSlices(s"documents|$sfDir|$slices") { dir =>
      val docs = Tables(spark, sfDir).documents
        .select("doc_id", "text", "lang", "source", "n_chars")
      writeRangeSlices(dir, docs, col("doc_id"), slices): Unit
    }
    drain(spark, inDir, documentsDdl, 1)(ss => xform(ss.head))
  }

  /** Embeddings schema pinned for the file stream source. */
  val embeddingsDdl = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"

  /** Replay the sf embeddings table as vec_id-contiguous micro-batches
    * through a foreachBatch sink: `perBatch` maps each streamed batch
    * (a genuine batch DataFrame, so windows/ranks are legal) and its
    * result appends to the drained output. The foreachBatch form is
    * the idiomatic Structured Streaming answer for per-batch logic
    * that needs full batch semantics — here, continuous top-k
    * similarity search.
    */
  def replayEmbeddings(spark: SparkSession, sfDir: String, slices: Int = 4)(
      perBatch: DataFrame => DataFrame
  ): DataFrame = {
    val inDir = cachedSlices(s"embeddings|$sfDir|$slices") { dir =>
      val emb = Tables(spark, sfDir).embeddings.select("vec_id", "embedding", "label")
      writeRangeSlices(dir, emb, col("vec_id"), slices): Unit
    }
    drainForeachBatch(spark, inDir, embeddingsDdl)((batch, _) => perBatch(batch))
  }

  /** Replay the documents corpus as doc_id % slices micro-batches
    * through a foreachBatch sink that ALSO receives the batch id —
    * for per-epoch monitors whose output is keyed by arrival epoch.
    * Membership is a pure row function (the queue-payload rule), so a
    * SQL oracle can replay each epoch's exact membership; with a
    * fresh checkpoint and mtime-ordered admission, batchId == slice
    * index (the replayQueueBatches / docstore precedent).
    */
  def replayDocumentsBatches(spark: SparkSession, sfDir: String, slices: Int = 4)(
      perBatch: (DataFrame, Long) => DataFrame
  ): DataFrame =
    drainForeachBatch(spark, documentsModSlices(spark, sfDir, slices), documentsDdl)(perBatch)

  /** The doc_id % slices slice set behind [[replayDocumentsBatches]]
    * (cached per JVM) — exposed for the restart-recovery spec, which
    * needs to drive [[drainForeachBatchAt]] against its own dirs.
    */
  private[graft] def documentsModSlices(spark: SparkSession, sfDir: String, slices: Int): Path =
    cachedSlices(s"docmod|$sfDir|$slices") { dir =>
      val docs = Tables(spark, sfDir).documents
        .select("doc_id", "text", "lang", "source", "n_chars")
      for (i <- 0 until slices)
        writeSlice(dir, i, docs.filter(pmod(col("doc_id"), lit(slices)) === i))
    }

  /** Shared foreachBatch drain: stream the slice files one per
    * micro-batch, hand each batch (plus its id) to `perBatch`, and
    * read the union of per-batch outputs back. Each batch writes its
    * OWN subdirectory in overwrite mode — a crash between the sink
    * write and the checkpoint commit replays that batch on restart,
    * and the overwrite makes the replay idempotent where a flat
    * append would duplicate the batch's rows (the ContentStore
    * epoch-keyed exactly-once rule, applied to the drain harness;
    * StreamingSpec proves it by killing a drain mid-batch and
    * resuming). The checkpoint is deleted only after a successful
    * drain — a failed run stays resumable via
    * [[drainForeachBatchAt]]; the JVM-exit root cleanup bounds the
    * leak if nothing resumes it.
    */
  private def drainForeachBatch(spark: SparkSession, inDir: Path, ddl: String)(
      perBatch: (DataFrame, Long) => DataFrame
  ): DataFrame =
    inFreshRun((run, ckpt) =>
      drainForeachBatchAt(spark, inDir, ddl, run.resolve("out").toString, ckpt)(perBatch))

  /** [[drainForeachBatch]] against caller-owned out/checkpoint dirs —
    * the resumable form (re-invoking with the same dirs continues
    * from the last committed batch).
    */
  private[graft] def drainForeachBatchAt(
      spark: SparkSession,
      inDir: Path,
      ddl: String,
      outDir: String,
      ckpt: Path
  )(perBatch: (DataFrame, Long) => DataFrame): DataFrame = {
    runToEnd(spark)(
      sliceStream(spark, ddl, inDir).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // per-batch dir (no '=': a partition-style name would add an
          // inferred column to the read-back schema)
          perBatch(batch, id).write.mode("overwrite").parquet(s"$outDir/b$id")
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start())
    spark.read.option("recursiveFileLookup", "true").parquet(outDir)
  }

  /** Topic-message schema pinned for the file stream source (A14's
    * sequencer input).
    */
  val topicsDdl = "topic_id LONG, message STRING, n_devices LONG, page_size LONG"

  /** Replay hourly per-user device digests as the A14 sequencer's
    * topic-message stream: topic = user, one message per active hour,
    * n_devices = that hour's event count, page_size 10. The message
    * string is the hour's epoch seconds (fixed-width, so the
    * sequencer's within-batch sort by message IS chronological order),
    * and slices are hour-contiguous — together they pin the per-topic
    * total order the oracle replays. No watermark, no sentinels: the
    * sequencer emits every page as its message is processed.
    */
  def replayTopicMessages(
      spark: SparkSession,
      sfDir: String,
      slices: Int = 4,
      cacheKey: Option[String] = None
  )(
      xform: DataFrame => DataFrame
  ): DataFrame = {
    val inDir = cachedSlices(s"topics|$sfDir|$slices") { dir =>
      val msgs = Tables(spark, sfDir).events
        .groupBy(col("user_id").as("topic_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_devices"))
        .select(
          col("topic_id"),
          unix_timestamp(col("hr")).cast("string").as("message"),
          col("n_devices"),
          lit(10L).as("page_size")
        )
      writeRangeSlices(dir, msgs, col("message").cast("long"), slices): Unit
    }
    drain(spark, inDir, topicsDdl, 1, cacheKey)(ss => xform(ss.head))
  }

  /** Payloads schema pinned for the file stream source (A15's queue
    * sink input).
    */
  val payloadsDdl = "topic_id LONG, device_id LONG, payload_b64 STRING"

  /** Replay the device fan-out payloads through the A15
    * [[StreamIO.batchedQueueSink]] (SQS SendMessageBatch groups of 10,
    * lpage.go:135-146) and read the emitted JSON batch lines back.
    *
    * Micro-batch membership must be a pure row function for the SQL
    * oracle to replay it, so slice i = rows with device_id % slices
    * == i (the sink is stateless — any partitioning works, unlike the
    * time-contiguity the watermark replays need). With a fresh
    * checkpoint and mtime-ordered admission, foreachBatch's batchId is
    * exactly the slice index, so the oracle recomputes `micro_batch`
    * as device_id % slices. collect_list order inside an entry array
    * is arrival-dependent — callers canonicalize with sort_array on
    * the read-back.
    */
  def replayQueueBatches(
      spark: SparkSession,
      sfDir: String,
      message: String,
      slices: Int = 4,
      batchSize: Int = 10
  ): DataFrame = {
    // message participates in the payload content (base64 bodies), so it
    // must participate in the cache key — same sfDir/slices with a
    // different message is a different slice set
    val inDir = cachedSlices(s"payloads|$sfDir|$slices|${message.hashCode}") { dir =>
      val pay = graft.operators.Paging.queuePayloads(Tables(spark, sfDir), message)
      for (i <- 0 until slices)
        writeSlice(dir, i, pay.filter(pmod(col("device_id"), lit(slices)) === i))
    }
    inFreshRun { (run, ckpt) =>
      val outDir = run.resolve("out").toString
      runToEnd(spark)(
        StreamIO.batchedQueueSink(
          sliceStream(spark, payloadsDdl, inDir), outDir, ckpt.toString, batchSize,
          availableNow = true))
      StreamIO.readQueueBatches(spark, outDir)
    }
  }

  /** A18's STREAMING_WRITE leg under the gate: stream the documents
    * corpus (doc_id % slices micro-batches — the SQL-replayable
    * membership rule) into a FRESH ContentStore through the DSv2
    * streaming writer, then read each published epoch manifest back as
    * a pinned-snapshot read. The surface (epoch, result_key, payload)
    * pins the commit protocol itself: an epoch's manifest must list
    * exactly its micro-batch's rows (stage+rename task commits, atomic
    * manifest publication, epoch-keyed exactly-once), and the
    * manifest-pinned read must reproduce that exact file set. The
    * per-manifest loop is driver-side but bounded by #epochs = slices
    * + the final empty batch — manifest COUNT, never data volume.
    */
  def replayDocumentsToStore(spark: SparkSession, sfDir: String, slices: Int = 4): DataFrame = {
    val inDir = cachedSlices(s"docstore|$sfDir|$slices") { dir =>
      val docs = Tables(spark, sfDir).documents.select(
        concat(lit("doc-"), col("doc_id")).as("result_key"),
        col("text").as("payload"),
        pmod(col("doc_id"), lit(slices)).as("slice")
      )
      for (i <- 0 until slices)
        writeSlice(dir, i, docs.filter(col("slice") === i).drop("slice"))
    }
    val store = inFreshRun { (run, ckpt) =>
      val store = run.resolve("store").toString
      runToEnd(spark)(
        sliceStream(spark, "result_key STRING, payload STRING", inDir).writeStream
          .format("graft.sources.ContentStore")
          .option("path", store)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow())
          .start())
      store
    }
    // one committed manifest per epoch, named epoch-<queryId>-<epochId>;
    // pin the read to each manifest and tag rows with its epoch id
    graft.sources.ContentStore
      .snapshotManifests(store)
      .map { m =>
        val epoch = m.substring(m.lastIndexOf('-') + 1).toLong
        spark.read
          .format("graft.sources.ContentStore")
          .option("path", store)
          .option("manifests", m)
          .load()
          .select(lit(epoch).as("epoch"), col("result_key"), col("payload"))
      }
      .reduce(_.unionAll(_))
  }

  /** C12b's STREAMING leg — continuous raw-media ingestion: the same
    * one-.bin-per-doc fixture directory, consumed by a streaming
    * `binaryFile` file-source query in bounded micro-batches
    * (`maxFilesPerTrigger` sized for ~`batches` triggers) and drained
    * to a parquet sink through the identical typed-metadata
    * projection. The drained metadata must equal the batch ingest
    * exactly — file-source listing/admission, per-batch binary reads,
    * and the sink's exactly-once commit all under the hash. This is
    * the media-drop pattern: a landing directory that keeps receiving
    * blobs, with the catalog row extracted en route.
    *
    * MEASURED (r13, sf0.1 = 5000 files): the drain costs ~11 s almost
    * independent of batch count (1 vs 4 batches: 12.2 vs 10.8 s) while
    * the batch scan of the same files is ~2 s — the file-stream
    * source's per-file admission (listing snapshots + offset/metadata
    * log entries per file) costs ~2 ms/file. That is the STREAMING
    * sibling of the reference's one-object-per-record anti-pattern: a
    * production media drop at 10⁹ blobs batches arrivals into
    * archives/manifests (the ContentStore path, A18) rather than
    * letting per-file admission dominate; this drain keeps the
    * raw-directory shape because proving THAT path correct is its job.
    */
  def replayBinaryIngest(spark: SparkSession, sfDir: String, batches: Int = 4): DataFrame = {
    val t = Tables(spark, sfDir)
    // the landing dir is the JVM-shared fixture (pure function of the
    // corpus) — the batch key, this drain, and repeat bench iterations
    // all read one 5000-file write
    val bin     = graft.operators.Multimodal.sharedBinaryFixture(t)
    val nFiles  = t.documents.count()
    val perTrig = math.max(1L, (nFiles + batches - 1) / batches)
    // Each micro-batch re-resolves its admitted files as an
    // InMemoryFileIndex whose ROOTS are the batch's individual file
    // paths; past parallelPartitionDiscoveryThreshold (default 32)
    // that listing becomes a Spark job with one task per file —
    // measured ~2 s per batch at 1,250 files/batch, pure scheduling
    // overhead for stat calls that take microseconds each. Keep the
    // per-batch listing driver-side up to the batch size: a driver
    // loop over K paths beats a K-task job until K is far beyond any
    // sane files-per-trigger (and at real scale the archive-granularity
    // drain below is the documented fix for per-file admission).
    val listKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val listing = math.max(spark.conf.get(listKey, "32").toInt, (perTrig + 1).min(100000L).toInt)
    drainToParquet(spark, listKey -> listing.toString)(_ =>
      graft.operators.Multimodal.binaryMetaProjection(
        spark.readStream
          .format("binaryFile")
          .schema(
            org.apache.spark.sql.types.StructType.fromDDL(
              "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
            )
          )
          .option("pathGlobFilter", "*.bin")
          .option("maxFilesPerTrigger", perTrig.toString)
          .load(bin)))
  }

  /** C12c's STREAMING leg — the ARCHIVE-granularity media drop: the
    * same blobs as [[replayBinaryIngest]], but landed as ContentStore
    * archives (~[[graft.operators.Multimodal.BlobsPerArchive]] blobs
    * per data file, 4 manifest epochs) and TAILED one archive per
    * micro-batch through the identical typed-metadata projection.
    * Equal drained metadata = the per-file anti-pattern's documented
    * fix, demonstrated: admission cost is paid per archive, not per
    * blob.
    *
    * MEASURED (r14, sf0.1 = 5000 blobs, same bench run): this drain
    * costs 2.3 s end-to-end — 20 admitted archives (5 per epoch),
    * ~0.45 ms/blob ALL-IN — where the per-file drain pays 12.2 s
    * (~2.4 ms/file for admission alone): ~5× from K=256 batching at
    * gate scale, and the archive count (not the blob count) is now
    * what admission scales with — at production K (10⁴-10⁵ blobs per
    * 100 MB-1 GB archive) admission amortizes to noise.
    */
  def replayArchiveIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val store = graft.operators.Multimodal.sharedArchiveStore(Tables(spark, sfDir))
    drainToParquet(spark)(_ =>
      graft.operators.Multimodal.archiveMetaProjection(
        spark.readStream
          .format("graft.sources.ContentStore")
          .option("path", store)
          .option("maxFilesPerTrigger", "1")
          .load()))
  }

  /** A18's MICRO_BATCH_READ leg under the gate — the read-side twin of
    * [[replayDocumentsToStore]]: K batch writes publish K manifests
    * into a fresh store, then a streaming query TAILS the manifest log
    * (`maxFilesPerTrigger=1` → whole-manifest admission, one per
    * micro-batch) and drains to a parquet sink. The drained corpus
    * must equal the documents table exactly — offsets, manifest
    * admission order, per-batch file reads, and the sink's exactly-
    * once commit all under the hash.
    */
  def replayStoreTail(spark: SparkSession, sfDir: String, writes: Int = 4): DataFrame = {
    val docs = Tables(spark, sfDir).documents.select(
      concat(lit("doc-"), col("doc_id")).as("result_key"),
      col("text").as("payload"),
      pmod(col("doc_id"), lit(writes)).as("slice")
    )
    drainToParquet(spark) { run =>
      val store = run.resolve("store").toString
      for (i <- 0 until writes)
        docs
          .filter(col("slice") === i)
          .drop("slice")
          .write
          .format("graft.sources.ContentStore")
          .option("path", store)
          .mode("append")
          .save()
      spark.readStream
        .format("graft.sources.ContentStore")
        .option("path", store)
        .option("maxFilesPerTrigger", "1")
        .load()
    }
  }

  /** The COLUMNAR store's MICRO_BATCH_READ leg under the gate — the
    * C22f/B79 asset format gaining A18's tail: K
    * [[graft.sources.ParquetEpochs.append]] epochs publish the typed
    * documents corpus into a fresh columnar store, then a streaming
    * query tails it through `graft.sources.ColumnarStore`
    * (`maxFilesPerTrigger=1` → whole-manifest admission) and drains to
    * a parquet sink. The drained corpus must equal the table exactly —
    * the same contract as `q_stream_store_tail`, with the per-batch
    * read now the vectorized parquet kernel and the row schema the
    * store's recorded `_schema` (long/string/long columns, not the K-V
    * string pair).
    */
  def replayColumnarTail(
      spark: SparkSession,
      sfDir: String,
      writes: Int = 4,
      columns: Option[String] = None,
      keyRange: Option[(String, Long, Long)] = None
  ): DataFrame = {
    // the epoch-store INPUT fixture is immutable once published and
    // identical for every tail variant with the same layout (the plain
    // and pruned tails read the writer's own layout; the ranged tail
    // needs range-clustered epochs) — build it once per (corpus,
    // writes, layout) per JVM, like [[cachedSlices]]: only the input
    // store is shared, each drain still runs its own full micro-batch
    // replay with a fresh checkpoint and sink
    val layout = if (keyRange.isDefined) "ranged" else "plain"
    val store = cachedSlices(s"colstore|$sfDir|$writes|$layout") { dir =>
      val docs = Tables(spark, sfDir).documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      for (i <- 0 until writes) {
        val slice = docs.filter(pmod(col("doc_id"), lit(writes)) === i)
        // the ranged tail's fixture range-clusters each epoch (the B65b
        // write discipline) so the keyRange options have bounds to prune
        // against; the plain tail keeps the writer's own layout
        graft.sources.ParquetEpochs.append(
          keyRange.fold(slice)(_ =>
            slice.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")),
          dir.toString)
      }
    }.toString
    drainToParquet(spark) { _ =>
      val reader = spark.readStream
        .format("graft.sources.ColumnarStore")
        .option("path", store)
        .option("maxFilesPerTrigger", "1")
      val withCols = columns.fold(reader)(c => reader.option("columns", c))
      val loaded = keyRange.fold(withCols) { case (c, lo, hi) =>
        withCols.option("keyRangeColumn", c)
          .option("keyRangeLo", lo.toString).option("keyRangeHi", hi.toString)
      }.load()
      // keyRange is an I/O option, not a predicate (stats are
      // file-granular): the consumer composes its OWN filter, which
      // restores exactness over the covering files' out-of-range rows
      keyRange.fold(loaded) { case (c, lo, hi) =>
        loaded.where(col(c).between(lit(lo), lit(hi)))
      }
    }
  }

  /** The COLUMNAR store's STREAMING-WRITE leg under the gate — the
    * write-side twin of [[replayColumnarTail]] and the typed sibling
    * of [[replayDocumentsToStore]]: the typed documents corpus streams
    * from time-ordered slice files (one per micro-batch) through
    * [[graft.sources.ParquetEpochs.streamingAppend]] into a fresh
    * columnar store; each published epoch manifest is then read back
    * PINNED and must list exactly its micro-batch's rows — the
    * foreachBatch epoch-commit protocol itself under the hash.
    */
  def replayColumnarWrite(spark: SparkSession, sfDir: String, slices: Int = 4): DataFrame = {
    val inDir = cachedSlices(s"docstore-typed|$sfDir|$slices") { dir =>
      val docs = Tables(spark, sfDir).documents.select(
        col("doc_id"), col("lang"), col("n_chars"), col("text"),
        pmod(col("doc_id"), lit(slices)).as("slice")
      )
      for (i <- 0 until slices)
        writeSlice(dir, i, docs.filter(col("slice") === i).drop("slice"))
    }
    val store = inFreshRun { (run, ckpt) =>
      val store = run.resolve("store").toString
      runToEnd(spark)(
        graft.sources.ParquetEpochs.streamingAppend(
          sliceStream(spark, "doc_id LONG, lang STRING, n_chars LONG, text STRING", inDir),
          store, ckpt.toString, availableNow = true))
      store
    }
    // one committed manifest per epoch, named epoch-pq-<writer>-<id>;
    // pin the read to each manifest and tag rows with its epoch id
    graft.sources.ParquetEpochs
      .snapshot(store)
      .map { m =>
        val epoch = m.substring(m.lastIndexOf('-') + 1).toLong
        graft.sources.ParquetEpochs
          .read(spark, store, Seq(m))
          .select(lit(epoch).as("epoch"), col("doc_id"), col("lang"), col("n_chars"), col("text"))
      }
      .reduce(_.unionAll(_))
  }

  /** B82c: STREAMING UPSERT (CDC apply) under the gate — the
    * [[graft.sources.ParquetEpochs.streamingUpsert]] MERGE loop over a
    * CDC-shaped slice sequence: slices 0..3 deliver each doc's
    * original row (doc_id % 4 routing), and the LAST slice
    * RE-DELIVERS the slice-0 cohort with a corrected lang tag — so
    * the store's final state must be last-version-per-key: the
    * corrected cohort at 'xx', everyone else original. Slice files
    * admit one per micro-batch in name order, so arrival order (and
    * therefore the winner) is deterministic under the hash.
    */
  def replayStreamingUpsert(spark: SparkSession, sfDir: String, slices: Int = 4): DataFrame = {
    val inDir = cachedSlices(s"docstore-cdc|$sfDir|$slices") { dir =>
      val docs = Tables(spark, sfDir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(col("doc_id"), lit(slices)).as("slice"))
      for (i <- 0 until slices) {
        val original = docs.filter(col("slice") === i).drop("slice")
        val batch =
          if (i == slices - 1)
            original.unionAll(
              docs.filter(col("slice") === 0).drop("slice")
                .withColumn("lang", lit("xx")))
          else original
        writeSlice(dir, i, batch)
      }
    }
    val store = inFreshRun { (run, ckpt) =>
      val store = run.resolve("store").toString
      runToEnd(spark)(
        graft.sources.ParquetEpochs.streamingUpsert(
          sliceStream(spark, "doc_id LONG, lang STRING, n_chars LONG", inDir),
          store, "doc_id", ckpt.toString, availableNow = true,
          clusterBy = Some(("doc_id", ReplayShuffleWidth))))
      store
    }
    graft.sources.ParquetEpochs
      .read(spark, store, graft.sources.ParquetEpochs.snapshot(store))
      .orderBy("doc_id")
  }

  /** C22k: STREAMING near-dup COMPONENT maintenance — the C22i merge
    * run per micro-batch, which is the reference's consumer shape made
    * literal (persistent state updated per event batch,
    * lambda-count/lcount.go:206-237): documents arrive as doc_id %
    * slices micro-batches (disjoint ids — the C22 admission contract)
    * into TWO virgin store assets, and each batch (1) MERGES its edges
    * into the maintained labels against the pins of every EARLIER
    * batch, then (2) appends its own signatures so later batches can
    * see edges into it. Batch 0 merges into empty pins — the
    * self-bootstrapping case [[graft.operators.Dedup.mergeDeltaComponents]]
    * documents — so no offline base build ever runs; the whole
    * component state is stream-maintained from nothing.
    *
    * Exactly-once without a consumed-log: both per-batch appends use
    * EPOCH-KEYED manifest names (`comp-<id>` / `sig-<id>`, the C22h
    * discipline — first-write-wins makes a crash-replayed batch
    * converge), and the pins for batch N are DERIVED from the manifest
    * names themselves (every `sig-*`/`comp-*` with index < N), never
    * from driver memory — a restarted writer reconstructs exactly the
    * pre-batch view, excluding its own crashed batch's appends. The
    * drained sink is the patch-epoch stream read back from the store;
    * min(component) per doc over all patches IS the maintained label
    * (the monotonicity invariant), and must equal batch C2c over the
    * whole corpus — the shared recursive-CTE oracle, verbatim.
    */
  def replayComponentMaintenance(
      spark: SparkSession,
      sfDir: String,
      tau: Double,
      slices: Int = 4
  ): DataFrame = {
    val inDir = documentsModSlices(spark, sfDir, slices)
    val drained = inFreshRun((run, ckpt) =>
      drainForeachBatchAt(spark, inDir, documentsDdl, run.resolve("out").toString, ckpt)(
        componentMaintenanceBatch(
          spark, run.resolve("sig").toString, run.resolve("state").toString, tau)))
    drained.groupBy("doc_id").agg(min(col("component")).as("component"))
  }

  /** One micro-batch of the C22k loop — factored so the crash-resume
    * spec can drive it through [[drainForeachBatchAt]] with an
    * injected failure. The pins for batch N are DERIVED from the
    * manifest names as snapshot MINUS this batch's own (and any later)
    * epoch names: on a crash replay the batch's already-committed
    * `comp-<N>`/`sig-<N>` epochs are excluded, so the re-run computes
    * against its exact pre-batch view and its re-appends lose the
    * manifest rename idempotently — while everything ELSE in the
    * snapshot rides along, which is what keeps the loop correct under
    * store maintenance: an OPTIMIZE between batches folds old epochs
    * into a `compact-*` manifest, and a prefix-match pin derivation
    * would silently drop ALL prior state at the next batch (the
    * subtraction form keeps it). Maintenance during the CRASH WINDOW
    * must not fold an in-flight batch's own epoch — run compaction
    * with `keepLast ≥ 1` (its parameter exists for exactly this), or
    * quiesce the writer; ComponentStateSpec pins the between-batches
    * case.
    */
  private[graft] def componentMaintenanceBatch(
      spark: SparkSession,
      sigStore: String,
      stateStore: String,
      tau: Double
  )(batch: DataFrame, bid: Long): DataFrame = {
    def pinsFor(names: Seq[String], prefix: String): Seq[String] =
      names.filterNot(n =>
        n.startsWith(prefix) &&
          n.stripPrefix(prefix).forall(_.isDigit) &&
          n.stripPrefix(prefix).toLong >= bid)
    val sigPins   = pinsFor(graft.sources.ParquetEpochs.snapshot(sigStore), "sig-")
    val statePins = pinsFor(graft.sources.ParquetEpochs.snapshot(stateStore), "comp-")
    // ONE shingle+minhash pass per batch (r22): the merge's edge
    // derivation and the signature append both consume the same
    // indexRowsOn(batch) — computing it twice doubled the dominant
    // per-batch map cost at any scale
    val indexRows = graft.operators.Dedup.indexRowsOn(spark, batch).localCheckpoint()
    val patch = graft.operators.Dedup.mergeDeltaComponents(
      spark, batch, sigStore, sigPins, stateStore, statePins, tau,
      manifestName = Some(f"comp-$bid%05d"),
      precomputedIndexRows = Some(indexRows))
    graft.operators.Dedup.writeSignatureIndexColumnarRows(
      indexRows, sigStore, Some(f"sig-$bid%05d")): Unit
    graft.operators.Dedup.freeMaterialized(indexRows)
    graft.sources.ParquetEpochs.read(spark, stateStore, Seq(patch))
  }

  private def replayEventsMulti(
      spark: SparkSession,
      sfDir: String,
      slices: Int,
      sentinelTypes: Seq[String],
      nSources: Int,
      cacheKey: Option[String] = None
  )(xform: Seq[DataFrame] => DataFrame): DataFrame = {
    val inDir = cachedSlices(s"events|$sfDir|$slices|${sentinelTypes.mkString(",")}") { dir =>
      val ev = Tables(spark, sfDir).events
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val maxUs = writeRangeSlices(dir, ev, unix_micros(col("ts")), slices)
      // sentinel slices: see scaladoc — two, so the second batch runs
      // under the watermark the first advanced; one row per sentinel
      // type so per-side type filters still see a watermark carrier
      for ((days, i) <- Seq(30L, 60L).zipWithIndex) {
        val ts       = maxUs + days * MicrosPerDay
        val sentinel = sentinelTypes.zipWithIndex
          .map { case (tpe, j) =>
            spark
              .range(1)
              .select(
                lit(-1L - i * sentinelTypes.size - j).as("event_id"),
                timestamp_micros(lit(ts)).as("ts"),
                lit(-1L).as("user_id"),
                lit(tpe).as("event_type"),
                lit(0.0).as("value"),
                lit("{}").as("props")
              )
          }
          .reduce(_.unionAll(_))
        writeSlice(dir, slices + i, sentinel)
      }
    }

    drain(spark, inDir, eventsDdl, nSources, cacheKey)(xform)
  }

  /** Start `nSources` independent file sources over the slice dir,
    * run the transform, drain to parquet, read back — once per JVM
    * when a `cacheKey` names the pipeline (see [[drainCache]]).
    */
  private def drain(
      spark: SparkSession,
      inDir: Path,
      schemaDdl: String,
      nSources: Int,
      cacheKey: Option[String] = None
  )(xform: Seq[DataFrame] => DataFrame): DataFrame = {
    def once(): DataFrame =
      drainToParquet(spark)(_ => xform(Seq.fill(nSources)(sliceStream(spark, schemaDdl, inDir))))
    cacheKey.fold(once())(key => drainCache.computeIfAbsent(key, _ => once()))
  }

  /** Write `df` as `slices` key-contiguous slice files: slice i holds
    * `key` in [min + i·span/K, min + (i+1)·span/K), the last slice is
    * open above. Contiguity (not equal row counts) is what matters, so
    * the bounds come from one min/max agg, never a global sort.
    * Returns the key's maximum.
    */
  private def writeRangeSlices(dir: Path, df: DataFrame, key: Column, slices: Int): Long = {
    val bounds = df.agg(min(key), max(key)).head()
    val lo0    = bounds.getLong(0)
    val span   = math.max(1L, bounds.getLong(1) - lo0)
    for (i <- 0 until slices) {
      val lo = lo0 + span * i / slices
      val hi = lo0 + span * (i + 1) / slices
      writeSlice(dir, i, df.filter(if (i == slices - 1) key >= lo else key >= lo && key < hi))
    }
    bounds.getLong(1)
  }

  /** Write one slice as a single parquet file with a deterministic
    * name AND mtime: FileStreamSource orders admitted files by
    * modification time, so epoch-spaced mtimes (one minute apart, far
    * in the past) pin the micro-batch order regardless of how fast the
    * writes complete.
    */
  private[graft] def writeSlice(inDir: Path, i: Int, df: DataFrame): Unit = {
    val stage = inDir.resolve(f"_stage-$i%04d")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val listing = Files.list(stage)
    val part =
      try
        listing
          .filter(p => p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet"))
          .findFirst()
          .orElseThrow(() => new IllegalStateException(s"no part file in $stage"))
      finally listing.close()
    val dest = inDir.resolve(f"slice-$i%04d.parquet")
    Files.move(part, dest)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(1000000000000L + i * 60000L))
    deleteTree(stage)
  }
}
