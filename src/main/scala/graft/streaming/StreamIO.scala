package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Source/sink adapters for the reference's I/O surface, re-expressed
  * for Spark's execution model.
  *
  * | reference                          | here                               |
  * | ---------------------------------- | ---------------------------------- |
  * | Kinesis producer (kinesis_stream/main.go:24-37) | [[mathProblemStream]] rate-source envelope stream |
  * | S3 content-addressed put (adder-labma/adder.go:58-76) | [[contentAddressedSink]] key-sorted parquet per micro-batch |
  * | SQS SendMessageBatch of 10 (lambda_page/lpage.go:135-146) | [[batchedQueueSink]] fixed-size JSON batch lines |
  *
  * The reference writes ONE S3 object PER RECORD — at 100 TB that is
  * billions of tiny puts, the canonical small-object anti-pattern. The
  * scalable translation keeps the content-addressed KEY (a column) but
  * stores each micro-batch as key-sorted parquet: writes are batched
  * columnar appends (one file per batch at small volume), and a lookup
  * by key skips row groups on parquet's min/max statistics.
  */
object StreamIO {

  /** Producer twin of kinesis_stream/main.go: an unbounded stream of
    * base64(JSON {Num1,Num2}) envelopes from the rate source.
    * Deterministic in `value` (not wall-clock) so downstream content
    * keys are replay-stable.
    */
  def mathProblemStream(spark: SparkSession, rowsPerSecond: Int = 100): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        col("value").cast("string").as("partition_key"),
        base64(
          to_json(
            struct(
              pmod(col("value"), lit(100)).as("Num1"),
              pmod(col("value") * 7 + 3, lit(100)).as("Num2")
            )
          ).cast("binary")
        ).as("data")
      )

  /** S3-analog sink: stream rows into parquet, one `b<batchId>`
    * directory per micro-batch, with a `key_prefix` column holding the
    * first `prefixChars` hex chars of `result_key`'s digest (the same
    * fan-out trick S3 key design uses). Rows are clustered by
    * `key_prefix` and sorted by (`key_prefix`, `result_key`) inside
    * each file, so a key or prefix lookup prunes on parquet's min/max
    * statistics rather than on directories. A batch dir holds one file
    * per post-shuffle partition — one at small volume, more only when
    * the batch is large — never one per prefix: each file a task
    * creates costs a commit (a PUT on S3) whatever its size.
    *
    * Exactly-once: the parquet commit protocol dedups TASK retries,
    * and each micro-batch owns its own overwrite-mode subdirectory so
    * a BATCH replay after a crash-restart (sink write done, checkpoint
    * commit lost) overwrites instead of double-appending — the same
    * rule as the queue sink and the drain harness. Read the output
    * back with [[readContentAddressed]].
    */
  def contentAddressedSink(
      answered: DataFrame,
      outDir: String,
      checkpoint: String,
      availableNow: Boolean = false,
      prefixChars: Int = 2
  ): StreamingQuery = {
    val base = answered.writeStream
    (if (availableNow) base.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else base)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // strip the literal producer prefix only — md5 hex contains a-f,
        // so a greedy [a-z-]+ strip would also eat leading hex letters
        // of the digest and collapse the 256 prefixes to ~160
        batch
          .withColumn(
            "key_prefix",
            substring(regexp_replace(col("result_key"), "^(add|multi)-", ""), 1, prefixChars)
          )
          // cluster by prefix so each prefix's rows land in one task,
          // then sort so every file is ordered by key: a prefix or key
          // filter then prunes row groups on min/max statistics
          .repartition(col("key_prefix"))
          .sortWithinPartitions("key_prefix", "result_key")
          .write
          .mode("overwrite")
          .parquet(s"$outDir/b$batchId")
      }
      .start()
  }

  /** Read a [[contentAddressedSink]] output dir: per-batch `b<id>`
    * subdirectories, read together in ONE parquet scan, so a filter on
    * `key_prefix` or `result_key` is pushed into that scan. Batch dirs
    * of the older prefix-partitioned layout (`key_prefix=<p>`
    * subdirectories) cannot share the scan: a root with such a dir
    * and any other batch dir fails partition discovery with
    * CONFLICTING_DIRECTORY_STRUCTURES. The driver-side dir listing is
    * bounded by BATCH COUNT, never data volume — the content store's
    * per-manifest-loop class.
    */
  def readContentAddressed(
      spark: SparkSession,
      outDir: String,
      schemaDdl: Option[String] = None
  ): DataFrame = {
    import org.apache.hadoop.fs.Path
    def reader = schemaDdl.fold(spark.read)(s => spark.read.schema(s))
    // Hadoop FileSystem listing so hdfs://, s3a://, and file: URIs all
    // work — driver-local java.io.File would only see the local disk
    val root = new Path(outDir)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a b<id> dir with no parquet part files (only _SUCCESS, as a
    // row-less partitioned write leaves) would fail schema inference,
    // so such dirs are skipped; they carry no rows either way
    def hasParquet(p: Path): Boolean = {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext()) found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    val rootExists = fs.exists(root)
    // "root exists with no committed batches" (a sink that hasn't
    // fired) and "root does not exist" (likely a typo'd/misconfigured
    // outDir) both shape an empty result when a schema is supplied,
    // but only the former is silent — the latter is named on stderr so
    // a misconfiguration can't masquerade as an empty sink
    if (!rootExists && schemaDdl.isDefined)
      System.err.println(
        s"[StreamIO] readContentAddressed: root path $outDir does not exist — " +
          "returning an empty frame; check the sink's outDir if a committed sink was expected"
      )
    val dirs =
      (if (rootExists) fs.listStatus(root) else Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(s => s.isDirectory && s.getPath.getName.matches("b\\d+") && hasParquet(s.getPath))
        .map(_.getPath.toString)
        .sorted
    if (dirs.isEmpty) {
      // a sink that committed nothing yet is an empty table, not an error
      val ddl = schemaDdl.getOrElse(
        throw new IllegalArgumentException(
          s"no batch directories under $outDir and no schema supplied to shape an empty result"
        )
      )
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(ddl)
      )
    } else reader.parquet(dirs: _*)
  }

  /** SQS-analog sink: within each micro-batch, rows are grouped into
    * fixed-size batches per topic (the reference's SendMessageBatch of
    * 10) and appended as one JSON line per batch. The window is
    * per-topic so batch assembly shuffles once on topic_id — no global
    * coordination, unlike the reference's in-process semaphore.
    */
  def batchedQueueSink(
      payloads: DataFrame,
      outDir: String,
      checkpoint: String,
      batchSize: Int = 10,
      availableNow: Boolean = false
  ): StreamingQuery = {
    val base = payloads.writeStream
    (if (availableNow) base.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else base)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("topic_id").orderBy("payload_b64")
        batch
          .withColumn("rn", row_number().over(w))
          .withColumn("send_batch", floor((col("rn") - 1) / batchSize))
          .groupBy(col("topic_id"), col("send_batch"))
          .agg(collect_list(col("payload_b64")).as("entries"))
          .withColumn("micro_batch", lit(batchId))
          .write
          // per-batch dir, overwrite: a crash between this write and
          // the checkpoint commit replays the batch on restart, and
          // the overwrite makes the replay idempotent where a flat
          // append would emit the batch's send-groups twice (the
          // drain-harness exactly-once rule; dir name avoids '=' so
          // the read-back schema gains no inferred column)
          .mode("overwrite")
          .json(s"$outDir/b$batchId")
      }
      .start()
  }

  /** Read a [[batchedQueueSink]] output dir (per-batch subdirs). */
  def readQueueBatches(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").json(outDir)
}
