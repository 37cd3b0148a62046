package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement harness for COLUMNAR-store file skipping (VERDICT-r16
  * item 2 — B65 parity for ParquetEpochs, "measure first"): the K-V
  * store prunes files at PLANNING time from `_stats/` key ranges; a
  * ParquetEpochs read is a plain parquet scan, so a key-scoped read
  * still schedules one task per file and prunes inside the reader
  * (footer/row-group stats). This main puts a number beside the
  * decision by timing, over an index-shaped corpus laid out as many
  * disjoint-range files:
  *
  *  - `point_scan_s` / `range_scan_s`: the status quo — every file
  *    planned, parquet footer pruning does the skipping;
  *  - `point_pruned_s` / `range_pruned_s`: the SHIPPED path —
  *    `ParquetEpochs.readRange` plans only the files whose `_stats`
  *    sidecar range overlaps the predicate (the measurement that
  *    justified shipping it: 3.0×/2.6× point/range at 1,024 files,
  *    ~15%/4% at 256 — file-count-proportional, exactly the shape a
  *    nightly-append store grows into);
  *  - `files`, `rows`: the layout, so the gap can be read against
  *    file count.
  *
  * Medians over `iters` runs, one warm-up discarded; one JSON line
  * out (the Bench convention). The decision rule (the r16
  * bucketed-index precedent) was: ship the stats sidecar only if the
  * pruned read beats the scan at realistic file counts — it did
  * (measured BEFORE readRange existed, against a hand-pruned file
  * list), so the sidecar shipped and this main now measures the real
  * path, keeping the number honest against regressions.
  */
object ColumnarSkipBench {

  private def timeMedian(iters: Int)(body: => Unit): Double = {
    body // warm-up, discarded
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(times.size / 2)
  }

  private def drainAll(df: DataFrame): Unit = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    df.select(h.as("h")).agg(expr("bit_xor(h)")).collect(): Unit
  }

  def main(args: Array[String]): Unit = {
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters  = sys.env.getOrElse("SPARK_GRAFT_SKIP_ITERS", "5").toInt
    val files  = sys.env.getOrElse("SPARK_GRAFT_SKIP_FILES", "256").toInt
    val perFile = sys.env.getOrElse("SPARK_GRAFT_SKIP_ROWS", "4000").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val root = java.nio.file.Files.createTempDirectory("graft-skipbench")
    val store = s"$root/store"
    try {
      // index-shaped rows (the C22f asset): doc_id key, content hash,
      // a signature slice, a shingle-ish string array — wide enough
      // that opening a file costs something real
      val rows = files.toLong * perFile
      val df = spark
        .range(rows)
        .select(
          col("id").as("doc_id"),
          md5(col("id").cast("string")).as("text_hash"),
          expr("transform(sequence(1, 16), i -> xxhash64(id, i))").as("sig"),
          expr("transform(sequence(1, 24), i -> md5(cast(id + i as string)))").as("sh")
        )
      // one epoch, range-partitioned so each part holds one contiguous
      // doc_id slice — the layout a nightly per-range append produces
      graft.sources.ParquetEpochs.append(
        df.repartitionByRange(files, col("doc_id")).sortWithinPartitions("doc_id"),
        store): Unit
      val pin = graft.sources.ParquetEpochs.snapshot(store)
      val all = graft.sources.ParquetEpochs.read(spark, store, pin)

      val probe   = rows / 2 + 7
      val rangeLo = rows / 3
      val rangeHi = rangeLo + rows / 50 // ~2% of keys
      def planned(lo: Long, hi: Long): Int =
        graft.sources.ParquetEpochs.plannedFiles(store, pin, "doc_id", lo, hi).size
      require(planned(0L, rows) == files, s"expected $files planned files over the full range")

      val pointScan = timeMedian(iters)(drainAll(all.filter(col("doc_id") === probe)))
      val pointPruned = timeMedian(iters)(drainAll(
        graft.sources.ParquetEpochs.readRange(spark, store, pin, "doc_id", probe, probe)))
      val rangeScan = timeMedian(iters)(drainAll(
        all.filter(col("doc_id").between(rangeLo, rangeHi))))
      val rangePruned = timeMedian(iters)(drainAll(
        graft.sources.ParquetEpochs.readRange(spark, store, pin, "doc_id", rangeLo, rangeHi)))

      val q = "\""
      println(
        s"{${q}metric${q}:${q}columnar_skip${q},${q}files${q}:$files,${q}rows${q}:$rows," +
          s"${q}point_scan_s${q}:$pointScan,${q}point_pruned_s${q}:$pointPruned," +
          s"${q}range_scan_s${q}:$rangeScan,${q}range_pruned_s${q}:$rangePruned," +
          s"${q}point_files${q}:${planned(probe, probe)}," +
          s"${q}range_files${q}:${planned(rangeLo, rangeHi)}}"
      )
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}
