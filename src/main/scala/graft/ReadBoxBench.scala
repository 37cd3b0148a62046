package graft

import org.apache.spark.sql.functions._

/** Measurement harness for the B84 z-order layout's SCALE claim at the
  * file count where layout matters (1,024 files — the
  * ColumnarSkipBench regime): a BOTH-DIM box read on a z-ordered
  * store plans ~the product of the per-dim fractions (a rectangle of
  * files), while the same box on a single-column-clustered store can
  * prune only its clustered dimension (a stripe). This main builds the
  * same (a, b) corpus twice — `zcluster(a, b)` vs `clusterBy(a)` — and
  * times the identical `readBox` on both, reporting planned-file
  * counts beside the medians (reads don't mutate, so one build per
  * layout, `iters` timed reads each). One JSON line out.
  */
object ReadBoxBench {

  private def timeOne(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters   = sys.env.getOrElse("SPARK_GRAFT_BOX_ITERS", "5").toInt
    val files   = sys.env.getOrElse("SPARK_GRAFT_BOX_FILES", "1024").toInt
    val perFile = sys.env.getOrElse("SPARK_GRAFT_BOX_ROWS", "4000").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val root  = java.nio.file.Files.createTempDirectory("graft-boxbench")
    val hconf = spark.sessionState.newHadoopConf()
    try {
      val rows = files.toLong * perFile
      // two independent uniform dims: a = id, b = a keyed hash mod domain
      val corpus = spark.range(rows).select(
        col("id").as("a"),
        pmod(xxhash64(col("id")), lit(rows)).as("b"),
        md5(col("id").cast("string")).as("payload"))
      val zDir = s"$root/zorder"
      val cDir = s"$root/cluster-a"
      graft.sources.ParquetEpochs.append(
        graft.sources.ParquetEpochs.zcluster(corpus, "a", "b", files), zDir): Unit
      graft.sources.ParquetEpochs.append(
        corpus.repartitionByRange(files, col("a")).sortWithinPartitions("a"), cDir): Unit
      // a 1/32 × 1/32 box in the middle of the domain
      val span = rows / 32
      val aLo  = rows / 2; val aHi = aLo + span - 1
      val bLo  = rows / 3; val bHi = bLo + span - 1
      val boxes = Seq(("a", aLo: Any, aHi: Any), ("b", bLo: Any, bHi: Any))
      def measure(dir: String): (Int, Long, Double) = {
        val pin = graft.sources.ParquetEpochs.snapshot(dir)
        val planned = boxes
          .map { case (c, lo, hi) =>
            graft.sources.ParquetEpochs.plannedFiles(dir, pin, c, lo, hi).toSet
          }
          .reduce(_ & _)
        var n = 0L
        val times = (1 to iters).map { _ =>
          timeOne {
            n = graft.sources.ParquetEpochs.readBox(spark, dir, pin, boxes).count()
          }
        }.sorted
        (planned.size, n, times(times.size / 2))
      }
      val (zPlanned, zRows, zTime) = measure(zDir)
      val (cPlanned, cRows, cTime) = measure(cDir)
      require(zRows == cRows, s"layouts must agree on values: $zRows vs $cRows")
      val q = "\""
      println(
        s"{${q}metric${q}:${q}readbox_scale${q},${q}files${q}:$files,${q}rows${q}:$rows," +
          s"${q}box_rows${q}:$zRows,${q}iters${q}:$iters," +
          s"${q}zorder_planned_files${q}:$zPlanned,${q}zorder_s${q}:$zTime," +
          s"${q}cluster_a_planned_files${q}:$cPlanned,${q}cluster_a_s${q}:$cTime}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}
