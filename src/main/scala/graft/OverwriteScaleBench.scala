package graft

import org.apache.spark.sql.functions._

/** Scale canary for B92 INSERT OVERWRITE (the canary discipline —
  * every new write verb commits an empirical point): the backfill
  * verb must cost O(replacement corpus) + O(store METADATA), never
  * O(store data) — it stages the new corpus and shadows every live
  * manifest in one commit, reading no old data file. This main times
  * `ParquetEpochs.overwrite` of a FIXED 10k-row replacement against
  * stores grown along both metadata axes:
  *
  *  - `by_files`: one manifest listing 64 → 256 → 1,024 data files
  *    (the file-listing leg of the plan);
  *  - `by_manifests`: 8 → 32 → 128 committed epochs (the
  *    shadow-sidecar leg — every live manifest lands in the
  *    replacement's `_compacted/` sources list).
  *
  * Flat-ish times across both ladders = the verb's cost is the
  * replacement write; growth would flag a metadata pass reading data
  * or an O(files × manifests) join. Overwrite mutates, so each timed
  * iteration rebuilds a fresh store (build excluded); medians over
  * `iters`. One JSON line out (the Bench convention) →
  * OVERWRITE_CANARY.json.
  */
object OverwriteScaleBench {

  private def timeOne(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_OVR_ITERS", "3").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val root  = java.nio.file.Files.createTempDirectory("graft-ovrbench")
    val hconf = spark.sessionState.newHadoopConf()
    val replacement = spark.range(10000)
      .select(col("id"), md5(col("id").cast("string")).as("payload"))

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    try {
      def timeOverwrite(dir: String): Double = timeOne {
        graft.sources.ParquetEpochs.overwrite(spark, dir, replacement)
        require(graft.sources.ParquetEpochs
          .read(spark, dir, graft.sources.ParquetEpochs.snapshot(dir)).count() == 10000L)
      }
      val byFiles = Seq(64, 256, 1024).map { files =>
        val ts = (1 to iters).map { i =>
          val dir     = s"$root/f$files-$i"
          val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
          fs.delete(p, true): Unit
          graft.sources.ParquetEpochs.append(
            spark.range(files.toLong * 2000)
              .select(col("id"), md5(col("id").cast("string")).as("payload"))
              .repartitionByRange(files, col("id")).sortWithinPartitions("id"),
            dir): Unit
          timeOverwrite(dir)
        }
        files -> median(ts)
      }
      val byManifests = Seq(8, 32, 128).map { epochs =>
        val ts = (1 to iters).map { i =>
          val dir     = s"$root/m$epochs-$i"
          val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
          fs.delete(p, true): Unit
          (0 until epochs).foreach { e =>
            graft.sources.ParquetEpochs.append(
              spark.range(e * 1000L, e * 1000L + 1000L)
                .select(col("id"), md5(col("id").cast("string")).as("payload"))
                .coalesce(1),
              dir): Unit
          }
          timeOverwrite(dir)
        }
        epochs -> median(ts)
      }
      def fmt(kv: Seq[(Int, Double)]) =
        kv.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
      println(
        s"""{"metric":"overwrite_scale","replacement_rows":10000,"iters":$iters,""" +
          s""""by_files_s":{${fmt(byFiles)}},"by_manifests_s":{${fmt(byManifests)}}}""")
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit
    }
  }
}
