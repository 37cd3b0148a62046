package graft

import org.apache.spark.sql.functions._

/** Scale canary for B96 rollback_to_epoch (the canary discipline —
  * every new write verb commits an empirical point): the restore verb
  * claims METADATA-ONLY cost — the as-of files are re-listed by name
  * and their stats harvested from the as-of sidecars, so rolling back
  * a 2M-row corpus must cost about the same as rolling back a 128k-row
  * one (no data I/O, no footer reads). This main overwrites a grown v1
  * store with a FIXED 10k-row corruption and times
  * `StoreLifecycle.rollbackToEpoch` back to v1 along both metadata
  * axes:
  *
  *  - `by_files`: v1 spans 64 → 256 → 1,024 data files (the re-list +
  *    stats-harvest leg — the restore manifest lists every v1 name);
  *  - `by_manifests`: v1 spans 8 → 32 → 128 committed epochs (the
  *    as-of listing + per-sidecar harvest leg).
  *
  * Flat-ish times across both ladders = the verb is the one manifest
  * commit; growth would flag a data re-stage or per-file footer reads
  * (exactly what the statSources harvest exists to avoid). Rollback
  * mutates history, so each timed iteration rebuilds a fresh store
  * (build + overwrite excluded); medians over iters. One JSON line out
  * (the Bench convention) → ROLLBACK_CANARY.json.
  */
object RollbackScaleBench {

  private def timeOne(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_RBK_ITERS", "3").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val root  = java.nio.file.Files.createTempDirectory("graft-rbkbench")
    val hconf = spark.sessionState.newHadoopConf()
    val corruption = spark.range(10000)
      .select(col("id"), lit("CORRUPT").as("payload"))

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    def corruptAndTimeRollback(dir: String, v1Rows: Long): Double = {
      val tsV1 = System.currentTimeMillis()
      Thread.sleep(5)
      graft.sources.ParquetEpochs.overwrite(spark, dir, corruption)
      val t = timeOne {
        require(graft.sources.StoreLifecycle.rollbackToEpoch(dir, tsV1).isDefined)
      }
      require(graft.sources.ParquetEpochs
        .read(spark, dir, graft.sources.ParquetEpochs.snapshot(dir)).count() == v1Rows)
      t
    }

    try {
      val byFiles = Seq(64, 256, 1024).map { files =>
        val ts = (1 to iters).map { i =>
          val dir     = s"$root/f$files-$i"
          val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
          fs.delete(p, true): Unit
          val rows = files.toLong * 2000
          graft.sources.ParquetEpochs.append(
            spark.range(rows)
              .select(col("id"), md5(col("id").cast("string")).as("payload"))
              .repartitionByRange(files, col("id")).sortWithinPartitions("id"),
            dir): Unit
          corruptAndTimeRollback(dir, rows)
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
          corruptAndTimeRollback(dir, epochs * 1000L)
        }
        epochs -> median(ts)
      }
      def fmt(kv: Seq[(Int, Double)]) =
        kv.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
      println(
        s"""{"metric":"rollback_scale","corruption_rows":10000,"iters":$iters,""" +
          s""""by_files_s":{${fmt(byFiles)}},"by_manifests_s":{${fmt(byManifests)}}}""")
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit
    }
  }
}
