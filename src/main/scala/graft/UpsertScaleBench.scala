package graft

import org.apache.spark.sql.functions._

/** Measurement harness for the B82 upsert's SCALE claim (the
  * DeleteScaleBench discipline applied to the other rewriting verb):
  * a nightly re-score whose keys are CONFINED in the key space must
  * cost O(covering files), not O(store) — the purge leg's `_stats`
  * candidate pruning (scoped by excludeManifests past the staged
  * epoch) is what keeps MERGE affordable as the store grows. This
  * main times `ParquetEpochs.upsert` (single-commit form) of a 50-key
  * version batch confined to one file's range against key-clustered
  * columnar stores of 64 → 256 → 1,024 files:
  *
  *  - `pruned_s`: the shipped path — bounds prune locate candidates to
  *    the covering file(s); the staged epoch + one file rewrite;
  *  - `nostats_s`: the degraded path (stripped sidecars) — every file
  *    is a locate candidate, the whole store is read per merge.
  *
  * Upserts mutate, so each timed iteration rebuilds a fresh store
  * (build excluded); medians over `iters`. One JSON line out.
  */
object UpsertScaleBench {

  private def timeOne(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters   = sys.env.getOrElse("SPARK_GRAFT_UPSERT_ITERS", "3").toInt
    val perFile = sys.env.getOrElse("SPARK_GRAFT_UPSERT_ROWS", "4000").toInt
    val counts = sys.env.getOrElse("SPARK_GRAFT_UPSERT_FILES", "64,256,1024")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val root  = java.nio.file.Files.createTempDirectory("graft-upsbench")
    val hconf = spark.sessionState.newHadoopConf()
    try {
      val results = counts.map { files =>
        val rows = files.toLong * perFile
        def build(dir: String): Unit = {
          val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
          fs.delete(p, true): Unit
          graft.sources.ParquetEpochs.append(
            spark.range(rows)
              .select(col("id"),
                concat(md5(col("id").cast("string")),
                  md5((col("id") + 1).cast("string")),
                  md5((col("id") + 2).cast("string"))).as("payload"))
              .repartitionByRange(files, col("id"))
              .sortWithinPartitions("id"),
            dir): Unit
        }
        // tonight's re-score: 50 fresher versions inside ONE file's range
        val base = rows / 2
        val versions = spark.range(base, base + 50)
          .select(col("id"), lit("fresh-" * 16).as("payload"))
        def medianOf(strip: Boolean): Double = {
          val times = (1 to iters).map { i =>
            val dir = s"$root/s$files-$strip-$i"
            build(dir)
            if (strip) {
              val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
              fs.delete(new org.apache.hadoop.fs.Path(p, "_stats"), true): Unit
            }
            val t = timeOne {
              val r = graft.sources.ParquetEpochs.upsert(
                spark, dir, versions, "id", s"nightly-$i", clusterBy = Some(("id", 1)))
              require(r.purge.deletedRows == 50L, s"expected 50 replaced, got $r")
            }
            val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
            fs.delete(p, true): Unit
            t
          }.sorted
          times(times.size / 2)
        }
        val pruned  = medianOf(strip = false)
        val nostats = medianOf(strip = true)
        (files, rows, pruned, nostats)
      }
      val q = "\""
      val per = results.map { case (f, r, p, n) =>
        s"{${q}files${q}:$f,${q}rows${q}:$r,${q}pruned_s${q}:$p,${q}nostats_s${q}:$n}"
      }.mkString("[", ",", "]")
      println(s"{${q}metric${q}:${q}upsert_scale${q},${q}iters${q}:$iters,${q}points${q}:$per}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}
