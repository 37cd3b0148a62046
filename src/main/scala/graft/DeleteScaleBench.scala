package graft

import org.apache.spark.sql.functions._

/** Measurement harness for the B81 record-level delete's SCALE claim:
  * on a key-clustered store the copy-on-write rewrite is O(covering
  * files), not O(store) — the `_stats` candidate pruning is what makes
  * an RTBF purge affordable at 100 TB. This main puts a number beside
  * the claim by timing `StoreLifecycle.deleteKeys` of a key batch
  * confined to ONE file's range, against the same store:
  *
  *  - `pruned_s`: the shipped path — `_stats` bounds prune candidates
  *    to the covering file; one file is read and rewritten;
  *  - `nostats_s`: the degraded path (legacy store, lost sidecar
  *    renames) — every file is a candidate, so the whole store is
  *    streamed even though only one file rewrites (match-free
  *    candidates discard their staging);
  *  - at two file counts, so the SHAPE is visible: `pruned_s` should
  *    stay flat as the store quadruples while `nostats_s` grows with
  *    it.
  *
  * Deletes MUTATE the store, so each timed iteration runs against a
  * freshly built store (build time excluded); medians over `iters`
  * fresh runs. One JSON line out (the Bench convention). The columnar
  * twin's pruning shares the same plannedFiles machinery ColumnarSkip
  * Bench already measures — this harness covers the K-V rewrite
  * kernel, the one with per-file task costs.
  */
object DeleteScaleBench {

  private def timeOne(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters   = sys.env.getOrElse("SPARK_GRAFT_DELETE_ITERS", "3").toInt
    val perFile = sys.env.getOrElse("SPARK_GRAFT_DELETE_ROWS", "4000").toInt
    val counts = sys.env.getOrElse("SPARK_GRAFT_DELETE_FILES", "64,256")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val root  = java.nio.file.Files.createTempDirectory("graft-delbench")
    val hconf = spark.sessionState.newHadoopConf()
    try {
      val results = counts.map { files =>
        val rows = files.toLong * perFile
        // payload wide enough that streaming a file costs something real
        def build(dir: String): Unit = {
          val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
          fs.delete(p, true): Unit
          spark.range(rows)
            .select(
              format_string("k%010d", col("id")).as("result_key"),
              concat(md5(col("id").cast("string")),
                md5((col("id") + 1).cast("string")),
                md5((col("id") + 2).cast("string"))).as("payload"))
            .repartitionByRange(files, col("result_key"))
            .write.format("graft.sources.ContentStore").option("path", dir)
            .mode("append").save()
        }
        // 50 keys inside one file's contiguous range
        val base = rows / 2
        val keys = (0 until 50).map(i => f"k${base + i}%010d")
        def medianOf(strip: Boolean): Double = {
          val times = (1 to iters).map { i =>
            val dir = s"$root/s$files-$strip-$i"
            build(dir)
            if (strip) {
              val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
              fs.delete(new org.apache.hadoop.fs.Path(p, "_stats"), true): Unit
            }
            val t = timeOne {
              val r = graft.sources.StoreLifecycle.deleteKeys(spark, dir, keys)
              require(r.deletedRows == 50L, s"expected 50 deletions, got $r")
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
      println(s"{${q}metric${q}:${q}delete_scale${q},${q}iters${q}:$iters,${q}points${q}:$per}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}
