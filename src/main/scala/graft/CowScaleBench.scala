package graft

import org.apache.spark.sql.functions._

/** Measurement harness for B89's SCALE claim (the UpsertScaleBench
  * discipline applied to the SQL DML verb): a copy-on-write `UPDATE`
  * whose WHERE is confined in the clustered key space must rewrite
  * O(covering files), not O(store) — the group pruning comes from the
  * operation's scan being the table's own batch scan, so the `_stats`
  * bounds prune the ReplaceData read (and therefore the replaced
  * group set) exactly like a read. This main times
  * `UPDATE cat.t SET payload = ... WHERE id BETWEEN lo AND hi`
  * (a 50-key slice inside one file's range) through the catalog
  * against key-clustered columnar stores of 64 → 256 → 1,024 files:
  *
  *  - `pruned_s`: the shipped path — bounds prune the scan to the
  *    covering file(s); one file rewritten, manifest-mates carried;
  *  - `nostats_s`: the degraded path (stripped `_stats` sidecars) —
  *    every file is a group, the whole store rewrites per statement.
  *
  * DML mutates, so each timed iteration rebuilds a fresh store (build
  * excluded); medians over `iters`. One JSON line out.
  */
object CowScaleBench {

  private def timeOne(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters   = sys.env.getOrElse("SPARK_GRAFT_COW_ITERS", "3").toInt
    val perFile = sys.env.getOrElse("SPARK_GRAFT_COW_ROWS", "4000").toInt
    val counts = sys.env.getOrElse("SPARK_GRAFT_COW_FILES", "64,256,1024")
      .split(",").map(_.trim.toInt).toSeq
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val root  = java.nio.file.Files.createTempDirectory("graft-cowbench")
    val hconf = spark.sessionState.newHadoopConf()
    spark.conf.set("spark.sql.catalog.cowb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cowb.warehouse", root.toString)
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
        // tonight's re-score, as ONE SQL statement over a 50-key slice
        val base = rows / 2
        def medianOf(strip: Boolean): Double = {
          val times = (1 to iters).map { i =>
            val table = s"s$files-$strip-$i"
            val dir   = s"$root/$table"
            build(dir)
            if (strip) {
              val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
              fs.delete(new org.apache.hadoop.fs.Path(p, "_stats"), true): Unit
            }
            val t = timeOne {
              spark.sql(
                s"""UPDATE cowb.`$table` SET payload = '${"fresh-" * 16}'
                   |WHERE id BETWEEN $base AND ${base + 49}""".stripMargin)
            }
            val fresh = spark.sql(
              s"SELECT count(*) FROM cowb.`$table` WHERE payload LIKE 'fresh-%'")
              .collect().head.getLong(0)
            require(fresh == 50L, s"expected 50 updated, got $fresh")
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
      println(s"{${q}metric${q}:${q}cow_update_scale${q},${q}iters${q}:$iters,${q}points${q}:$per}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}
