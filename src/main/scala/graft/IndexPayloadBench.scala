package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measurement harness for the C22e signature-index payload format —
  * the one store asset that IS big at 100 TB, probed nightly. The
  * persisted index currently rides the ContentStore K-V protocol with
  * a JSON payload (`to_json` on write, `from_json` per probe); this
  * main puts a NUMBER beside that choice by timing, over the same
  * rows at the bench SF:
  *
  *  - `raw`:     the store scan alone (text read + base64 decode,
  *               payload left unparsed) — the protocol floor;
  *  - `json`:    the real probe's index read (store scan + from_json
  *               into the typed columns);
  *  - `parquet`: a columnar mirror of the same typed rows (what a
  *               parquet-payload epoch variant would read).
  *
  * Every variant drains through the same xxhash64-of-all-columns
  * aggregate so column pruning can't hollow out the comparison.
  * Medians over `iters` runs, one warm-up discarded. Output: one JSON
  * line, the Bench convention.
  *
  * The verdict this harness feeds (SURVEY §7): whether the probe CPU
  * saved by a parquet-payload epoch format pays for forking the store
  * protocol (two data-file formats under one manifest scheme — B78
  * compaction and the DSv2 reader both K-V-only today).
  */
object IndexPayloadBench {

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
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_PAYLOAD_ITERS", "5").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val t     = graft.sources.Tables(spark, sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft-payloadbench").toString
    // at gate SF the base corpus is small enough that per-query fixed
    // overhead swamps per-row parse cost; SCALE unions shifted copies
    // so the number measures the per-row cost the 100 TB story cares
    // about (doc ids shifted far past the corpus range, text reused)
    val scale = sys.env.getOrElse("SPARK_GRAFT_PAYLOAD_SCALE", "1").toInt
    val base  = t.documents.filter(col("doc_id") % 10 =!= 0)
    val docs  =
      if (scale <= 1) base
      else
        (0 until scale)
          .map(k => base.withColumn("doc_id", col("doc_id") + lit(k.toLong * 1000000000L)))
          .reduce(_.unionAll(_))
    graft.operators.Dedup.writeSignatureIndex(spark, docs, store)
    val pin  = graft.sources.ContentStore.snapshotManifests(store)
    val rows = graft.operators.Dedup.readSignatureIndex(spark, store, pin).count()

    // the columnar mirror: identical typed rows, parquet data files
    val pq = s"$store-parquet"
    graft.operators.Dedup.readSignatureIndex(spark, store, pin).write.mode("overwrite").parquet(pq)

    def storeRaw(): DataFrame = spark.read
      .format("graft.sources.ContentStore")
      .option("path", store)
      .option("manifests", pin.mkString(","))
      .load()

    val rawS  = timeMedian(iters)(drainAll(storeRaw()))
    val jsonS = timeMedian(iters)(
      drainAll(graft.operators.Dedup.readSignatureIndex(spark, store, pin)))
    val pqS   = timeMedian(iters)(drainAll(spark.read.parquet(pq)))

    // end-to-end probe shape over the columnar asset: declarative
    // (three pruned scans — the shipped C22f shape) vs the JSON path's
    // localCheckpoint materialization. The trade inverts with the
    // payload format; see incrementalDedupColumnar's scaladoc.
    val pqStore = s"$store-colstore"
    val colMan  = graft.operators.Dedup.writeSignatureIndexColumnar(spark, docs, pqStore)
    val delta   = t.documents.filter(col("doc_id") % 10 === 0)
    val tau     = graft.operators.Dedup.JaccardTau
    val declS = timeMedian(iters)(
      graft.operators.Dedup
        .incrementalDedupColumnar(spark, delta, pqStore, Seq(colMan), tau).count(): Unit)
    val ckptS = timeMedian(iters)(
      graft.operators.Dedup
        .incrementalDedupColumnarCkpt(spark, delta, pqStore, Seq(colMan), tau).count(): Unit)

    println(
      s"""{"metric":"sigindex_probe_payload","rows":$rows,"raw_store_s":$rawS,""" +
        s""""json_s":$jsonS,"parquet_s":$pqS,"probe_declarative_s":$declS,""" +
        s""""probe_checkpointed_s":$ckptS,"sf_dir":"$sfDir","iters":$iters}""")
    spark.stop()
  }
}
