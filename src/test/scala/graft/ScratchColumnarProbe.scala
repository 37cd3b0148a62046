package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch measurement (test scope, not shipped): VERDICT-r15 item 4's
  * measure-first question on the C22f columnar index — the probe's
  * (band_idx, band_key) equi-join currently shuffles the index side's
  * band keys (the r16 plan dump shows a ShuffledHashJoin with an
  * Exchange below the index's posexplode). Would the shuffle be worth
  * removing via a bucketed-storage index?
  *
  * The measurable twin question, no storage change needed: time the
  * candidate subquery with (a) the current shuffle_hash shape vs (b)
  * the delta band keys broadcast (legal whenever the nightly delta is
  * broadcast-sized; removes the index-side Exchange entirely).
  * Usage: sbt "Test/runMain graft.ScratchColumnarProbe"
  */
object ScratchColumnarProbe {
  private def timeMedian(iters: Int)(body: => Unit): Double = {
    body // warm-up, discarded
    val times = (1 to iters).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(times.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val t     = graft.sources.Tables(spark, sfDir)
    val docs  = t.documents
    val base  = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)

    val store = graft.operators.Ingest.scratchDir("graft-bucketprobe")
    graft.operators.Dedup.writeSignatureIndexColumnar(spark, base, store)
    val pin = graft.sources.ParquetEpochs.snapshot(store)
    val idx = graft.operators.Dedup.readSignatureIndexColumnar(spark, store, pin)
    val deltaRows = graft.operators.Dedup.indexRowsOn(spark, delta)

    def drain(df: DataFrame): Unit = { df.queryExecution.toRdd.count(): Unit }

    def candidates(deltaBands: DataFrame, idxBands: DataFrame): DataFrame =
      deltaBands.as("d")
        .join(idxBands.as("b"),
          col("d.band_idx") === col("b.band_idx") && col("d.band_key") === col("b.band_key"))
        .select(col("d.doc_id").as("doc_id"), col("b.doc_id").as("base_doc"))
        .distinct()

    val dB = graft.operators.Dedup.bandKeys(deltaRows)
    val iB = graft.operators.Dedup.bandKeys(idx)

    val shuffled = timeMedian(5)(drain(candidates(dB, iB.hint("shuffle_hash"))))
    val bcast    = timeMedian(5)(drain(candidates(broadcast(dB), iB)))
    println(f"CANDIDATES shuffle_hash(idx): $shuffled%.3f s")
    println(f"CANDIDATES broadcast(delta):  $bcast%.3f s")
    spark.stop()
  }
}
