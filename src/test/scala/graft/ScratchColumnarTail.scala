package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Scratch measurement (test scope, not shipped): the ColumnarStore
  * tail's `columns` projection option vs a full-schema read, on a
  * store big enough for decode cost to show (sf0.1 documents
  * replicated REPS times, one epoch; the `text` column dominates
  * bytes). The engine never calls pruneColumns on a streaming scan, so
  * without the option a two-column aggregate decodes every text chunk
  * of every epoch. (A ColumnarBatch handoff variant was also measured
  * here and showed NO win over the row reader — 1.50-1.62 vs
  * 1.44-1.68 s on the same drains — so it does not ship.)
  * Usage: sbt "Test/runMain graft.ScratchColumnarTail"
  */
object ScratchColumnarTail {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps  = sys.env.getOrElse("SPARK_GRAFT_TAIL_REPS", "200").toInt
    val spark = GraftSession.local(cpus)
    val root  = Files.createTempDirectory("graft-tailbench")
    val store = root.resolve("store").toString
    val fat = sys.env.getOrElse("SPARK_GRAFT_TAIL_FAT", "1").toInt
    val docs = graft.sources.Tables(spark, sfDir).documents
      .crossJoin(spark.range(reps).select(col("id").as("rep")))
      .select((col("doc_id") * reps + col("rep")).as("doc_id"),
        col("lang"), col("n_chars"), repeat(col("text"), fat).as("text"))
    graft.sources.ParquetEpochs.append(docs, store): Unit
    val rows = docs.count()

    // two-column aggregate over the tail — the relay-with-projection
    // shape the `columns` option exists for
    def drainAgg(columns: Option[String], tag: String): Double = {
      val ckpt = root.resolve(s"ckpt-agg-$tag").toString
      val t0   = System.nanoTime()
      val base = spark.readStream
        .format("graft.sources.ColumnarStore")
        .option("path", store)
      val q = columns.fold(base)(c => base.option("columns", c))
        .load()
        .groupBy(pmod(col("doc_id"), lit(1024)))
        .agg(sum("n_chars"), count("*"))
        .writeStream
        .format("memory")
        .queryName(s"tail_agg_$tag")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val s = (System.nanoTime() - t0) / 1e9
      assert(spark.table(s"tail_agg_$tag").count() == 1024)
      s
    }
    val pairs = (1 to 3).map(i =>
      (drainAgg(Some("doc_id,n_chars"), s"p$i"), drainAgg(None, s"f$i")))
    pairs.zipWithIndex.foreach { case ((p, f), i) =>
      println(f"TAILAGG rep=${i + 1} rows=$rows columns-pruned=$p%.2f s  full-schema=$f%.2f s")
    }
    spark.stop()
  }
}
