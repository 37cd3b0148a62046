package graft

import org.apache.spark.sql.functions._

/** Scratch phase profiler (test scope, not shipped): splits the B82/
  * B82b gate fixtures into their phases — store build, upsert verb,
  * read-back — and times each, so a gate regression can be attributed
  * to the verb instead of the fixture. Usage:
  * sbt "Test/runMain graft.ScratchUpsertPhases"
  */
object ScratchUpsertPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r  = f
      println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val t = graft.sources.Tables(spark, sfDir)
    for (rep <- 1 to 3) {
      println(s"--- rep $rep columnar ---")
      val dir   = s"${System.getProperty("java.io.tmpdir")}/graft-phases-pq"
      val hconf = spark.sessionState.newHadoopConf()
      val (fs, p) = graft.sources.ContentStore.fs(dir, hconf)
      fs.delete(p, true): Unit
      val corpus = t.documents.select("doc_id", "lang", "n_chars")
      time("pq-build") {
        Seq(corpus.filter(col("doc_id") < 250L), corpus.filter(col("doc_id") >= 250L))
          .foreach { slice =>
            graft.sources.ParquetEpochs.append(
              slice.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id"),
              dir): Unit
          }
      }
      val recrawled = corpus.filter(pmod(col("doc_id"), lit(11)) === 7)
        .select(col("doc_id"), lit("xx").as("lang"), (col("n_chars") + 1000L).as("n_chars"))
      time("pq-upsert") {
        graft.sources.ParquetEpochs.upsert(
          spark, dir, recrawled, "doc_id", s"recrawl-$rep", clusterBy = Some(("doc_id", 4))): Unit
      }
      time("pq-read") {
        graft.sources.ParquetEpochs
          .read(spark, dir, graft.sources.ParquetEpochs.snapshot(dir))
          .orderBy("doc_id").queryExecution.toRdd.count(): Unit
      }
      println(s"--- rep $rep kv ---")
      val kvDir = s"${System.getProperty("java.io.tmpdir")}/graft-phases-kv"
      val (fs2, p2) = graft.sources.ContentStore.fs(kvDir, hconf)
      fs2.delete(p2, true): Unit
      val profile = t.events.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      time("kv-build") {
        Seq(profile.filter(col("user_id") < 2500L), profile.filter(col("user_id") >= 2500L))
          .foreach { slice =>
            slice.select(format_string("u%06d", col("user_id")).as("result_key"),
              col("cents").cast("string").as("payload"))
              .repartitionByRange(4, col("result_key"))
              .write.format("graft.sources.ContentStore").option("path", kvDir)
              .mode("append").save()
          }
      }
      val rescored = profile.filter(pmod(col("user_id"), lit(5)) === 0)
        .select(format_string("u%06d", col("user_id")).as("result_key"),
          (col("cents") * 2).cast("string").as("payload"))
      time("kv-upsert") {
        graft.sources.StoreLifecycle.upsert(spark, kvDir, rescored, s"rescore-$rep"): Unit
      }
      time("kv-read") {
        spark.read.format("graft.sources.ContentStore").option("path", kvDir).load()
          .queryExecution.toRdd.count(): Unit
      }
    }
    spark.stop()
  }
}
