package graft

import graft.operators.{Dedup, Similarity}
import graft.sources.{ContentStore, ParquetEpochs, StoreLifecycle, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions._

/** Scratch phase-timing for the q_store_forget fixture+cascade. */
object ScratchForget {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val njobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = njobs.incrementAndGet(): Unit
    })
    var last = System.nanoTime()
    var lastJobs = 0
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      val nj  = njobs.get()
      println(f"FORGETPHASE $name ${(now - last) / 1e9}%6.2fs jobs=${nj - lastJobs}")
      last = now; lastJobs = nj
    }

    for (rep <- 1 to 2) {
      val t       = Tables(spark, sfDir)
      val baseDir = s"${System.getProperty("java.io.tmpdir")}/graft-forget-scratch"
      val hconf   = spark.sessionState.newHadoopConf()
      val dirs @ Seq(corpusDir, kvsigDir, colsigDir, stateDir, centDir, asgDir) =
        Seq("corpus", "kvsig", "colsig", "state", "ivfcent", "ivfasg").map(n => s"$baseDir/$n")
      dirs.foreach { d =>
        val (fs, p) = ContentStore.fs(d, hconf)
        fs.delete(p, true): Unit
      }
      val docs = t.documents
      last = System.nanoTime(); lastJobs = njobs.get()
      ParquetEpochs.append(
        docs.select("doc_id", "lang", "n_chars")
          .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id"),
        corpusDir): Unit
      phase("corpus-append")
      Dedup.writeSignatureIndex(spark, docs, kvsigDir)
      phase("kv-sig-write")
      Dedup.writeSignatureIndexColumnar(spark, docs, colsigDir): Unit
      phase("col-sig-write")
      val grouped = docs.select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(3))).as("g"))
      val labels = grouped
        .join(grouped.groupBy("g").agg(min("doc_id").as("component")), "g")
        .select("doc_id", "component")
      Dedup.writeComponentState(labels, stateDir, rangeClusterParts = 4): Unit
      phase("state-write")
      Similarity.buildIvfIndex(t, centDir, asgDir): Unit
      phase("ivf-build")

      val cohort = docs.select("doc_id").filter(pmod(col("doc_id"), lit(3)) === 0)
      graft.operators.Forget.forgetDocs(
        spark,
        cohort,
        columnarAssets = Seq(corpusDir -> "doc_id", colsigDir -> "doc_id", asgDir -> "vec_id"),
        kvAssets = Seq(kvsigDir -> "sig/%d"),
        componentStateStore = Some(stateDir),
        cascadeId = "forget-scratch"): Unit
      phase("cascade")

      def snap(d: String) = ContentStore.snapshotManifests(d)
      val nullLabel = lit(null).cast("long").as("component")
      val corpusIds = ParquetEpochs.read(spark, corpusDir, snap(corpusDir))
        .select(lit("corpus").as("asset"), col("doc_id"), nullLabel)
      val kvIds = spark.read.format("graft.sources.ContentStore").option("path", kvsigDir).load()
        .select(lit("kvsig").as("asset"),
          expr("CAST(substring(result_key, 5) AS BIGINT)").as("doc_id"), nullLabel)
      val colIds = ParquetEpochs.read(spark, colsigDir, snap(colsigDir))
        .select(lit("colsig").as("asset"), col("doc_id"), nullLabel)
      val stateRows = Dedup
        .componentLabelsInRange(spark, stateDir, snap(stateDir), 0L, Long.MaxValue - 1)
        .select(lit("state").as("asset"), col("doc_id"), col("component"))
      val ivfIds = ParquetEpochs.read(spark, asgDir, snap(asgDir))
        .select(lit("ivf").as("asset"), col("vec_id").as("doc_id"), nullLabel)
      corpusIds.unionAll(kvIds).unionAll(colIds).unionAll(stateRows).unionAll(ivfIds)
        .orderBy("asset", "doc_id").queryExecution.toRdd.count()
      phase("readback")
      println(s"FORGETREP rep=$rep done")
    }
    spark.stop()
  }
}
