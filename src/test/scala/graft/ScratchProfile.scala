package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Scratch profiling harness (test scope, not shipped): runs one
  * SparkEntry query under the Bench session config with a listener
  * that records every Spark job's wall window and every stage's
  * task-time/shuffle totals. The printed report splits the key's wall
  * time into job time vs driver gaps (planning, collects, file ops)
  * and ranks stages by task time — the measurement §1 of the
  * optimization guide asks for, without the UI.
  *
  * Usage: sbt "Test/runMain graft.ScratchProfile pipeline_release"
  */
object ScratchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // ad-hoc conf probes: SPARK_GRAFT_PROFILE_CONF="k=v;k2=v2"
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_PROFILE_CONF", "")
      .split(';').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark = extraConf.foldLeft(GraftSession.builder(cpus)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warm-up as Bench
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val w = spark.range(100000).selectExpr("id % 97 AS k", "id AS v")
    w.groupBy("k").count().join(w.limit(100), "k").count()
    SparkEntry.controlSession(spark)

    final case class JobRec(id: Int, start: Long, var end: Long, desc: String, stageIds: Seq[Int])
    final case class StageRec(
        id: Int,
        name: String,
        tasks: Int,
        taskTimeMs: Long,
        shufWriteB: Long,
        shufReadB: Long,
        inputB: Long,
        scopes: String)
    val jobs   = ArrayBuffer.empty[JobRec]
    val stages = ArrayBuffer.empty[StageRec]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += JobRec(e.jobId, e.time, -1L,
          Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""),
          e.stageIds.map(_.toInt))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
        val si = e.stageInfo
        val m  = si.taskMetrics
        stages += StageRec(
          si.stageId,
          si.name.takeWhile(_ != '\n'),
          si.numTasks,
          m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.bytesRead,
          si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString("|"))
      }
    }

    val names = if (args.nonEmpty) args.toSeq else Seq("pipeline_release")
    for (name <- names) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      jobs.clear(); stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      val done   = jobs.filter(_.end > 0).sortBy(_.start)
      // union of job windows -> busy ms; rest of wall is driver gap
      var busy = 0L
      var cursor = 0L
      for (j <- done) {
        val s = math.max(j.start, cursor)
        if (j.end > s) { busy += j.end - s; cursor = j.end }
        else cursor = math.max(cursor, j.end)
      }
      println(f"PROFILE $name wall=${wallMs / 1000}%.2fs jobs=${done.size} jobTime=${busy / 1000.0}%.2fs driverGap=${(wallMs - busy) / 1000}%.2fs")
      val slowJobs = done.map(j => (j, j.end - j.start)).sortBy(-_._2).take(12)
      slowJobs.foreach { case (j, d) =>
        val sc = stages.synchronized {
          j.stageIds.flatMap(id => stages.find(_.id == id)).sortBy(-_.taskTimeMs).take(2)
            .map(s => s"[${s.id}:${(s.taskTimeMs / 1000.0).formatted("%.1f")}s ${s.scopes.take(60)}]")
            .mkString(" ")
        }
        println(f"  JOB ${j.id}%4d ${d / 1000.0}%6.2fs ${j.desc.take(60)} $sc")
      }
      val topStages = stages.sortBy(-_.taskTimeMs).take(15)
      topStages.foreach { s =>
        println(
          f"  STAGE ${s.id}%4d taskTime=${s.taskTimeMs / 1000.0}%7.2fs tasks=${s.tasks}%4d " +
            f"in=${s.inputB / 1e6}%8.1fMB sw=${s.shufWriteB / 1e6}%8.1fMB sr=${s.shufReadB / 1e6}%8.1fMB ${s.scopes.take(160)}")
      }
    }
    spark.stop()
  }
}
