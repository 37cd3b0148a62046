package graft


/** Scratch plan dumper (test scope): writes `explain("formatted")` of
  * the named SparkEntry queries to <outDir>/<query>_<suffix>.txt —
  * the plans/r21 before/after artifact generator.
  * Usage: sbt "Test/runMain graft.ScratchPlanDump /root/repo/plans/r21 after q1 q2 ..."
  */
object ScratchPlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names  = args.drop(2).toSeq
    val sfDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val df   = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"PLANDUMP ok $name")
      } catch {
        case e: Throwable => println(s"PLANDUMP fail $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
