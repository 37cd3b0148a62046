package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard config.
  *
  * Tuned for local[N] testing but every knob is the one you'd set on a
  * real cluster: AQE handles runtime re-planning (partition coalescing,
  * skew-join splitting), shuffle partitions sized to cores at test SF
  * (on a 1000-executor cluster this becomes ~2x total cores via
  * spark-submit conf, not code).
  */
object GraftSession {

  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // the gate sessions' codegen cache and class-loader defaults
      .config(GraftExtensions.SessionDefaults)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // kernels are also individually self-registered by their operators
    // and injectable via GraftExtensions; this just makes every
    // GraftSession SQL-complete out of the box
    graft.functions.VecExprs.register(spark)
    graft.functions.MinHashExpr.register(spark)
    graft.functions.SimHashExpr.register(spark)
    graft.functions.HyperplaneExpr.register(spark)
    graft.plans.KeyDistinct.install(spark)
    spark
  }

  /** Run `body` with the given session confs set, then put each key
    * back exactly as it was: re-set if the caller had set it, unset
    * otherwise. The snapshot is `spark.conf.getAll`, which holds only
    * explicitly set keys — `getOption(k)` / `get(k, default)` would
    * return the registered default for an unset key, and restoring
    * that leaves the key explicitly set after the call.
    */
  private[graft] def withConfs[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
