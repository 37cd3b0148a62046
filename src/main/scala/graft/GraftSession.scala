package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: the specs, Bench, Verify,
  * the scale mains and the scratch harnesses all take it from here, so
  * what the specs check is the session the gate runs. perfbench's
  * `Main` keeps its own builder (it is a benchmark file) and mirrors
  * these settings.
  *
  *  - `local[cores]` with `cores` shuffle partitions: the local corpora
  *    are small, and AQE (on by default in Spark 4, with partition
  *    coalescing and skew-join splitting) re-plans from there.
  *  - Session time zone UTC: `Tables.events` casts the corpus's
  *    `TIMESTAMP_NTZ` column to `TIMESTAMP`, which is value-identity
  *    only in UTC, so every operator sees one type and one value.
  *  - UI off, and the status store capped at 16 SQL executions, 100
  *    jobs, 100 stages and 1,000 tasks: the SQL status listener tracks
  *    every execution even with the UI off, and ~2,000 materializations
  *    deep (iterative operators run many per query) its store makes
  *    driver-latency-bound loops measurably slower. A token tail keeps
  *    late queries from paying for the ones that ran before them.
  *  - `spark.sql.extensions=graft.GraftExtensions`: the kernel SQL
  *    functions, the TopKPerKey rewrite, the RELY-key distinct rule and
  *    [[GraftExtensions.SessionDefaults]]. `spark.sql.extensions` is a
  *    static conf: the first session of a JVM fixes it.
  */
object GraftSession {

  def builder(cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.extensions", "graft.GraftExtensions")

  def local(cores: Int): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
