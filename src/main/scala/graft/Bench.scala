package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // the SQL status listener tracks every execution even with the UI
      // off; ~2000 materializations deep (iterative operators run many
      // per query) its store makes driver-latency-bound loops measurably
      // slower — keep only a token tail so late queries aren't taxed for
      // the suite that ran before them
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      // same extensions as Verify: benchmark what the gate verifies
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: JIT, codegen compiler, parquet footer caches — so the
    // first measured query isn't charged session startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // one shuffle + one broadcast join through AQE: the exchange /
    // shuffle-reader / join machinery JITs here instead of inside the
    // alphabetically-first shuffle-heavy query (measured: the first
    // iteration-family query otherwise absorbs a multi-second
    // cold-start the rest of its family never pays)
    val w = spark.range(100000).selectExpr("id % 97 AS k", "id AS v")
    w.groupBy("k").count().join(w.limit(100), "k").count()
    // pre-create the conf-off control session: its SessionState
    // bootstrap belongs to warm-up, not q_top_events_window_ctl's timer
    SparkEntry.controlSession(spark)
    // sorted order: Map iteration is hash-random, which hands one
    // query the suite's cold-start (JIT, codegen, page cache) by
    // lottery and makes per-query numbers incomparable across rounds
    // local iteration only (driver leaves it unset): bench a named
    // subset, e.g. SPARK_GRAFT_BENCH_ONLY=dedup_ngram_jaccard,q_funnel
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would otherwise silently bench nothing
    only.foreach(o =>
      (o -- SparkEntry.queries.keySet).foreach(n => println(s"unknown bench query: $n"))
    )
    // subset runs need a deeper warm-up than the generic one above: in
    // a full run the alphabetically-earlier suite JITs the posting/
    // window/agg machinery before any given key, and a 3-key subset
    // measured the same keys ~40% slower for that reason alone (r13:
    // dedup_prefix_filter 6.8-7.8 s subset vs 4.9-5.4 s full). Run two
    // representative heavy queries untimed — DIFFERENT keys than any
    // subset target would pre-warm its own codegen cache and read
    // artificially fast, so this stays a fixed pair.
    if (only.isDefined) {
      // if a warm-up key IS a subset target, skip it — pre-running the
      // target itself would exclude its codegen/JIT warm-up from the
      // timer, the exact bias this block exists to avoid
      Seq("dedup_ngram_jaccard", "q_funnel")
        .filterNot(n => only.exists(_.contains(n)))
        .foreach { n =>
          // NonFatal only: an OOM/VMError here must surface, and a
          // renamed/broken warm-up key must say so — silently skipping
          // re-introduces the ~40% cold-JIT subset bias this block
          // exists to remove
          try SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"bench warm-up query '$n' failed (${e.getClass.getSimpleName}: ${e.getMessage}) — subset numbers may run cold"
              )
          }
        }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    val outcomes = SparkEntry.queries.toSeq
      .filter(kv => only.forall(_.contains(kv._1)))
      .sortBy(_._1)
      .map { case (name, fn) =>
      // free the previous query's checkpoint blocks deterministically —
      // localCheckpoint RDDs sit in executor storage until the context
      // cleaner gets to them, and 70+ queries of debris shows up as
      // run-to-run variance in late queries. Blocking, so the removal
      // work cannot bleed into the next query's timed window. Safe
      // here: every query builds its plan from scratch.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // then collect garbage so the debris isn't billed to the next timer
      System.gc()
      val t0 = System.nanoTime()
      // toRdd.count() executes the FULL physical plan (projections,
      // sorts, windows) — a plain .count() would let Catalyst prune
      // every map-only query down to a parquet row count. A failed
      // key is reported, never timed: its elapsed time would read as
      // a (fast) result.
      try {
        fn(spark, sfDir).queryExecution.toRdd.count()
        Right(name -> (System.nanoTime() - t0) / 1e9)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"bench query '$name' failed: ${e.getClass.getName}: ${e.getMessage}")
          Left(name -> e.getClass.getName)
      }
    }
    val results = outcomes.collect { case Right(r) => r }
    val failed  = outcomes.collect { case Left(f) => f }
    // Locale.ROOT: the f-interpolator honors the JVM default locale,
    // and a comma decimal separator would corrupt the JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def mapJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The harness capturing this output keeps only a bounded tail, and
    // the full per-query map for 100+ queries does not fit it. Three
    // outputs, most-complete first: (1) BENCH_DETAIL.json on disk with
    // full precision, (2) the full map line (front-truncated in a
    // bounded capture — harmless, no "metric" token survives the cut),
    // (3) a compact line with the total plus the slowest 25 queries
    // that ALWAYS fits the tail window and parses as the result.
    val failedJson =
      failed.map { case (k, cls) => "\"" + k + "\":\"" + cls + "\"" }.mkString("{", ",", "}")
    val full = s"""{"all_queries":${mapJson(results)},"failed":$failedJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    )
    val slowest = results.sortBy(-_._2).take(25)
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
        s""""queries":${mapJson(slowest)},"detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    // stop BEFORE printing: the metric line must be the LAST stdout the
    // harness's bounded tail capture sees (spark.stop() can emit trailing
    // log noise), and with build.sbt's StdoutOutput it arrives undecorated
    // — both halves of the r22 handshake fix for the driver's JSON parse.
    spark.stop()
    println(full)
    println(compact)
    System.out.flush()
  }
}
