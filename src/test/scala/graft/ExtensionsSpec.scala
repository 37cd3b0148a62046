package graft

import graft.operators.{MathOps, Paging}
import graft.sources.Tables
import graft.streaming.KinesisLikePipeline
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The kernels must be reachable as plain SQL functions in a session
  * configured with spark.sql.extensions=graft.GraftExtensions (how a
  * cluster deployment would wire them).
  *
  * `spark.sql.extensions` is a STATIC conf read from the SparkContext,
  * so exercising it genuinely requires a fresh context — build.sbt
  * runs this suite in its own forked JVM (Test / testGrouping), where
  * creating and stopping the context can't race the shared-session
  * suites or return someone else's session from getOrCreate.
  *
  * The JVM's first code generation fixes Spark's codegen cache size, so
  * every session here that generates code takes GraftExtensions'
  * default; only the explicit-setting case overrides it, and it runs no
  * query.
  */
class ExtensionsSpec extends AnyFunSuite {

  /** The shared-session specs' corpus. */
  private val sfDir = new SparkSpecBase {}.sfDir

  /** The gate's session on two cores, with `confs` on top. */
  private def gateSession(app: String, confs: (String, String)*): SparkSession =
    confs.foldLeft(GraftSession.builder(2).appName(app)) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()

  /** Generated classes compiled while `body` runs (one per codegen cache miss). */
  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** The generated sources compiled while `body` runs: Spark's
    * CodeGenerator logs each source it compiles at DEBUG.
    */
  private def sourcesCompiledDuring(body: => Unit): Seq[String] = {
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val tap = new AbstractAppender("compiled-sources", null, null, true, Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val level = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.DEBUG)
    val logger = LogManager.getLogger(name).asInstanceOf[org.apache.logging.log4j.core.Logger]
    tap.start()
    logger.addAppender(tap)
    logger.setAdditive(false) // keep the sources out of the console log
    try body
    finally {
      logger.removeAppender(tap)
      logger.setAdditive(true)
      Configurator.setLevel(name, level)
    }
    seen.asScala.filter(_.contains("/* 001 */")).toSeq
  }

  test("an explicit codegen cache size and artifact isolation win over the defaults") {
    // no query: generating code here would fix the cache at 64 entries
    val spark = gateSession(
      "graft-ext-explicit",
      "spark.sql.codegen.cache.maxEntries"   -> "64",
      "spark.sql.artifact.isolation.enabled" -> "true"
    )
    try {
      assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "64")
      assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "true")
    } finally spark.stop()
  }

  test("a GraftExtensions session reports the codegen defaults") {
    val spark = gateSession("graft-ext-defaults")
    try GraftExtensions.SessionDefaults.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    finally spark.stop()
  }

  test("a repeated streaming drain compiles no generated class") {
    val spark = gateSession("graft-ext-drain")
    try {
      def drain(): Unit = assert(KinesisLikePipeline.problemStreamToStore(spark, 400, 200).count() == 400)
      info(s"first drain compiled ${compilesDuring(drain())} classes")
      assert(compilesDuring(drain()) == 0)
    } finally spark.stop()
  }

  test("a warm pass over the topic chain's 12 plans compiles no class twice") {
    val spark = gateSession("graft-ext-topic")
    try {
      val t = Tables(spark, sfDir)
      def pass(): Unit =
        Seq(
          Paging.topicPageCounts(t),
          Paging.settingsOverride(t),
          Paging.pageArns(t, 1L, 1),
          Paging.sqsBatches(t, 1L),
          Paging.fanoutPayloads(t, 1L, SparkEntry.TopicMessage),
          Paging.firstLastPageNotifications(t),
          Paging.pagesScalable(t),
          Paging.topicFanoutCounts(t),
          MathOps.adder(t),
          MathOps.multiplier(t),
          MathOps.kinesisDecode(t),
          MathOps.lambdaEventDecode(t)
        ).foreach(_.queryExecution.toRdd.count())
      val cold = sourcesCompiledDuring(pass())
      val warm = sourcesCompiledDuring(pass())
      info(s"cold pass compiled ${cold.size} classes, warm pass ${warm.size}")
      assert(warm.count(cold.contains) == 0, "the warm pass recompiled cached classes")
      // AQE numbers sibling query stages in the order their inputs finish
      // (settingsOverride's two aggregates, for one), so a warm pass may
      // still compile a cold class under another stage id; nothing else
      val unnumbered = (src: String) => src.replaceAll("Stage\\d+|codegenStageId=\\d+", "")
      assert(warm.map(unnumbered).toSet.subsetOf(cold.map(unnumbered).toSet))
    } finally spark.stop()
  }

  test("extension-injected functions evaluate in plain SQL") {
    val spark = gateSession("graft-ext-spec")
    try {
      // prove injection happened (nothing self-registered temp functions
      // in this JVM — the registry can only have been fed by the
      // extensions hook)
      assert(
        spark.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")
        ),
        "spark.sql.extensions did not inject vec_dot"
      )
      val row = spark
        .sql(
          """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
            |       vec_norm(array(3.0D, 4.0D)) AS n,
            |       size(minhash_sig(array(7L, 11L))) AS m,
            |       simhash64(array(0L)) AS s,
            |       size(winnow_fp('the quick brown fox jumps over the lazy dog and runs away')) AS w,
            |       size(lsh_buckets(array(1.0D, -2.0D, 0.5D))) AS b""".stripMargin
        )
        .collect()
        .head
      assert(row.getDouble(0) == 11.0)
      assert(row.getDouble(1) == 5.0)
      assert(row.getInt(2) == graft.functions.MinHashExpr.NumHashes)
      // all 64 bit-sums are -1 for feature hash 0 except none ≥ 0 → 0
      assert(row.getLong(3) == 0L)
      assert(row.getInt(4) > 0, "winnow_fp produced no fingerprints")
      assert(row.getInt(5) == graft.functions.HyperplaneExpr.Tables)
      // the aggregate path: an injected TypedImperativeAggregate
      val agg = spark
        .sql(
          """SELECT size(minhash_union(sig)) AS u
            |FROM (SELECT minhash_sig(array(7L, 11L)) AS sig
            |      UNION ALL SELECT minhash_sig(array(13L)))""".stripMargin
        )
        .collect()
        .head
      assert(agg.getInt(0) == graft.functions.MinHashExpr.NumHashes)
      // the MG candidate summary: frequent item must survive via SQL
      val mg = spark
        .sql(
          """SELECT mg_candidates(w) AS cand
            |FROM (SELECT explode(array('hot','hot','hot','rare','hot')) AS w)""".stripMargin
        )
        .collect()
        .head
      assert(mg.getSeq[String](0).contains("hot"), "mg_candidates lost the frequent item")
    } finally spark.stop() // own JVM, own context — safe to stop
  }

  test("gate session plans the row_number idiom through TopKPerKeyExec; conf-off clone keeps the window") {
    val spark = gateSession("graft-ext-gate-spec")
    try {
      val t = Tables(spark, sfDir)
      val grafted = graft.operators.Analytics.topEventsPerUser(t)
      val graftedPlan = grafted.queryExecution.executedPlan.toString
      assert(graftedPlan.contains("TopKPerKey"), s"gate session did not graft the idiom:\n$graftedPlan")
      // the conf-off control (exactly what q_top_events_window_ctl does)
      val ctl = spark.newSession()
      ctl.conf.set("spark.graft.topk.autoRewrite", "false")
      val windowed = graft.operators.Analytics.topEventsPerUser(Tables(ctl, sfDir))
      val ctlPlan = windowed.queryExecution.executedPlan.toString
      assert(!ctlPlan.contains("TopKPerKey"), s"kill switch ignored:\n$ctlPlan")
      assert(ctlPlan.contains("Window"), s"expected the window baseline:\n$ctlPlan")
      // same rows either way — the rewrite is invisible to results
      assert(
        grafted.collect().map(_.toSeq).toSeq == windowed.collect().map(_.toSeq).toSeq,
        "grafted and window plans disagree"
      )
      // the stratified sampler (the other row_number-idiom gate key)
      // also runs through the graft in this session
      val strat = graft.operators.Sampling.stratifiedSample(t)
      val stratPlan = strat.queryExecution.executedPlan.toString
      assert(stratPlan.contains("TopKPerKey"), s"stratified sample not grafted:\n$stratPlan")
    } finally spark.stop()
  }

  test("rewrite generalizes: a hand-written SQL row_number idiom on a fresh shape grafts") {
    // a user authoring the chargram-profile idiom in raw SQL — a query
    // shape the rule was never written against — must land on the
    // bounded-heap operator and produce the operator's exact rows
    val spark = gateSession("graft-ext-sql-graft-spec")
    try {
      val t = Tables(spark, sfDir)
      t.documents.createOrReplaceTempView("documents")
      val sql = spark.sql(
        """WITH g AS (
          |  SELECT lang, gram FROM (
          |    SELECT lang, explode(
          |      IF(length(text) >= 3,
          |         transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)),
          |         array())) AS gram
          |    FROM documents)),
          |c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
          |r AS (
          |  SELECT lang, gram, cnt,
          |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS BIGINT)
          |      AS rnk
          |  FROM c)
          |SELECT lang, gram, cnt, rnk FROM r WHERE rnk <= 10
          |ORDER BY lang, rnk""".stripMargin
      )
      val plan = sql.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), s"SQL idiom not grafted:\n$plan")
      val viaOperator = graft.operators.TextOps.chargramLangProfile(t).collect().map(_.toSeq).toSeq
      assert(sql.collect().map(_.toSeq).toSeq == viaOperator,
        "grafted SQL disagrees with the operator")
    } finally spark.stop()
  }
}
