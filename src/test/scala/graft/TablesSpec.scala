package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The `Tables` memo contract: one relation resolution per instance,
  * no cached data, a fresh `LogicalRelation` per access.
  */
class TablesSpec extends SparkSpecBase {

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }.get

  /** Job groups of the Spark jobs started while `body` runs under a
    * fresh group. A sentinel job under its own group runs after `body`;
    * listener events arrive in order, so once the sentinel's start has
    * been seen every job `body` started has been seen too.
    */
  private def jobGroupsDuring(body: => Unit): (String, Seq[String]) = {
    val sc       = spark.sparkContext
    val groups   = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    val group    = s"tables-spec-access-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "Tables access")
      try body
      finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "the listener never saw the sentinel job")
      (group, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("two accesses share one HadoopFsRelation and get disjoint attribute ids") {
    val t      = tables
    val (a, b) = (t.orders, t.orders)
    assert(relationOf(a) eq relationOf(b))
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).nonEmpty && (ids(a) & ids(b)).isEmpty)
    // events (ts normalization) and documents (rebalance) reuse the memo too
    assert(relationOf(t.events) eq relationOf(t.events))
    assert(relationOf(t.documents) eq relationOf(t.documents))
    assert(relationOf(tables.orders) ne relationOf(a), "a new Tables resolves again")
  }

  test("only the first access of a table launches a Spark job") {
    val t              = tables
    val (first, seen1) = jobGroupsDuring(t.customer)
    assert(seen1.contains(first), "the first access should resolve the relation with a Spark job")
    val (second, seen2) = jobGroupsDuring { t.customer; t.customer.schema }
    assert(!seen2.contains(second), s"a later access launched a job: ${seen2.filter(_ == second)}")
  }

  test("self-joins through one Tables count the same as across two instances") {
    import spark.implicits._
    val t  = tables
    val on = (a: DataFrame, b: DataFrame) =>
      a.as("a").join(b.as("b"), $"a.o_custkey" === $"b.o_custkey").count()
    val expected = on(tables.orders, tables.orders)
    assert(expected > t.orders.count())
    assert(on(t.orders, t.orders) == expected)
    val (l, r) = (t.orders, t.orders)
    assert(l.join(r, l("o_custkey") === r("o_custkey")).count() == expected)
  }

  test("a filtered scan of a memoized table still pushes its predicate") {
    val t = tables
    t.orders.count()
    val scans = t.orders.filter("o_orderkey = 7").queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metadata("PushedFilters")
    }
    assert(scans.size == 1)
    assert(scans.head.contains("EqualTo(o_orderkey,7)"), scans.head)
  }

  test("a new Tables over a rewritten dir reads the new rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-rewrite")
    try {
      val write = (n: Int) =>
        (1 to n).map(i => (i.toLong, i.toLong)).toDF("o_orderkey", "o_custkey")
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      write(3)
      assert(Tables(spark, dir.toString).orders.count() == 3)
      write(5)
      assert(Tables(spark, dir.toString).orders.count() == 5)
    } finally deleteTree(dir)
  }
}
