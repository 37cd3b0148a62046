package graft

import graft.operators.Paging
import graft.operators.Paging.{BatchSize, PageSize, devices}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `Paging.sqsBatches` and `Paging.firstLastPageNotifications` give the
  * rows, in the order, of their first formulations (kept here as the
  * reference): a global row_number window, and the union of two
  * projections of `topicPageCounts`.
  */
class PagingSpec extends SparkSpecBase {

  private def windowedSqsBatches(t: Tables, topicId: Long): DataFrame =
    devices(t)
      .filter(col("topic_id") === topicId)
      .withColumn("rn", row_number().over(Window.orderBy("user_id", "device_id")).cast("long"))
      .withColumn("batch_id", floor((col("rn") - 1) / BatchSize).cast("long"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("batch_size"), min(col("rn")).as("first_rn"), max(col("rn")).as("last_rn"))
      .orderBy("batch_id")

  private def unionFirstLast(t: Tables): DataFrame = {
    val pc = Paging.topicPageCounts(t)
    val first = pc.select(col("topic_id"), lit(1L).as("page_num"), lit("Count: 1st page sent").as("message"))
    val last = pc.select(
      col("topic_id"),
      col("page_count").as("page_num"),
      concat(lit("Count: Last Page Sent: "), col("page_count")).as("message"))
    first.unionAll(last).orderBy("topic_id", "page_num", "message")
  }

  /** Devices per topic in the spec corpus. */
  private lazy val deviceCounts: Map[Long, Long] =
    Paging.topicPageCounts(tables).collect().map(r => r.getAs[Long]("topic_id") -> r.getAs[Long]("n_devices")).toMap

  test("sqsBatches equals the windowed formulation on every topic and on a topic with no devices") {
    val t = tables
    // the corpus must hold the edge cases this compares
    assert(deviceCounts.values.exists(_ % BatchSize == 0), s"no topic with a multiple of $BatchSize: $deviceCounts")
    assert(deviceCounts.values.exists(_ % BatchSize != 0))
    val noDevices = 999L
    assert(!deviceCounts.contains(noDevices))
    (deviceCounts.keys.toSeq.sorted :+ noDevices).foreach { topic =>
      val got = Paging.sqsBatches(t, topic).collect().toSeq
      assert(got == windowedSqsBatches(t, topic).collect().toSeq, s"topic $topic")
      assert(got.size == (deviceCounts.getOrElse(topic, 0L) + BatchSize - 1) / BatchSize, s"topic $topic")
    }
  }

  test("firstLastPageNotifications equals the union of two topicPageCounts projections") {
    val pages = deviceCounts.values.map(_ / PageSize + 1)
    assert(pages.exists(_ == 1) && pages.exists(_ > 1), s"need one-page and multi-page topics: $deviceCounts")
    val got = Paging.firstLastPageNotifications(tables).collect().toSeq
    assert(got == unionFirstLast(tables).collect().toSeq)
    assert(got.size == 2 * deviceCounts.size)
  }

  test("sqsBatches ranks no device rows: no window, no single-partition exchange over devices") {
    val df   = Paging.sqsBatches(tables, 3L)
    val all  = finalPlanNodes(df)
    val plan = df.queryExecution.executedPlan
    assert(!all.exists(_.isInstanceOf[WindowExec]), s"window in sqsBatches:\n$plan")
    // the only single-partition exchange gathers the partial counts
    val gathers = all.collect { case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e.child }
    assert(gathers.nonEmpty && gathers.forall {
      case WholeStageCodegenExec(a: HashAggregateExec) => a.aggregateExpressions.forall(_.mode == Partial)
      case _                                           => false
    }, s"a single-partition exchange over device rows:\n$plan")
  }
}
