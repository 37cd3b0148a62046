package graft

import graft.operators.{MathOps, Paging}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import java.util.concurrent.atomic.AtomicInteger

/** `SmallSort.UnsampledRange`: a global sort whose input is at most
  * AQE's minimum partition size plans a one-partition range exchange,
  * and so runs without `RangePartitioner`'s sampling job. Everything
  * else keeps its range width.
  */
class SmallSortSpec extends SparkSpecBase {

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** (Spark jobs run, rows) of one execution of `df`'s plan. */
  private def jobsAndRows(df: DataFrame): (Int, Seq[org.apache.spark.sql.Row]) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = df.collect().toSeq
      ListenerBus.drain(spark.sparkContext)
      (jobs.get, rows)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Every range exchange in `df`'s final plan. */
  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    finalPlanNodes(df).collect { case s @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => s }

  private def rangeWidths(df: DataFrame): Seq[Int] = rangeExchanges(df).map(_.outputPartitioning.numPartitions)

  test("a small global sort runs one job fewer and keeps its total order") {
    val (jobs, rows) = jobsAndRows(MathOps.adder(tables))
    // a 1-byte bound keeps the sampled 4-way range exchange
    val (sampledJobs, sampledRows) =
      GraftSession.withConfs(spark, MinPartitionSize -> "1b")(jobsAndRows(MathOps.adder(tables)))
    assert(jobs == sampledJobs - 1, s"$jobs jobs against $sampledJobs with sampling")
    assert(rows == sampledRows)
    val ids = rows.map(_.getAs[Long]("event_id"))
    assert(ids.nonEmpty && ids == ids.sorted, "adder must come out in event_id order")
    assert(rangeWidths(MathOps.adder(tables)) == Seq(1))
  }

  test("an input above the bound keeps its range width") {
    GraftSession.withConfs(spark, MinPartitionSize -> "1b") {
      assert(rangeWidths(MathOps.adder(tables)) == Seq(4))
    }
  }

  test("an explode-fed sort is left alone; a stack-fed one counts stack's rows") {
    // lambdaEventDecode explodes each event's Records above its
    // materialized groupBy: explode's fan-out has no bound
    assert(rangeWidths(MathOps.lambdaEventDecode(tables)) == Seq(4))
    // stack(2, …) doubles a few dozen aggregate rows: still small...
    val ranges = rangeExchanges(Paging.firstLastPageNotifications(tables))
    assert(ranges.map(_.outputPartitioning.numPartitions) == Seq(1))
    // ...but with the bound at the planner's unscaled estimate of the
    // sort's input (one row per stack input row), the doubled rows are
    // over it
    val unscaled = (ranges.head.child match {
      case w: WholeStageCodegenExec => w.child
      case c                        => c
    }).logicalLink.get.stats.sizeInBytes
    GraftSession.withConfs(spark, MinPartitionSize -> s"${unscaled}b") {
      assert(rangeWidths(Paging.firstLastPageNotifications(tables)) == Seq(4))
    }
  }

  test("with partition coalescing off the range exchange is left alone") {
    GraftSession.withConfs(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      assert(rangeWidths(MathOps.adder(tables)) == Seq(4))
    }
  }

  test("repartitionByRange(3, …) keeps 3 partitions") {
    val df = tables.events.select("event_id").repartitionByRange(3, col("event_id"))
    assert(rangeWidths(df) == Seq(3))
    assert(df.rdd.getNumPartitions == 3)
  }
}
