package graft.plans

import org.apache.spark.sql.catalyst.expressions.Stack
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** A global sort of a small input runs without a sampling job.
  *
  * A global `orderBy` plans `Exchange rangepartitioning(order, n)`, and
  * Spark's `RangePartitioner` runs a job that samples (recomputes) the
  * whole child to find the n − 1 range bounds. When that input is small,
  * AQE's `CoalesceShufflePartitions` then folds the n ranges back into
  * one partition: its target size is never below
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, so a
  * shuffle of at most that many bytes always coalesces to one. For such
  * an input this query-stage prep rule (it runs on every AQE (re)plan)
  * plans the range exchange with one partition, which `RangePartitioner`
  * does not sample. The rows, their order and the partition count of
  * the result are unchanged; the sampling job is gone.
  *
  * It fires only when [[fitsOnePartition]] holds for [[upperBound]] of
  * the exchange's input. Range exchanges the user asked for
  * (`repartitionByRange(n, …)`) are not `ENSURE_REQUIREMENTS` and stay
  * as they are; non-AQE plans (streaming micro-batches among them)
  * never run query-stage prep rules.
  *
  * The same bound has a second caller: `StreamIO.contentAddressedSink`
  * writes a micro-batch that fits in one partition with `coalesce(1)`
  * instead of its `repartition(key_prefix)` shuffle, for the same
  * reason: AQE would fold that shuffle into one partition anyway.
  */
object SmallSort {

  object UnsampledRange extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan =
      plan.transformUp {
        case s @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
            if n > 1 && upperBound(child).exists(fitsOnePartition(_, conf)) =>
          s.copy(outputPartitioning = RangePartitioning(order, 1))
      }
  }

  /** Whether AQE folds a shuffle of at most `size` bytes into one
    * partition under `conf`: AQE and its partition coalescing are on,
    * and `size` is at most
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize`.
    * `CoalesceShufflePartitions` never aims below that size, so such a
    * shuffle always ends in one partition.
    */
  def fitsOnePartition(size: BigInt, conf: SQLConf): Boolean =
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled &&
      size <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** The planner's size estimate of `plan`'s output (runtime sizes for
    * materialized query stages), or None when it is not an upper bound.
    * Spark's size-only estimate of a `Generate` is its input's size: it
    * counts neither the extra rows nor the wider rows. `stack(k, …)`
    * emits exactly k rows per input row, so its estimate is scaled by k
    * and by its row widening; any other generator (`explode` and kin)
    * fans out without bound, so a plan holding one gets no estimate.
    * Only the part above the materialized stages counts: their sizes
    * are measured.
    */
  private def upperBound(plan: SparkPlan): Option[BigInt] = {
    val gens = generators(plan)
    if (!gens.forall(_.generator.isInstanceOf[Stack])) None
    else plan.logicalLink.map(l => gens.foldLeft(l.stats.sizeInBytes)((size, g) => size * fanOut(g)))
  }

  private def generators(plan: SparkPlan): Seq[GenerateExec] = plan match {
    case s: QueryStageExec if s.isMaterialized => Nil
    case s: QueryStageExec                     => generators(s.plan)
    case g: GenerateExec                       => g +: generators(g.child)
    case p                                     => p.children.flatMap(generators)
  }

  /** How many times bigger a `stack(k, …)`'s output is than its input, rounded up. */
  private def fanOut(g: GenerateExec): BigInt = {
    // analysis has checked that stack's row count is a constant int
    val rows      = BigInt(g.generator.children.head.eval().asInstanceOf[Int])
    val (out, in) = (getSizePerRow(g.output), getSizePerRow(g.child.output))
    (rows * out + in - 1) / in
  }
}
