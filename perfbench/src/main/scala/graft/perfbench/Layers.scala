package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counters, read from the benchmark's own listener during
  * traced cycles. A job, plan or block belongs to the call whose wall
  * interval contains it: one client runs one call at a time, so the
  * interval is an exact attribution.
  */
final class Layers extends SparkListener with QueryExecutionListener {
  import Layers._

  val jobs   = ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, Stage]
  val plans  = ArrayBuffer.empty[Plan]
  val blocks = ArrayBuffer.empty[Block]
  private val taskTimes = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m  = si.taskMetrics
    stages(si.stageId) = Stage(
      si.stageId,
      si.numTasks,
      si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L),
      m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead,
      taskTimes.remove((si.stageId, si.attemptNumber())).map(_.toSeq).getOrElse(Nil)
    )
  }

  /** RDD blocks are what `localCheckpoint` and `persist` leave behind. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = info.memSize + info.diskSize
    if (info.blockId.isRDD && size > 0) blocks += Block(System.currentTimeMillis(), size)
  }

  // analysis + optimization + physical planning of each Dataset action
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty)
      plans += Plan(phases.values.map(_.endTimeMs).max, phases.values.map(_.durationMs).sum)
  }

  def view(s: Sample): OpView = synchronized {
    def inOp(t: Long) = t >= s.startMs - 1 && t <= s.endMs + 1
    val js = jobs.filter(j => inOp(j.start) && j.end >= 0).toSeq.sortBy(_.start)
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    // union of job intervals: the part of the call Spark jobs cover
    var busy   = 0L
    var cursor = Long.MinValue
    js.foreach { j =>
      val from = math.max(j.start, cursor)
      if (j.end > from) { busy += j.end - from; cursor = j.end }
    }
    val bs = blocks.filter(b => inOp(b.atMs))
    OpView(
      js,
      ss,
      math.min(busy.toDouble, s.ms),
      s.planMs + plans.filter(p => inOp(p.atMs)).map(_.ms).sum,
      bs.size,
      bs.map(_.bytes).sum
    )
  }
}

object Layers {
  final case class Job(id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class Stage(
      id: Int,
      tasks: Int,
      submitted: Long,
      completed: Long,
      taskMs: Long,
      shuffleWrite: Long,
      shuffleRead: Long,
      spill: Long,
      input: Long,
      taskTimes: Seq[Long]
  )
  final case class Plan(atMs: Long, ms: Long)
  final case class Block(atMs: Long, bytes: Long)

  /** Spark-layer view of one call. */
  final case class OpView(
      jobs: Seq[Job],
      stages: Seq[Stage],
      jobMs: Double,
      planMs: Double,
      blocks: Int,
      blockBytes: Long
  )

  /** The `spark.*` per-layer metrics over the given traced calls: times
    * are medians per call, except the ones most calls spend none of
    * (single-task stages, GC), which are means like counts and bytes.
    */
  def sparkMetrics(layers: Layers, ops: Seq[Sample], cores: Int): Seq[(String, Double, String)] = {
    val views = ops.map(s => s -> layers.view(s))
    def med(f: ((Sample, OpView)) => Double) = Stats.median(views.map(f))
    def avg(f: ((Sample, OpView)) => Double) = Stats.mean(views.map(f))
    val allStages = views.flatMap(_._2.stages)
    val skews = allStages.filter(_.taskTimes.size >= 2).map { st =>
      val m = Stats.median(st.taskTimes.map(_.toDouble))
      st.taskTimes.max.toDouble / math.max(1.0, m)
    }
    val wallCoreMs = ops.map(_.ms).sum * cores
    Seq(
      ("spark.planning_ms", med(_._2.planMs), "ms"),
      ("spark.jobs", avg(_._2.jobs.size.toDouble), "count"),
      ("spark.stages", avg(_._2.stages.size.toDouble), "count"),
      ("spark.job_ms", med(_._2.jobMs), "ms"),
      ("spark.driver_gap_ms", med(v => v._1.ms - v._2.jobMs), "ms"),
      (
        "spark.single_task_stage_ms",
        avg(_._2.stages.filter(_.tasks == 1).map(st => (st.completed - st.submitted).toDouble).sum),
        "ms"
      ),
      ("spark.task_ms", med(_._2.stages.map(_.taskMs.toDouble).sum), "ms"),
      (
        "spark.busy_frac",
        allStages.map(_.taskMs.toDouble).sum / wallCoreMs,
        "frac"
      ),
      ("spark.input_bytes", avg(_._2.stages.map(_.input.toDouble).sum), "bytes"),
      ("spark.shuffle_write_bytes", avg(_._2.stages.map(_.shuffleWrite.toDouble).sum), "bytes"),
      ("spark.shuffle_read_bytes", avg(_._2.stages.map(_.shuffleRead.toDouble).sum), "bytes"),
      ("spark.spill_bytes", avg(_._2.stages.map(_.spill.toDouble).sum), "bytes"),
      ("spark.stage_skew", if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio"),
      ("spark.checkpoint_blocks", avg(_._2.blocks.toDouble), "count"),
      ("spark.checkpoint_bytes", avg(_._2.blockBytes.toDouble), "bytes"),
      ("spark.gc_ms", avg(_._1.gcMs.toDouble), "ms")
    )
  }
}
