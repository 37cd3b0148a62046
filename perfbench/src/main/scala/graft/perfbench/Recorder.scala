package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into graft, or one micro-batch reported by a drain.
  *
  * @param kind    the class the call is pooled under ("query", "write", ...)
  * @param name    span name, `<layer>.<Object>.<fn>` or `<layer>.<store>.<op>`
  * @param startMs wall clock at the start, for matching listener events
  * @param ms      duration from `System.nanoTime`
  * @param failure exception class or wrong-output reason; failed samples
  *                never enter a timing
  * @param planMs  time spent forcing `executedPlan` (traced cycles only)
  */
final case class Sample(
    kind: String,
    name: String,
    cycle: Int,
    traced: Boolean,
    startMs: Long,
    endMs: Long,
    ms: Double,
    failure: Option[String],
    gcMs: Long,
    planMs: Double
)

/** A traced interval. `opId` is the top-level call the span belongs to;
  * `parent` is 0 for a cycle span. Times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, opId: Long, name: String, startNs: Long, endNs: Long)

/** A cycle's wall time, and the part of it its timed calls took. */
final case class CycleRec(index: Int, traced: Boolean, ms: Double, callMs: Double, ok: Boolean)

/** The closed-loop client's bookkeeping: times calls, checks their
  * output, keeps failures out of every timing, and (in traced cycles)
  * keeps spans in memory until the run ends.
  */
final class Recorder(spark: SparkSession) {
  val samples  = ArrayBuffer.empty[Sample]
  val spans    = ArrayBuffer.empty[Span]
  val cycles   = ArrayBuffer.empty[CycleRec]
  val failures = mutable.LinkedHashMap.empty[String, Int]
  var attempted = 0

  /** Whether the current cycle records spans and layer counters. */
  var tracing = false

  private var ids        = 0L
  private var cycleIndex = -1
  private var cycleSpan  = 0L
  private var cycleOk    = true
  private var cycleCallMs = 0.0
  private var opId       = 0L
  private var opPlanMs   = 0.0

  private def nextId(): Long = { ids += 1; ids }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def cycle(traced: Boolean)(body: => Unit): Unit = {
    // A forced collection takes about 0.1 s: before every call it would
    // add over a second to each topic pass, outside the timer but inside
    // the time a run may take. Once per cycle, collections left inside a
    // call show in spark.gc_ms.
    System.gc()
    cycleIndex += 1
    tracing = traced
    cycleOk = true
    cycleCallMs = 0.0
    cycleSpan = nextId()
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    if (traced) spans += Span(cycleSpan, 0L, 0L, "cycle", t0, t1)
    cycles += CycleRec(cycleIndex, traced, (t1 - t0) / 1e6, cycleCallMs, cycleOk)
    tracing = false
  }

  /** Times `body`, then checks its result outside the timer. A call that
    * throws (non-fatally) or whose check returns an error is counted as
    * failed, with its exception class or reason, and yields None.
    */
  def op[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    // what the previous call left in block storage is not billed to this one
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    attempted += 1
    opId = nextId()
    opPlanMs = 0.0
    val gc0 = gcMs()
    val w0  = System.currentTimeMillis()
    val t0  = System.nanoTime()
    val res =
      try Right(body)
      catch { case NonFatal(e) => Left(e.getClass.getName) }
    val t1  = System.nanoTime()
    val w1  = System.currentTimeMillis()
    val gc1 = gcMs()
    cycleCallMs += (t1 - t0) / 1e6
    val failure = res match {
      case Left(cls) => Some(cls)
      case Right(v) =>
        try check(v).map(msg => s"wrong output: $msg")
        catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getName}") }
    }
    failure.foreach { f =>
      val key = f.takeWhile(_ != ':')
      failures(key) = failures.getOrElse(key, 0) + 1
      System.err.println(s"perfbench: $name failed: $f")
      cycleOk = false
    }
    if (tracing) spans += Span(opId, cycleSpan, opId, name, t0, t1)
    samples += Sample(kind, name, cycleIndex, tracing, w0, w1, (t1 - t0) / 1e6, failure, gc1 - gc0, opPlanMs)
    opId = 0L
    res.toOption.filter(_ => failure.isEmpty)
  }

  /** Records a span under the running call when tracing; a span named
    * `spark.planning` also counts toward the call's planning time.
    */
  def child[T](name: String)(body: => T): T =
    if (!tracing || opId == 0L) body
    else {
      val t0 = System.nanoTime()
      val v  = body
      val t1 = System.nanoTime()
      spans += Span(nextId(), opId, opId, name, t0, t1)
      if (name == "spark.planning") opPlanMs += (t1 - t0) / 1e6
      v
    }

  /** Adds a sample that a call reported about its own parts (a drain's
    * micro-batches). It is not an attempted operation of its own.
    */
  def derived(s: Sample): Unit = samples += s.copy(cycle = cycleIndex, traced = tracing)

  def ok(kind: String): Seq[Sample] = samples.filter(s => s.kind == kind && s.failure.isEmpty).toSeq
}
