package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import Metric.M

/** Reference output fingerprints, keyed by public function (and the
  * seeded parameters it was called with). In record mode every check
  * passes and the fingerprint is kept for writing out.
  */
final class Refs(file: Path, recording: Boolean) {
  private val known: Map[String, (Long, Long)] =
    if (recording || !Files.exists(file)) Map.empty
    else {
      val JObject(fields) = parse(new String(Files.readAllBytes(file), StandardCharsets.UTF_8))
      fields.map { case (k, v) =>
        val JInt(rows) = v \ "rows"
        val JInt(hash) = v \ "xxhash64_sum"
        k -> ((rows.toLong, hash.toLong))
      }.toMap
    }
  private val recorded = mutable.TreeMap.empty[String, (Long, Long)]

  def keys: Iterable[String] = known.keys

  def check(key: String, fp: (Long, Long)): Option[String] =
    if (recording) { recorded(key) = fp; None }
    else
      known.get(key) match {
        case None                 => Some(s"no reference fingerprint for $key")
        case Some(ref) if ref == fp => None
        case Some((n, h)) => Some(s"$key: ${fp._1} rows, hash ${fp._2}; reference $n rows, hash $h")
      }

  def write(): Unit = {
    val body = recorded.toSeq.map { case (k, (n, h)) =>
      s"""  "$k": {"rows": $n, "xxhash64_sum": $h}"""
    }
    Files.write(file, body.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Host facts recorded with every run. Steal is read from /proc/stat
  * across the run: a degraded host must be visible in the record.
  */
object Host {
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.take(8).sum, if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case NonFatal(_) => None }

  final class Window {
    private val start = cpuTicks()
    def stealFrac: Double = (start, cpuTicks()) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _                                           => -1.0
    }
  }
}

object Main {
  val Cores      = 4
  val SetupReps  = 7

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      work: String,
      results: String,
      fingerprints: String,
      record: Boolean
  )

  private def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      need("workload"),
      need("seed").toLong,
      need("seconds").toDouble,
      need("trace") == "1",
      need("data"),
      need("work"),
      need("results"),
      need("fingerprints"),
      need("record") == "1"
    )
  }

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the gate's session: same retention caps and extensions as Bench
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // everything the run writes stays in its work dir
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def jnum(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)
  private def metricsJson(ms: Seq[M]): JObject =
    JObject(ms.map { case (n, v, u) => n -> JObject("value" -> jnum(v), "unit" -> JString(u)) }.toList)

  def main(args: Array[String]): Unit = {
    val o     = parseArgs(args)
    val host  = new Host.Window
    val t0    = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tmpDir   = Paths.get(System.getProperty("java.io.tmpdir"))
    val tmpStart = Workload.treeBytes(tmpDir)
    val refs     = new Refs(Paths.get(o.fingerprints), o.record)
    val ctx      = Ctx(spark, o.data, o.seed, refs)
    val w        = Workload(o.workload, ctx)
    val rec      = new Recorder(spark)
    val layers   = new Layers

    if (o.record) {
      require(Files.exists(Paths.get(o.fingerprints).getParent), s"no fingerprint dir for ${o.fingerprints}")
      val tf = w match {
        case tf: TopicFanout => tf
        case _ => throw new IllegalArgumentException(s"${o.workload} checks its output against the generator")
      }
      // reference fingerprints: every seeded parameter
      w.setup()
      rec.cycle(traced = false)(tf.recordAll(rec))
      require(rec.failures.isEmpty, s"recording failed: ${rec.failures}")
      refs.write()
      spark.stop()
      println(s"recorded ${o.workload} fingerprints into ${o.fingerprints}")
      return
    }

    def phase(what: String, since: Long): Unit =
      System.err.println(f"perfbench: $what took ${(System.nanoTime() - since) / 1e9}%.1f s")
    phase("session start", t0)
    val setups = (1 to SetupReps).map { _ =>
      val s = System.nanoTime()
      w.setup()
      (System.nanoTime() - s) / 1e9
    }
    // the untimed warm-up's operations are attempted and checked like
    // every other
    val warm = new Recorder(spark)
    val tw   = System.nanoTime()
    warm.cycle(traced = false)(w.warmup(warm))
    phase(s"set-up (${setups.mkString(", ")} s) and the warm-up", tw - (setups.sum * 1e9).toLong)

    // A run measures a fixed number of cycles: as many as take --seconds
    // at the nominal cycle time. Stopping at a deadline instead would let
    // host speed decide how many cycles, and which ones, enter a median.
    // A traced run alternates untraced and traced cycles.
    val planned = math.max(if (o.trace) 2 else 1, math.round(o.seconds / w.nominalCycleS).toInt)
    val tm      = System.nanoTime()
    (0 until planned).foreach { i =>
      val traced = o.trace && i % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(layers)
        spark.listenerManager.register(layers)
      }
      rec.cycle(traced)(w.cycle(rec))
      if (traced) {
        BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(layers)
        spark.listenerManager.unregister(layers)
      }
    }
    val measuredS = (System.nanoTime() - tm) / 1e9

    val attempted = rec.attempted + warm.attempted
    val failures  = (rec.failures.toSeq ++ warm.failures.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    val failed    = failures.values.sum

    // the workload's operations, pooled; failed ones never enter a timing
    val ops      = rec.samples.filter(s => w.opKinds(s.kind) && s.failure.isEmpty).toSeq
    val opMs     = ops.map(_.ms)
    val (tailQ, tailMs) = Stats.supportedTail(opMs)
    // a cycle's time is the time its calls took: the benchmark's own
    // checks and clean-up between calls are left out
    val okCycles = rec.cycles.filter(_.ok).map(_.callMs / 1000).toSeq
    val endToEnd: Seq[M] = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("cycle_s", Stats.median(okCycles), "s"),
      ("op_ms_p50", Stats.median(opMs), "ms")
    )
    // a run has tens of operations, so the tail quantile is rarely p90
    // and often the median: reported, not gated
    val detail: Seq[M] = (("op_ms_tail", tailMs, "ms") +: w.detail(rec)) :+
      ("error_rate", failed.toDouble / math.max(1, attempted), "frac")

    // per-layer metrics from the traced cycles only
    val tracedOps = rec.samples.filter(s => s.traced && s.failure.isEmpty && !s.kind.equals("batch")).toSeq
    val overhead = {
      val names = rec.samples.filter(s => s.failure.isEmpty && w.opKinds(s.kind)).groupBy(_.name)
      val pairs = names.values.flatMap { ss =>
        val (tr, un) = ss.partition(_.traced)
        if (tr.isEmpty || un.isEmpty) None
        else Some((Stats.median(tr.map(_.ms).toSeq), Stats.median(un.map(_.ms).toSeq)))
      }
      if (pairs.isEmpty) Double.NaN else pairs.map(_._1).sum / pairs.map(_._2).sum - 1
    }
    val perLayer: Seq[M] =
      if (!o.trace) Nil
      else
        Layers.sparkMetrics(layers, tracedOps, Cores) ++ Seq(
          ("trace_overhead_frac", overhead, "frac"),
          ("host.steal_frac", host.stealFrac, "frac")
        )
    val layerDetail = if (o.trace) w.layerDetail(rec, layers) else Nil

    val tmpEnd = Workload.treeBytes(tmpDir)
    val hostInfo = JObject(
      "nproc"             -> JInt(Runtime.getRuntime.availableProcessors()),
      "heap_max_bytes"    -> JInt(Runtime.getRuntime.maxMemory()),
      "jvm"               -> JString(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark"             -> JString(spark.version),
      "spark_master"      -> JString(spark.sparkContext.master),
      "cpu_steal_frac"    -> jnum(host.stealFrac),
      "session_start_s"   -> JDouble(sessionS),
      "tmp_bytes_start"   -> JInt(tmpStart),
      "tmp_bytes_end"     -> JInt(tmpEnd)
    )
    spark.stop()

    val correct = failed == 0
    val result = JObject(
      "correct"   -> JBool(correct),
      "attempted" -> JInt(attempted),
      "failed"    -> JInt(failed),
      "metrics"   -> metricsJson(if (o.trace) perLayer else endToEnd)
    )
    val report = JObject(
      "workload"        -> JString(o.workload),
      "seed"            -> JInt(o.seed),
      "trace"           -> JBool(o.trace),
      "measured_s"      -> JDouble(measuredS),
      "host"            -> hostInfo,
      "failures"        -> JObject(failures.toList.map { case (k, v) => k -> JInt(v) }),
      "op_tail_quantile" -> JDouble(tailQ),
      "op_samples"      -> JInt(opMs.size),
      "cycles"          -> JInt(rec.cycles.size),
      "end_to_end"      -> metricsJson(endToEnd),
      "workload_metrics" -> metricsJson(detail),
      "per_layer"       -> metricsJson(perLayer ++ layerDetail),
      "spans" -> JArray(rec.spans.toList.map { s =>
        JObject(
          "id"       -> JInt(s.id),
          "parent"   -> JInt(s.parent),
          "op"       -> JInt(s.opId),
          "name"     -> JString(s.name),
          "start_ns" -> JInt(s.startNs),
          "end_ns"   -> JInt(s.endNs)
        )
      }),
      "samples" -> JArray(rec.samples.toList.map { s =>
        JObject(
          "kind"    -> JString(s.kind),
          "name"    -> JString(s.name),
          "cycle"   -> JInt(s.cycle),
          "traced"  -> JBool(s.traced),
          "ms"      -> JDouble(s.ms),
          "failure" -> s.failure.map(JString(_)).getOrElse(JNull)
        )
      })
    )
    Files.createDirectories(Paths.get(o.results).getParent)
    Files.write(Paths.get(o.results), compact(render(report)).getBytes(StandardCharsets.UTF_8))

    def show(title: String, ms: Seq[M]): Unit = if (ms.nonEmpty) {
      println(s"$title:")
      ms.foreach { case (n, v, u) => println(f"  $n%-44s $v%16.4f $u") }
    }
    println(
      s"perfbench ${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0}: " +
        s"$attempted attempted, $failed failed, ${rec.cycles.size} cycles, ${opMs.size} op samples " +
        f"(tail quantile $tailQ%.2f), steal ${host.stealFrac}%.4f"
    )
    show("end to end", endToEnd)
    show("workload", detail)
    show("per layer", perLayer ++ layerDetail)
    if (failures.nonEmpty) println(s"failures: ${failures.mkString(", ")}")
    println(compact(render(result)))
    System.out.flush()
  }
}
