package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local iteration only; the driver passes two):
    // comma-separated query names — dump just those
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the gate runs THROUGH the engine's extensions (kernel functions +
    // the TopKPerKey rewrite), so optimizer-grafted plans are what the
    // DuckDB hash compare verifies — not just the vanilla ones
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // corpus canary folded into the gate harness (ADVICE r12): the
    // q_stream_sessions derivation from the capped-session drain is
    // exact ONLY while no same-user adjacency sits at exactly the
    // 30-minute gap (session_window splits at >= gap, the cap machine
    // merges at <= gap). If regenerated testdata ever violates that,
    // this names the cause right in the gate output instead of
    // leaving a bare hash mismatch on the key.
    if (only.forall(_.contains("q_stream_sessions"))) {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")
      val exactGap = graft.sources.Tables(spark, sfDir).events
        .select(col("user_id"), col("ts"))
        .withColumn("delta_us",
          expr("unix_micros(ts)") - lag(expr("unix_micros(ts)"), 1).over(w))
        .filter(col("delta_us") === 30L * 60L * 1000000L)
        .count()
      if (exactGap > 0)
        System.err.println(
          s"[verify] CANARY q_stream_sessions: $sfDir has $exactGap same-user adjacencies at " +
            "exactly the 30-minute session gap — the drain derivation is no longer exact; " +
            "expect a hash mismatch on q_stream_sessions (see SparkEntry derivation comment)"
        )
    }
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
