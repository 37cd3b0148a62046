package graft

import org.apache.spark.sql.functions._

/** Scale canary for the heavy five (VERDICT-r16 item 4): one committed
  * empirical point between the sf0.1 bench and the 100 TB design
  * argument. Runs `pipeline_release`, `dedup_prefix_filter`,
  * `dedup_incremental_columnar`, `q_peak_concurrency`,
  * `text_collocations` — the five most expensive gate bodies — at
  * sf0.1 and at a synthesized ~10× corpus, and reports t(10×)/t(1×).
  * Near-linear shape = ratio ≈ 10 (or below: fixed per-query overhead
  * amortizes); a super-linear ratio flags a stage whose work grows
  * with pair mass or driver-side state.
  *
  * The 10× corpus is 10 content-VARIED copies of sf0.1, not 10
  * verbatim copies — verbatim would make every document a 10-way
  * near-dup cluster and blow the candidate mass up quadratically BY
  * CONSTRUCTION, measuring the synthesis artifact instead of the
  * operator. Each copy k permutes the vowels of words of length ≥ 4
  * (`transform(split(text))`, codegen'd): word shingles containing
  * any long word differ across copies (so cross-copy Jaccard falls
  * well under every dedup threshold and candidate mass scales with
  * copies, not copies²), while short words survive verbatim — every langid marker word and
  * stopword the curate chain's gates key on is ≤ 3 chars (TextOps
  * EnMarkers/EsMarkers/DeMarkers), so per-copy gate selectivity
  * matches the original —
  * and a 10× input is genuinely ~10× work at every stage. doc_id/event_id/user_id are
  * offset per copy to keep keys unique and per-user structure intact.
  * Result-row counts per scale are reported alongside the times so
  * any residual selectivity drift is visible in the artifact, not
  * hidden behind a ratio.
  *
  * Timing mirrors Bench: `queryExecution.toRdd.count()` (full
  * physical plan), unpersist + System.gc between runs, the fixed
  * two-key untimed warm-up (subset runs measured ~40% cold-JIT slow
  * without it — Bench.scala:49), min of `iters` runs per point. One
  * JSON line out (the Bench convention).
  */
object ScaleCanaryBench {

  private val Keys = Seq(
    "pipeline_release",
    "dedup_prefix_filter",
    "dedup_incremental_columnar",
    "q_peak_concurrency",
    "text_collocations"
  )

  // 10 distinct vowel permutations; copy 0 is the identity (the
  // original sf0.1 rows ride along unchanged). Shared with
  // ComponentMergeBench — one synthesis rule, one set of caveats.
  private[graft] val Perms = Seq(
    "aeiou", "eioua", "iouae", "ouaei", "uaeio",
    "eaiuo", "ieoau", "oaeui", "uoiea", "aieuo")

  private[graft] def mutateLongWords(textCol: String, perm: String) =
    expr(
      s"array_join(transform(split($textCol, ' '), " +
        s"w -> IF(length(w) >= 4, translate(w, 'aeiou', '$perm'), w)), ' ')")

  def main(args: Array[String]): Unit = {
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sfDir  = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_CANARY_COPIES", "10").toInt
    val iters  = sys.env.getOrElse("SPARK_GRAFT_CANARY_ITERS", "2").toInt
    require(copies <= Perms.size, s"at most ${Perms.size} content-varied copies")
    val spark = GraftSession.local(cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val scaledRoot = java.nio.file.Files.createTempDirectory("graft-scalecanary")
    val scaled     = scaledRoot.toString
    try {
      // ---- synthesize the ~10x corpus ---------------------------------
      val docs   = spark.read.parquet(s"$sfDir/documents.parquet")
      val events = spark.read.parquet(s"$sfDir/events.parquet")
      val docOff   = docs.agg(max("doc_id")).head.getLong(0) + 1L
      val evOff    = events.agg(max("event_id")).head.getLong(0) + 1L
      val userOff  = events.agg(max("user_id")).head.getLong(0) + 1L
      (0 until copies).map { k =>
        if (k == 0) docs
        else docs.select(
          (col("doc_id") + lit(k * docOff)).as("doc_id"),
          mutateLongWords("text", Perms(k)).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_.unionAll(_)).write.parquet(s"$scaled/documents.parquet")
      (0 until copies).map { k =>
        if (k == 0) events
        else events.select(
          (col("event_id") + lit(k * evOff)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * userOff)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_.unionAll(_)).write.parquet(s"$scaled/events.parquet")
      // the five keys touch only documents + events; link the rest so a
      // table resolution never falls over
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "embeddings")) {
        val src = java.nio.file.Paths.get(s"$sfDir/$t.parquet")
        if (java.nio.file.Files.exists(src))
          java.nio.file.Files.createSymbolicLink(
            java.nio.file.Paths.get(s"$scaled/$t.parquet"), src): Unit
      }

      // ---- warm-up (the Bench subset pair, untimed) -------------------
      for (n <- Seq("dedup_ngram_jaccard", "q_funnel"))
        SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count(): Unit
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()

      // ---- measure ----------------------------------------------------
      def point(name: String, dir: String): (Double, Long) = {
        var rows = 0L
        val t = (1 to iters).map { _ =>
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          System.gc()
          val t0 = System.nanoTime()
          rows = SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.min
        (t, rows)
      }
      def fmt(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      val per = Keys.map { name =>
        val (t1, r1)   = point(name, sfDir)
        val (tN, rN)   = point(name, scaled)
        println(s"[canary] $name: ${fmt(t1)} s / $r1 rows -> ${fmt(tN)} s / $rN rows " +
          s"(ratio ${fmt(tN / t1)})")
        s""""$name":{"t1":${fmt(t1)},"tN":${fmt(tN)},"ratio":${fmt(tN / t1)},""" +
          s""""rows1":$r1,"rowsN":$rN}"""
      }
      println(
        s"""{"metric":"scale_canary","copies":$copies,"iters":$iters,""" +
          s""""queries":{${per.mkString(",")}},"sf":"$sfDir"}""")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(scaledRoot.toFile)
    }
  }
}
