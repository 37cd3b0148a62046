package graft

import org.apache.spark.sql.functions._

/** Scratch scaled-corpus generator (test scope, not shipped): builds a
  * K× documents corpus for the VERDICT-r21 #8 scaling spot-check —
  * sf0.1 cannot demonstrate parallel speedup (it is driver-latency
  * bound), so the heaviest documents-only keys are re-benched on a K×
  * slice at 8 vs 32 cores.
  *
  * Replica construction keeps the WORKLOAD SHAPE of the original
  * corpus instead of exploding it: replica i shifts doc_id by
  * i·(maxId+1) and prefixes every word with a replica-unique tag
  * (`r<i>x`), so within-replica shingle/near-dup structure is
  * isomorphic to the original (words are just renamed — same doc
  * lengths, same df distribution, same pair graph per replica) while
  * CROSS-replica trigram overlap is exactly zero (every shingle
  * carries the tag). A plain 8× copy would instead make every doc an
  * exact near-dup of its 7 twins and square the pair list — a
  * different (and unrepresentative) workload. All other columns ride
  * along unchanged, so n_chars-based gates fire for the same docs in
  * every replica.
  *
  * Usage: sbt "Test/runMain graft.ScratchScaleGen /tmp/sfscaled 8"
  * (other sf tables are hard-linked from the source dir so Tables
  * resolves; only documents-only keys should be benched against it.)
  */
object ScratchScaleGen {
  def main(args: Array[String]): Unit = {
    val out   = args(0)
    val k     = if (args.length > 1) args(1).toInt else 8
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val outP = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outP)
    val docs   = spark.read.parquet(s"$sfDir/documents.parquet")
    val others = docs.columns.filterNot(c => c == "doc_id" || c == "text").map(col)
    val span   = docs.agg(max("doc_id")).head().getLong(0) + 1
    val reps = (0 until k)
      .map(i =>
        docs.select(
          (col("doc_id") + lit(i * span)).as("doc_id") +:
            regexp_replace(col("text"), "(^| )", "$1r" + i + "x").as("text") +:
            others: _*))
      .reduce(_.unionAll(_))
    reps
      .repartition(32)
      .write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    // hard-link every other sf file/dir so Tables resolves them
    val src = java.nio.file.Paths.get(sfDir)
    val st  = java.nio.file.Files.list(src)
    try {
      st.forEach { p =>
        val name = p.getFileName.toString
        if (name != "documents.parquet" && !java.nio.file.Files.exists(outP.resolve(name))) {
          if (java.nio.file.Files.isDirectory(p)) {
            val sub = java.nio.file.Files.createDirectories(outP.resolve(name))
            val ss  = java.nio.file.Files.list(p)
            try ss.forEach(f =>
              java.nio.file.Files.createLink(sub.resolve(f.getFileName.toString), f))
            finally ss.close()
          } else java.nio.file.Files.createLink(outP.resolve(name), p)
        }
      }
    } finally st.close()
    println(s"SCALEGEN wrote ${k}x documents to $out (span=$span)")
    spark.stop()
  }
}
