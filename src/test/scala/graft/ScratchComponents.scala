package graft

import graft.operators.Dedup
import graft.sources.Tables

/** Scratch (test scope): profile the component-resolution loop. */
object ScratchComponents {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(32)
    val t = Tables(spark, sfDir)
    var t0 = System.nanoTime()
    val pairs = Dedup.ngramJaccard(t).select("doc_a", "doc_b").localCheckpoint()
    println(f"PROFILE pairs build+mat: ${(System.nanoTime() - t0) / 1e9}%.2f s, n=${pairs.count()}")
    t0 = System.nanoTime()
    val comps = Dedup.nearDupComponents(t)
    println(f"PROFILE components loop: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    t0 = System.nanoTime()
    println(s"PROFILE components rows: ${comps.count()}")
    println(f"PROFILE final count: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
