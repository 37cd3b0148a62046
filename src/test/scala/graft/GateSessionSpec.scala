package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.streaming.StreamReplay

/** Every gate key, run through its SparkEntry definition on the shared
  * session, must leave that session as it found it: its explicitly set
  * confs, its function registry and its `experimental` strategy and
  * optimizer lists. A key that needs confs of its own runs on a
  * `SparkEntry.scopedSession`. No key may leave a committed drain's
  * checkpoint behind.
  */
class GateSessionSpec extends SparkSpecBase {

  /** The session state a gate key may not change, one entry per item. */
  private def snapshot(): Map[String, String] =
    spark.conf.getAll.map { case (k, v) => s"conf $k" -> v } ++
      spark.sessionState.functionRegistry.listFunction().map(f => s"function ${f.unquotedString}" -> "registered") ++
      Map(
        "experimental.extraStrategies"    -> spark.experimental.extraStrategies.mkString(", "),
        "experimental.extraOptimizations" -> spark.experimental.extraOptimizations.mkString(", ")
      )

  test("every gate key leaves its session as it found it") {
    val queries = SparkEntry.queries
    val problems = queries.keys.toSeq.sorted.flatMap { k =>
      val before = snapshot()
      val failure =
        try { queries(k)(spark, sfDir).count(): Unit; None }
        catch { case NonFatal(e) => Some(s"$k threw ${e.getClass.getName}: ${e.getMessage}") }
      val after = snapshot()
      val changed = (before.keySet ++ after.keySet).toSeq.sorted
        .filter(c => before.get(c) != after.get(c))
        .map(c => s"$k changed $c: ${before.get(c)} -> ${after.get(c)}")
      failure.toSeq ++ changed
    }
    val walk = java.nio.file.Files.walk(StreamReplay.root)
    val ckpts =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString == "ckpt" && java.nio.file.Files.isDirectory(p))
        .map(p => s"checkpoint left behind: $p")
        .toList
      finally walk.close()
    assert(problems.isEmpty && ckpts.isEmpty, (problems ++ ckpts).mkString("\n", "\n", ""))
  }

  test("only GraftSession builds a session") {
    val src = new java.io.File("src")
    assert(src.isDirectory, s"no source tree at ${src.getAbsolutePath}")
    val builder = ("SparkSession" + """\s*\.\s*builder\b""").r
    val walk = java.nio.file.Files.walk(src.toPath)
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap(p => builder.findAllIn(java.nio.file.Files.readString(p)).map(_ => src.toPath.relativize(p).toString))
        .toList
      finally walk.close()
    assert(builders == List("main/scala/graft/GraftSession.scala"))
  }
}
