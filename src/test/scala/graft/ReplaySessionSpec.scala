package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.streaming.StreamReplay

/** Every StreamReplay-backed `q_stream_*` gate key, run through its
  * SparkEntry definition on the shared session, must leave the
  * session's explicitly set confs exactly as it found them and must not
  * leave a committed drain's checkpoint behind.
  */
class ReplaySessionSpec extends SparkSpecBase {

  test("StreamReplay-backed q_stream_* keys restore the session conf and delete their checkpoints") {
    // Tables.events sets its nanosAsLong conf on access (a known leak
    // outside StreamReplay): take it once so the loop sees only drains
    tables.events: Unit
    val queries = SparkEntry.queries
    val keys = queries.keys
      .filter(k => k.startsWith("q_stream_") && k != "q_stream_problems")
      .toSeq
      .sorted
    assert(keys.size == 29, s"expected 29 StreamReplay-backed keys, got ${keys.size}")
    val problems = keys.flatMap { k =>
      val before = spark.conf.getAll
      val failure =
        try { queries(k)(spark, sfDir).count(): Unit; None }
        catch { case NonFatal(e) => Some(s"$k threw ${e.getClass.getName}: ${e.getMessage}") }
      val after = spark.conf.getAll
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
}
