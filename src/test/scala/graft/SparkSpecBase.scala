package graft

import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + sf0.001 tables for all specs. One session
  * per forked test JVM (getOrCreate), so suites don't pay startup. It
  * is the gate's session ([[GraftSession.local]]), so the specs run
  * under the same extensions and optimizer rules as Verify and Bench.
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir: String            = "/root/testdata/sf0.001"
  def tables: Tables           = Tables(spark, sfDir)

  /** Delete a spec-created temp tree (call in a finally — temp dirs
    * outside StreamReplay's shutdown-cleaned root accumulate one per
    * suite run otherwise).
    */
  /** SF directories actually present under /root/testdata — corpus
    * canaries iterate THIS instead of hardcoding the bench-scale SFs,
    * so a checkout with only the required sf0.001 skips (with a note)
    * instead of failing on an opaque missing-path error.
    */
  def availableSfDirs: Seq[String] = {
    val all = Seq("sf0.001", "sf0.01", "sf0.1")
    val present = all.filter(sf => new java.io.File(s"/root/testdata/$sf").isDirectory)
    (all.toSet -- present.toSet).foreach(sf => info(s"skipping absent testdata dir $sf"))
    present
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(p)
      try files.iterator().asScala.toSeq.reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally files.close()
    }
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.local(4)
}
