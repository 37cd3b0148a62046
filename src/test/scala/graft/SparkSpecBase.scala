package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.Outcome
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

  private val catalogTags = scala.collection.mutable.Set.empty[String]

  /** Registers a GraftCatalog named `tag` over the warehouse `wh` for
    * the running test only: both confs are unset when it ends.
    */
  def useCatalog(tag: String, wh: String): Unit = {
    catalogTags += tag
    spark.conf.set(s"spark.sql.catalog.$tag", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$tag.warehouse", wh)
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      catalogTags.foreach { tag =>
        spark.conf.unset(s"spark.sql.catalog.$tag")
        spark.conf.unset(s"spark.sql.catalog.$tag.warehouse")
      }
      catalogTags.clear()
    }

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

  /** Every node of `df`'s final plan, after one run: AQE's query
    * stages and the plans inside them included.
    */
  def finalPlanNodes(df: DataFrame): Seq[SparkPlan] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec        => s +: nodes(s.plan)
      case _                        => p +: p.children.flatMap(nodes)
    }
    df.collect()
    nodes(df.queryExecution.executedPlan)
  }

  /** Delete a spec-created temp tree (call in a finally — temp dirs
    * outside StreamReplay's shutdown-cleaned root accumulate one per
    * suite run otherwise).
    */
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
