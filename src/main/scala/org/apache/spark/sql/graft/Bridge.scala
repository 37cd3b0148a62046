package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` constructors so graft can build
  * Datasets over its own logical plans (the supported pattern for
  * libraries shipping custom operators — same mechanism Delta et al.
  * use).
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  /** Eagerly convert a Column to a catalyst Expression (the lazy
    * ColumnNodeExpression wrapper only resolves during analysis, which
    * a pre-resolved custom plan skips).
    */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a catalyst Expression as a user-facing Column (the inverse
    * of [[expr]]) — lets operators use custom codegen expressions in
    * DataFrame code without a per-session function registration.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Default `confs` on the active SparkContext's own conf, keeping any
    * value already set there. Sessions built on the context afterwards
    * copy that conf, so this reaches static confs a session cannot set.
    * A no-op when no context is active.
    */
  def contextConfIfMissing(confs: Iterable[(String, String)]): Unit =
    org.apache.spark.SparkContext.getActive.foreach { sc =>
      confs.foreach { case (k, v) => sc.conf.setIfMissing(k, v) }
    }

  /** [[hadoopConfIfMissing]] on the active SparkContext's Hadoop conf,
    * which every session's Hadoop conf copies. A no-op when no context
    * is active.
    */
  def contextHadoopConfIfMissing(confs: Iterable[(String, String)]): Unit =
    org.apache.spark.SparkContext.getActive.foreach(sc => hadoopConfIfMissing(sc.hadoopConfiguration, confs))

  /** Default `confs` on `conf`, keeping any value that was set
    * explicitly (`spark.hadoop.*`, a `*-site.xml`, code). A value that
    * only Hadoop's `core-default.xml` gives does not count as set.
    */
  def hadoopConfIfMissing(conf: org.apache.hadoop.conf.Configuration, confs: Iterable[(String, String)]): Unit =
    confs.foreach { case (k, v) =>
      if (Option(conf.getPropertySources(k)).forall(_.forall(_ == "core-default.xml"))) conf.set(k, v, "graft")
    }
}
