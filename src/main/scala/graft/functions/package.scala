package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** Register each `(name, builder)` as a session function unless the
    * session already resolves that name (injected by GraftExtensions,
    * registered earlier, or inherited by a cloned session). Operators
    * call their kernel's `register` on every call; re-registering would
    * replace the entry and log a warning each time.
    */
  private[graft] def registerMissing(spark: SparkSession)(fns: (String, Seq[Expression] => Expression)*): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name))) reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
