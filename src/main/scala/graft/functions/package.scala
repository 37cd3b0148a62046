package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

package object functions {

  /** One SQL kernel: its name, the class its `ExpressionInfo` (what
    * `DESCRIBE FUNCTION` shows) names, and its builder.
    */
  private[graft] final case class Kernel(name: String, cls: Class[_], builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo   = new ExpressionInfo(cls.getCanonicalName, name)
  }

  /** Every kernel, in one table: GraftExtensions injects each of them
    * into every session built with it.
    */
  private[graft] lazy val kernels: Seq[Kernel] =
    VecExprs.kernels ++ MinHashExpr.kernels ++ ShingleExprs.kernels ++ SimHashExpr.kernels ++
      WinnowExpr.kernels ++ HyperplaneExpr.kernels ++ MinHashAgg.kernels ++ FreqItemsAgg.kernels ++
      BloomFuncs.kernels

  /** Register each kernel as a session function unless the session
    * already resolves its name (injected by GraftExtensions, registered
    * earlier, or inherited by a cloned session). Operators call their
    * kernel's `register` on every call; re-registering would replace the
    * entry and log a warning each time.
    */
  private[graft] def registerMissing(spark: SparkSession, fns: Seq[Kernel]): Unit = {
    val reg = spark.sessionState.functionRegistry
    fns.foreach(k => if (!reg.functionExists(k.id)) reg.registerFunction(k.id, k.info, k.builder))
  }
}
