package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd 64-bit SimHash kernel over an array of feature hashes.
  *
  * Bit i of the result is set when Σ_features (±1 by bit i of the
  * feature hash) ≥ 0. Replaces an explode → groupBy → 64 conditional
  * sums pipeline (a full shuffle plus 64 interpreted aggregates) with
  * one map-side primitive loop — SimHash becomes a narrow projection,
  * which is what lets it run at scan speed on 100 TB.
  */
object SimHashExpr {

  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType      = LongType
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(input: Any): Any = {
      val xs   = input.asInstanceOf[ArrayData]
      val n    = xs.numElements()
      val sums = new Array[Int](64)
      var j    = 0
      while (j < n) {
        val h = xs.getLong(j)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) sums(i) += 1 else sums(i) -= 1
          i += 1
        }
        j += 1
      }
      var out = 0L
      var i   = 0
      while (i < 64) {
        if (sums(i) >= 0) out |= (1L << i)
        i += 1
      }
      out
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, xs => {
        val sums = ctx.freshName("sums")
        val i    = ctx.freshName("i")
        val j    = ctx.freshName("j")
        val n    = ctx.freshName("n")
        val h    = ctx.freshName("h")
        val out  = ctx.freshName("out")
        s"""
           |int $n = $xs.numElements();
           |int[] $sums = new int[64];
           |for (int $j = 0; $j < $n; $j++) {
           |  long $h = $xs.getLong($j);
           |  for (int $i = 0; $i < 64; $i++) {
           |    $sums[$i] += ((($h >>> $i) & 1L) == 1L) ? 1 : -1;
           |  }
           |}
           |long $out = 0L;
           |for (int $i = 0; $i < 64; $i++) {
           |  if ($sums[$i] >= 0) $out |= (1L << $i);
           |}
           |${ev.value} = $out;
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  val kernels: Seq[Kernel] = Seq(Kernel("simhash64", SimHash64.getClass, exprs => SimHash64(exprs.head)))

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
