package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Codegen'd multi-table hyperplane-LSH bucket kernel.
  *
  * For `tables` hash tables of `bits` random ±1 hyperplanes each,
  * returns one sign-pattern bucket key per table — all tables×bits
  * dot products fused into a single pass over the vector (dims outer,
  * planes inner) inside whole-stage codegen. The result array is safe
  * to explode: Generate re-evaluates only interpreted lambda children
  * pathologically, and this is a codegen'd expression like `split`.
  *
  * Signs come from splitmix64(table, plane, dim) parity — driver-free
  * determinism, same family as Similarity's documented scheme.
  */
object HyperplaneExpr {

  val Bits: Int    = 4
  val Tables: Int  = 8
  val MaxDims: Int = 512

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** signs(plane)(dim), planes flattened as table*Bits+plane. */
  private val Signs: Array[Array[Double]] =
    Array.tabulate(Tables * Bits) { tp =>
      val tb = tp / Bits; val p = tp % Bits
      Array.tabulate(MaxDims) { i =>
        if ((splitmix64(tb * 1000003L + p * 8191L + i) & 1L) == 0L) -1.0 else 1.0
      }
    }

  case class LshBuckets(child: Expression) extends UnaryExpression {
    override def dataType: DataType      = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override protected def nullSafeEval(input: Any): Any = {
      val v    = input.asInstanceOf[ArrayData]
      val n    = math.min(v.numElements(), MaxDims)
      val dots = new Array[Double](Tables * Bits)
      var i    = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        var tp = 0
        while (tp < Tables * Bits) {
          dots(tp) += x * Signs(tp)(i)
          tp += 1
        }
        i += 1
      }
      val out = new Array[Long](Tables)
      var tb  = 0
      while (tb < Tables) {
        var key = 0L
        var p   = 0
        while (p < Bits) {
          if (dots(tb * Bits + p) >= 0) key |= (1L << p)
          p += 1
        }
        out(tb) = key
        tb += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val signs = ctx.addReferenceObj("lshSigns", Signs, "double[][]")
        val dots  = ctx.freshName("dots")
        val out   = ctx.freshName("out")
        val i     = ctx.freshName("i")
        val tp    = ctx.freshName("tp")
        val tb    = ctx.freshName("tb")
        val p     = ctx.freshName("p")
        val n     = ctx.freshName("n")
        val x     = ctx.freshName("x")
        val key   = ctx.freshName("key")
        val getX  = if (isFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
        s"""
           |int $n = java.lang.Math.min($v.numElements(), $MaxDims);
           |double[] $dots = new double[${Tables * Bits}];
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = $getX;
           |  for (int $tp = 0; $tp < ${Tables * Bits}; $tp++) {
           |    $dots[$tp] += $x * $signs[$tp][$i];
           |  }
           |}
           |long[] $out = new long[$Tables];
           |for (int $tb = 0; $tb < $Tables; $tb++) {
           |  long $key = 0L;
           |  for (int $p = 0; $p < $Bits; $p++) {
           |    if ($dots[$tb * $Bits + $p] >= 0) $key |= (1L << $p);
           |  }
           |  $out[$tb] = $key;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  val kernels: Seq[Kernel] = Seq(Kernel("lsh_buckets", LshBuckets.getClass, exprs => LshBuckets(exprs.head)))

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
