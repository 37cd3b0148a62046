package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd MinHash signature kernel.
  *
  * Computing 128 permutation minima with
  * `transform(shx, x -> (a*x+b) % P)` × 128 + `array_min` is ~128 ×
  * |shingles| interpreted lambda calls per document. This expression
  * does the same math in one fused primitive loop (shingles outer,
  * hash functions inner) inside whole-stage codegen.
  *
  * Hash family is identical to the interpreted form it replaces:
  * h_i(x) = (a_i·x + b_i) mod P over non-negative x < P, P = 2³¹-1,
  * so a_i·x < 2⁶² — no Long overflow.
  */
object MinHashExpr {

  val P: Long        = 2147483647L // 2^31 - 1
  val NumHashes: Int = 128

  def coefA(i: Int): Long = (((i.toLong * 2654435761L + 1L) % P + P) % P) max 1L
  def coefB(i: Int): Long = ((i.toLong * 40503L + 17L) % P + P) % P

  private val A: Array[Long] = Array.tabulate(NumHashes)(coefA)
  private val B: Array[Long] = Array.tabulate(NumHashes)(coefB)

  /** minhash_sig(array<long>) → array<long> of NumHashes minima.
    * Empty input yields an array of P (neutral max — never matches a
    * non-empty doc's band).
    */
  case class MinHashSig(child: Expression) extends UnaryExpression {
    override def dataType: DataType      = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(input: Any): Any = {
      val xs   = input.asInstanceOf[ArrayData]
      val n    = xs.numElements()
      val mins = Array.fill(NumHashes)(P)
      var j    = 0
      while (j < n) {
        val x = xs.getLong(j)
        var i = 0
        while (i < NumHashes) {
          val h = (A(i) * x + B(i)) % P
          if (h < mins(i)) mins(i) = h
          i += 1
        }
        j += 1
      }
      new GenericArrayData(mins)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, xs => {
        val a    = ctx.addReferenceObj("minhashA", A, "long[]")
        val b    = ctx.addReferenceObj("minhashB", B, "long[]")
        val mins = ctx.freshName("mins")
        val i    = ctx.freshName("i")
        val j    = ctx.freshName("j")
        val n    = ctx.freshName("n")
        val x    = ctx.freshName("x")
        val h    = ctx.freshName("h")
        s"""
           |int $n = $xs.numElements();
           |long[] $mins = new long[$NumHashes];
           |java.util.Arrays.fill($mins, ${P}L);
           |for (int $j = 0; $j < $n; $j++) {
           |  long $x = $xs.getLong($j);
           |  for (int $i = 0; $i < $NumHashes; $i++) {
           |    long $h = ($a[$i] * $x + $b[$i]) % ${P}L;
           |    if ($h < $mins[$i]) $mins[$i] = $h;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  val kernels: Seq[Kernel] = Seq(Kernel("minhash_sig", MinHashSig.getClass, exprs => MinHashSig(exprs.head)))

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
