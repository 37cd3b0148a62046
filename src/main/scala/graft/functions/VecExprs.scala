package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd vector kernels.
  *
  * The built-in higher-order functions (`zip_with`/`aggregate`) are
  * interpreted per element — on an all-pairs cosine join that is
  * hundreds of millions of lambda invocations. These expressions emit
  * a tight primitive loop inside whole-stage codegen instead (~10-100×
  * the throughput), which is exactly the preference order the
  * architecture mandates: built-ins, then a native `Expression` with
  * `doGenCode`, never a Scala UDF.
  *
  * Summation is sequential in index order with a 0.0 seed — bitwise
  * identical to DuckDB's `list_reduce` fold in the oracles, and to the
  * `aggregate(...)` fold they replace. Float elements are widened to
  * double per element before multiplying, matching
  * `CAST(x AS DOUBLE)` in the oracle SQL.
  */
object VecExprs {

  private def elemIsFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  private def get(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  /** dot(a, b) = Σ a_i * b_i over min length, sequential. */
  case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType    = DoubleType
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x  = a.asInstanceOf[ArrayData]
      val y  = b.asInstanceOf[ArrayData]
      val lf = elemIsFloat(left.dataType)
      val rf = elemIsFloat(right.dataType)
      val n  = math.min(x.numElements(), y.numElements())
      var s  = 0.0
      var i  = 0
      while (i < n) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (${get(a, i, elemIsFloat(left.dataType))}) * (${get(b, i, elemIsFloat(right.dataType))});
           |}
           |${ev.value} = $s;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** norm(a) = sqrt(Σ a_i²), sequential. */
  case class VecNorm(child: Expression) extends UnaryExpression {
    override def dataType: DataType    = DoubleType
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(a: Any): Any = {
      val x  = a.asInstanceOf[ArrayData]
      val f  = elemIsFloat(child.dataType)
      var s  = 0.0
      var i  = 0
      val n  = x.numElements()
      while (i < n) {
        val v = if (f) x.getFloat(i).toDouble else x.getDouble(i)
        s += v * v
        i += 1
      }
      math.sqrt(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val v = ctx.freshName("v")
        s"""
           |int $n = $a.numElements();
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $v = ${get(a, i, elemIsFloat(child.dataType))};
           |  $s += $v * $v;
           |}
           |${ev.value} = java.lang.Math.sqrt($s);
           |""".stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** All-rows dot products against a constant matrix (static kernel,
    * called from generated code): out[r] = Σ_i v_i · m_r_i over min
    * length — each row's sum is the SAME sequential index-order MAC as
    * [[VecDot]], so `mat_dots(v, M)[r]` is bit-identical to
    * `vec_dot(v, M_r)`. `off` (optional) subtracts a per-row offset
    * AFTER the sum, exactly like the `vec_dot(...) - lit(o_r)` column
    * form it replaces.
    */
  def matDotsOf(v: ArrayData, m: ArrayData, off: ArrayData, vIsFloat: Boolean): ArrayData = {
    val rows = m.numElements()
    val out  = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      val row = m.getArray(r)
      val n   = math.min(v.numElements(), row.numElements())
      var s   = 0.0
      var i   = 0
      while (i < n) {
        val xv = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += xv * row.getDouble(i)
        i += 1
      }
      out(r) = if (off == null) s else s - off.getDouble(r)
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** mat_dots(v, matrix): array of per-row dot products against a
    * constant array<array<double>> (ONE literal node where the
    * column-per-row form paid rows×dims literal nodes — the plan-size
    * and analysis-time fix for the IVF/PQ projections).
    */
  case class MatDots(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType      = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true

    private def vf = elemIsFloat(left.dataType)

    override protected def nullSafeEval(a: Any, b: Any): Any =
      matDotsOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], null, vf)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        (a, b) => s"${ev.value} = graft.functions.VecExprs.matDotsOf($a, $b, null, $vf);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** PQ encode (static kernel, called from generated code): for each
    * subspace s, the FIRST argmax over codewords j of
    * `dot(resid[s·dsub .. s·dsub+dsub), cb[s][j]) − off[s][j]` — the
    * same sequential MAC, offset subtraction, and first-max tie rule
    * as the per-subspace `vec_dot − lit` score arrays +
    * `array_position(sc, array_max(sc))` chain it replaces, collapsed
    * into ONE expression so the m stacked projections (and their
    * codegen/analysis cost, the dominant driver gap of the PQ key)
    * disappear.
    */
  def pqCodesOf(resid: ArrayData, cbs: ArrayData, offs: ArrayData): ArrayData = {
    val m   = cbs.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb   = cbs.getArray(s)
      val off  = offs.getArray(s)
      val ksub = cb.numElements()
      val dsub = if (ksub == 0) 0 else cb.getArray(0).numElements()
      var best = Double.NegativeInfinity
      var bi   = 0
      var j = 0
      while (j < ksub) {
        val row = cb.getArray(j)
        val n   = math.min(row.numElements(), math.max(0, resid.numElements() - s * dsub))
        var d   = 0.0
        var i   = 0
        while (i < n) { d += resid.getDouble(s * dsub + i) * row.getDouble(i); i += 1 }
        d -= off.getDouble(j)
        if (d > best) { best = d; bi = j } // strict: first max wins
        j += 1
      }
      out(s) = bi
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC partial sum (static kernel): Σ_s lut[s·ksub + codes[s]],
    * s ascending — the `element_at` reduce it replaces, one call.
    */
  def pqAdcOf(lut: ArrayData, codes: ArrayData): Double = {
    val m    = codes.numElements()
    val ksub = if (m == 0) 0 else lut.numElements() / m
    var s = 0
    var x = 0.0
    while (s < m) { x += lut.getDouble(s * ksub + codes.getInt(s)); s += 1 }
    x
  }

  /** pq_codes(resid, codebooks, offsets) → array<int> of per-subspace
    * codeword ids; codebooks is one array<array<array<double>>>
    * literal, offsets one array<array<double>> literal.
    */
  case class PqCodes(first: Expression, second: Expression, third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
    override def dataType: DataType      = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
      pqCodesOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        (a, b, c) => s"${ev.value} = graft.functions.VecExprs.pqCodesOf($a, $b, $c);")

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  /** pq_adc(lut, codes) → the LUT sum of one candidate's codes. */
  case class PqAdc(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType      = DoubleType
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(a: Any, b: Any): Any =
      pqAdcOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        (a, b) => s"${ev.value} = graft.functions.VecExprs.pqAdcOf($a, $b);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `vec_dot(a, b)`, `vec_norm(a)`, `mat_dots(v, matrix)`,
    * `pq_codes(resid, codebooks, offsets)` and `pq_adc(lut, codes)` as
    * SQL functions.
    */
  val kernels: Seq[Kernel] = Seq(
    Kernel("vec_dot",  VecDot.getClass,   exprs => VecDot(exprs(0), exprs(1))),
    Kernel("vec_norm", VecNorm.getClass,  exprs => VecNorm(exprs.head)),
    Kernel("mat_dots", classOf[MatDots],  exprs => MatDots(exprs(0), exprs(1))),
    Kernel("pq_codes", classOf[PqCodes],  exprs => PqCodes(exprs(0), exprs(1), exprs(2))),
    Kernel("pq_adc",   classOf[PqAdc],    exprs => PqAdc(exprs(0), exprs(1)))
  )

  /** Idempotent per-session registration of [[kernels]]. */
  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
