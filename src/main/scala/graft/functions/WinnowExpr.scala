package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (rolling hash + window minima).
  *
  * Classic local fingerprinting: polynomial rolling hash over every
  * K-byte gram, then the minimum hash of each W-gram window, deduped —
  * guarantees any match of length ≥ W+K-1 shares a fingerprint, and
  * the fingerprint set is stable under prepend/append edits (unlike a
  * whole-document hash). The kernel is one compiled pass per document
  * (O(bytes)), invoked FROM generated code via a static call so the
  * projection stays inside whole-stage codegen.
  */
object WinnowExpr {

  val K = 8  // gram length in bytes
  val W = 16 // window size in grams

  private val B = 257L // polynomial base; Long wraparound arithmetic

  /** Static kernel so generated Java can call it directly. */
  def winnow(s: UTF8String, k: Int, w: Int): GenericArrayData = {
    val bytes = s.getBytes
    val n     = bytes.length
    if (n < k) {
      var h = 0L
      var i = 0
      while (i < n) { h = h * B + (bytes(i) & 0xff); i += 1 }
      return new GenericArrayData(Array(h))
    }
    val nGrams = n - k + 1
    val hashes = new Array[Long](nGrams)
    var bk     = 1L
    var i      = 0
    while (i < k - 1) { bk *= B; i += 1 } // B^(k-1)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xff); i += 1 }
    hashes(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - (bytes(i - 1) & 0xff) * bk) * B + (bytes(i + k - 1) & 0xff)
      hashes(i) = h
      i += 1
    }
    // window minima, deduped consecutively (standard winnowing select)
    val selected = new java.util.TreeSet[java.lang.Long]()
    val lastWin  = math.max(nGrams - w, 0)
    var win      = 0
    while (win <= lastWin) {
      var m = hashes(win)
      var j = win + 1
      val e = math.min(win + w, nGrams)
      while (j < e) { if (hashes(j) < m) m = hashes(j); j += 1 }
      selected.add(m)
      win += 1
    }
    val out = new Array[Long](selected.size())
    val it  = selected.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  case class WinnowFingerprint(child: Expression) extends UnaryExpression {
    override def dataType: DataType      = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(input: Any): Any =
      winnow(input.asInstanceOf[UTF8String], K, W)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.WinnowExpr.winnow($s, $K, $W);"
      )

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  val kernels: Seq[Kernel] =
    Seq(Kernel("winnow_fp", WinnowFingerprint.getClass, exprs => WinnowFingerprint(exprs.head)))

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
