package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd trigram-shingle kernels.
  *
  * The SQL form — `array_distinct(transform(sequence(1, n-2), i ->
  * concat_ws(' ', try_element_at(ws,i), …)))` — evaluates an
  * INTERPRETED lambda per element (HigherOrderFunction bodies never
  * compile), which made the shingle build the hottest per-row cost of
  * the whole dedup/curation family, and the `transform(sh, v ->
  * crc32(v) % P)` that feeds `minhash_sig` paid the same interpreted
  * tax again. These expressions run the identical math as one compiled
  * loop (a static JVM method the generated code calls directly, so the
  * surrounding projection stays whole-stage-codegen).
  *
  * Semantics are pinned to the SQL forms they replace, element for
  * element:
  *  - `shingles(ws)`: for i in 1..greatest(size-2, 1), the trigram is
  *    `concat_ws(' ', ws[i], ws[i+1], ws[i+2])` with out-of-bounds
  *    elements skipped (try_element_at's NULL + concat_ws's
  *    null-skipping), deduplicated keeping FIRST occurrence order
  *    (array_distinct's rule) — so even stored `sh` payloads are
  *    byte-identical to the interpreted build's.
  *  - `minhash_sig_str(sh)`: x = crc32(utf8 bytes) % P per shingle
  *    (java.util.zip.CRC32 — exactly Spark's crc32), then the
  *    [[MinHashExpr]] permutation minima over the x values. Equals
  *    `minhash_sig(transform(sh, v -> crc32(v) % P))` exactly; empty
  *    input yields the array-of-P neutral, like MinHashSig.
  */
object ShingleExprs {

  private val Space = UTF8String.fromString(" ")

  // the MinHashExpr hash family, pre-tabulated once (coefA/coefB do
  // modular arithmetic — not something for the inner loop)
  private val A: Array[Long] = Array.tabulate(MinHashExpr.NumHashes)(MinHashExpr.coefA)
  private val B: Array[Long] = Array.tabulate(MinHashExpr.NumHashes)(MinHashExpr.coefB)

  /** Distinct trigram shingles of a word array — the compiled twin of
    * Dedup's ShingleArrayExpr (called from generated code).
    */
  def shinglesOf(ws: ArrayData): ArrayData = {
    val n   = ws.numElements()
    val end = math.max(n - 2, 1) // sequence(1, greatest(n-2, 1))
    val seen = new java.util.LinkedHashSet[UTF8String](math.max(8, end * 2))
    var i = 0
    while (i < end) {
      // 0-based window [i, i+2]; elements past the end are skipped
      // (try_element_at -> NULL, concat_ws skips NULLs)
      val parts = new java.util.ArrayList[UTF8String](3)
      var j = i
      val hi = math.min(i + 2, n - 1)
      while (j <= hi) {
        val e = if (ws.isNullAt(j)) null else ws.getUTF8String(j)
        if (e != null) parts.add(e)
        j += 1
      }
      seen.add(UTF8String.concatWs(Space, parts.toArray(new Array[UTF8String](parts.size)): _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** crc32 % P per shingle, then the MinHashExpr permutation minima —
    * one fused loop (called from generated code).
    */
  def minhashOf(sh: ArrayData): ArrayData = {
    val P    = MinHashExpr.P
    val nh   = MinHashExpr.NumHashes
    val n    = sh.numElements()
    val mins = Array.fill(nh)(P)
    val crc  = new java.util.zip.CRC32
    var j    = 0
    while (j < n) {
      val b = sh.getUTF8String(j).getBytes
      crc.reset()
      crc.update(b, 0, b.length)
      val x = crc.getValue % P
      var i = 0
      while (i < nh) {
        val h = (A(i) * x + B(i)) % P
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** Positional k-gram hashes: element i is
    * `xxhash64(concat_ws(' ', ws[i..i+k-1]))` for i in 0..n-k; empty
    * when n < k — the compiled twin of the posexplode + lead-window
    * k-gram build (called from generated code).
    */
  def kgramHashesOf(ws: ArrayData, k: Int): ArrayData = {
    val n = ws.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out   = new Array[Long](n - k + 1)
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i <= n - k) {
      var j = 0
      // null elements pass through as null and concatWs skips them —
      // the concat_ws semantics of the SQL build this kernel replaces
      // (split() output is never null, but the registered SQL surface
      // is not restricted to it, and UnsafeArrayData.getUTF8String on
      // a null slot is undefined, not null)
      while (j < k) {
        parts(j) = if (ws.isNullAt(i + j)) null else ws.getUTF8String(i + j)
        j += 1
      }
      val gram = UTF8String.concatWs(Space, parts: _*)
      out(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(gram, org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-doc bigram totals as one compiled pass:
    * (total bigram occurrences, max multiplicity of any one bigram) —
    * equals TextOps.bigramAgg's two-groupBy rollup exactly (words from
    * split(text, ' ') never contain the separator, so the joined gram
    * is an injective key). n < 2 words yields (0, 0), the value the
    * rollup's absent row coalesces to.
    */
  def bigramStatsOf(ws: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = ws.numElements()
    if (n < 2)
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L)
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var top    = 0
    var i      = 0
    while (i < n - 1) {
      val bg = UTF8String.concatWs(Space, ws.getUTF8String(i), ws.getUTF8String(i + 1))
      val c  = counts.merge(bg, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow((n - 1).toLong, top.toLong)
  }

  case class Shingles(child: Expression) extends UnaryExpression {
    override def dataType: DataType      = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(input: Any): Any =
      shinglesOf(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, xs => s"${ev.value} = graft.functions.ShingleExprs.shinglesOf($xs);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class MinHashSigStr(child: Expression) extends UnaryExpression {
    override def dataType: DataType      = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(input: Any): Any =
      minhashOf(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, xs => s"${ev.value} = graft.functions.ShingleExprs.minhashOf($xs);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private val Comma = UTF8String.fromString(",")

  /** 32×4 LSH band keys of a 128-hash minhash signature — element b is
    * `concat_ws(',', slice(sig, b*4+1, 4))`, the compiled twin of the
    * interpreted band transform (called from generated code).
    */
  def bandKeysOf(sig: ArrayData): ArrayData = {
    val bands = sig.numElements() / 4
    val out   = new Array[AnyRef](bands)
    val parts = new Array[UTF8String](4)
    var b = 0
    while (b < bands) {
      var j = 0
      while (j < 4) {
        parts(j) = UTF8String.fromString(java.lang.Long.toString(sig.getLong(b * 4 + j)))
        j += 1
      }
      out(b) = UTF8String.concatWs(Comma, parts: _*)
      b += 1
    }
    new GenericArrayData(out)
  }

  case class BandKeys(child: Expression) extends UnaryExpression {
    override def dataType: DataType      = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(input: Any): Any =
      bandKeysOf(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, xs => s"${ev.value} = graft.functions.ShingleExprs.bandKeysOf($xs);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** kgram_hashes(ws, k): k must be a foldable int literal. */
  case class KgramHashes(child: Expression, kExpr: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression  = child
    override def right: Expression = kExpr
    override def dataType: DataType      = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true

    // validate k at ANALYSIS time: the function is registered
    // session-wide as SQL `kgram_hashes`, and a non-foldable or
    // non-int k would otherwise surface as a confusing execution-time
    // error (or an NPE inside eval(null) for a column reference)
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (!child.dataType.isInstanceOf[ArrayType])
        TypeCheckResult.TypeCheckFailure(
          s"kgram_hashes: first argument must be ARRAY<STRING>, got ${child.dataType.catalogString}")
      else if (!kExpr.foldable || kExpr.dataType != org.apache.spark.sql.types.IntegerType)
        TypeCheckResult.TypeCheckFailure(
          s"kgram_hashes: k must be a foldable INT literal, got ${kExpr.sql}")
      else kExpr.eval(null) match {
        case i: Int if i >= 2 => TypeCheckResult.TypeCheckSuccess
        case i: Int           => TypeCheckResult.TypeCheckFailure(s"kgram_hashes: k must be >= 2, got $i")
        case _                => TypeCheckResult.TypeCheckFailure("kgram_hashes: k must be a non-null INT literal")
      }
    }

    private lazy val k: Int = kExpr.eval(null) match {
      case i: Int => require(i >= 2, s"kgram_hashes: k must be >= 2, got $i"); i
      case other  => throw new IllegalArgumentException(s"kgram_hashes: k must be an int literal, got $other")
    }

    override protected def nullSafeEval(ws: Any, unused: Any): Any =
      kgramHashesOf(ws.asInstanceOf[ArrayData], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        (xs, _) => s"${ev.value} = graft.functions.ShingleExprs.kgramHashesOf($xs, $k);")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(child = l, kExpr = r)
  }

  case class BigramStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType =
      org.apache.spark.sql.types.StructType.fromDDL("n_bigrams BIGINT, top_bigram_count BIGINT")
    override def nullIntolerant: Boolean = true

    override protected def nullSafeEval(input: Any): Any =
      bigramStatsOf(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, xs => s"${ev.value} = graft.functions.ShingleExprs.bigramStatsOf($xs);")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  val kernels: Seq[Kernel] = Seq(
    Kernel("shingles",        Shingles.getClass,      exprs => Shingles(exprs.head)),
    Kernel("minhash_sig_str", MinHashSigStr.getClass, exprs => MinHashSigStr(exprs.head)),
    Kernel("kgram_hashes",    KgramHashes.getClass,   exprs => KgramHashes(exprs(0), exprs(1))),
    Kernel("bigram_stats",    BigramStats.getClass,   exprs => BigramStats(exprs.head)),
    Kernel("band_keys",       classOf[BandKeys],      exprs => BandKeys(exprs.head))
  )

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
