package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `minhash_union(sig)` — aggregate MinHash signatures into one
  * signature for the whole group (element-wise minimum).
  *
  * A group's unioned signature is exactly the MinHash signature of the
  * UNION of the member shingle sets, so signatures of two groups
  * estimate their Jaccard similarity as the fraction of equal
  * components — dataset-overlap measurement without pairwise document
  * joins. The buffer is a fixed Long array: partial aggregation
  * (map-side combine) and binary-serialized shuffle both come from
  * TypedImperativeAggregate, the standard custom-aggregate extension
  * point.
  */
case class MinHashUnion(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Long]] {

  private val n = MinHashExpr.NumHashes

  override def createAggregationBuffer(): Array[Long] = Array.fill(n)(MinHashExpr.P)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val sig = child.eval(input)
    if (sig != null) {
      val xs = sig.asInstanceOf[ArrayData]
      val m  = math.min(n, xs.numElements())
      var i  = 0
      while (i < m) {
        val v = xs.getLong(i)
        if (v < buf(i)) buf(i) = v
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < n) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(n * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb  = ByteBuffer.wrap(bytes)
    val out = new Array[Long](n)
    var i   = 0
    while (i < n) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def dataType: DataType          = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean           = false
  override def children: Seq[Expression]   = child :: Nil
  override def withNewMutableAggBufferOffset(o: Int): MinHashUnion = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashUnion   = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object MinHashAgg {
  val kernels: Seq[Kernel] =
    Seq(Kernel("minhash_union", classOf[MinHashUnion], exprs => MinHashUnion(exprs.head)))

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
