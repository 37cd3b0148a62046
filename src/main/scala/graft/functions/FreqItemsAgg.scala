package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `mg_candidates(word)` — Misra-Gries frequent-item summary as a
  * distributive aggregate: a bounded map of `Capacity` counters whose
  * survivors are a GUARANTEED superset of every item with true
  * frequency > N / (Capacity + 1).
  *
  * This is the candidate-generation half of the sketch-then-verify
  * heavy-hitters pattern (see
  * [[graft.operators.TextOps.frequentWords]]): at 100 TB a full
  * (word, count) aggregation shuffles the entire vocabulary — the MG
  * sketch instead partial-aggregates a FIXED-SIZE buffer map-side
  * (TypedImperativeAggregate gives the combine + binary shuffle for
  * free), the single merged summary is tiny (≤ Capacity strings), and
  * only the ≤ Capacity candidates get an exact verification count.
  * The guarantee makes the composed operator EXACT: candidates can
  * include false positives (the verify pass removes them) but never
  * miss a true frequent item, so the final output equals the
  * brute-force oracle.
  *
  * Update is the classic MG step (hit: +1; room: insert; full:
  * decrement-all, drop zeros). Merge is the Berinde et al. summary
  * merge: sum counters, then subtract the (Capacity+1)-th largest
  * count from the kept top-Capacity and drop non-positives — errors
  * add, so the merged guarantee is the sum of the halves' bounds,
  * still ≤ N / (Capacity + 1) overall.
  */
case class MisraGriesCandidates(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  private val cap = FreqItemsAgg.Capacity

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty[String, Long]

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow
  ): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val w = v.asInstanceOf[UTF8String].toString
      buf.get(w) match {
        case Some(c) => buf.update(w, c + 1)
        case None if buf.size < cap => buf.update(w, 1L)
        case None =>
          // decrement-all: every tracked counter absorbs the miss
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { k =>
            val c = buf(k) - 1
            if (c <= 0) dead += k else buf.update(k, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]
  ): mutable.HashMap[String, Long] = {
    other.foreach { case (k, c) => buf.update(k, buf.getOrElse(k, 0L) + c) }
    if (buf.size > cap) {
      // subtract the (cap+1)-th largest count, keep positives — the
      // summary-merge that adds the two halves' error bounds
      val d = buf.values.toArray.sorted(Ordering[Long].reverse).apply(cap)
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { k =>
        val c = buf(k) - d
        if (c <= 0) dead += k else buf.update(k, c)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  /** Candidates sorted (residual count desc, word asc) — deterministic
    * output for a spec; downstream re-counts exactly, so order is
    * otherwise immaterial.
    */
  override def eval(buf: mutable.HashMap[String, Long]): Any =
    new GenericArrayData(
      buf.toArray
        .sortBy { case (w, c) => (-c, w) }
        .map { case (w, _) => UTF8String.fromString(w) }
    )

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray.map { case (w, c) => (w.getBytes(StandardCharsets.UTF_8), c) }
    val bb = ByteBuffer.allocate(4 + entries.map(e => 4 + e._1.length + 8).sum)
    bb.putInt(entries.length)
    entries.foreach { case (wb, c) =>
      bb.putInt(wb.length)
      bb.put(wb)
      bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb  = ByteBuffer.wrap(bytes)
    val n   = bb.getInt()
    val out = mutable.HashMap.empty[String, Long]
    var i   = 0
    while (i < n) {
      val len = bb.getInt()
      val wb  = new Array[Byte](len)
      bb.get(wb)
      out.update(new String(wb, StandardCharsets.UTF_8), bb.getLong())
      i += 1
    }
    out
  }

  override def dataType: DataType        = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean         = false
  override def children: Seq[Expression] = child :: Nil
  override def withNewMutableAggBufferOffset(o: Int): MisraGriesCandidates =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesCandidates =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

object FreqItemsAgg {

  /** Counter budget. The exactness guarantee of the composed operator
    * needs threshold divisor k ≤ Capacity + 1 (an item with count >
    * N/k then always survives the summary); 48 covers the k = 32 gate
    * threshold with room, while specs drive vocabularies ≫ 48 to
    * exercise eviction and the merge path.
    */
  val Capacity = 48

  val kernels: Seq[Kernel] =
    Seq(Kernel("mg_candidates", classOf[MisraGriesCandidates], exprs => MisraGriesCandidates(exprs.head)))

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
