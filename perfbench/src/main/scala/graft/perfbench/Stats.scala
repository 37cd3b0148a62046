package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

object Stats {

  /** Linear-interpolated quantile (the usual "type 7" definition); NaN
    * for no samples, which the result line reports as null.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s   = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest quantile at or below `want` that leaves at least ten
    * samples above it, never below the median. Returns (q, value).
    */
  def supportedTail(xs: Seq[Double], want: Double = 0.9): (Double, Double) = {
    val q = math.max(0.5, math.min(want, 1.0 - 10.0 / math.max(1, xs.size)))
    (q, quantile(xs, q))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Order-independent fingerprint of a query's output. */
object Fingerprint {

  /** Executes `df`'s whole physical plan, as `queryExecution.toRdd.count()`
    * does, and folds each output row into (row count, wrapping sum of
    * xxhash64 over the row's UnsafeRow bytes). Hashing happens inside the
    * same tasks, so the check costs no extra Spark job.
    */
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions { rows =>
        val proj = UnsafeProjection.create(schema)
        var n    = 0L
        var h    = 0L
        rows.foreach { r =>
          val u = proj(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }
}
