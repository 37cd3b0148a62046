package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL surface for Spark's own bloom-filter sketch expressions.
  *
  * `BloomFilterAggregate` / `BloomFilterMightContain` are the engine's
  * runtime-filter machinery (InjectRuntimeFilter builds exactly these
  * around selective joins) but ship unregistered — Catalyst-internal,
  * not in the public FunctionRegistry. Registering them here exposes
  * the sketch as a first-class aggregate: build once over a corpus
  * column (mergeable binary state, map-side combined like any
  * TypedImperativeAggregate), broadcast the sketch, and probe with a
  * codegen'd `might_contain` — no UDF, no driver-side
  * `DataFrameStatFunctions.bloomFilter` collect.
  */
object BloomFuncs {
  val kernels: Seq[Kernel] = Seq(
    Kernel("bloom_agg", classOf[BloomFilterAggregate], {
      case Seq(c)       => new BloomFilterAggregate(c)
      case Seq(c, n)    => new BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
      case _ => throw new IllegalArgumentException("bloom_agg(col[, estItems[, numBits]])")
    }),
    Kernel("bloom_might_contain", classOf[BloomFilterMightContain],
      exprs => BloomFilterMightContain(exprs.head, exprs(1)))
  )

  def register(spark: SparkSession): Unit = registerMissing(spark, kernels)
}
