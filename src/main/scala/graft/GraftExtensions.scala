package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.Bridge

/** SparkSessionExtensions entry point: makes the engine's native
  * kernels (every entry of `graft.functions.kernels`) first-class SQL
  * functions in any session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`, and
  * injects the TopKPerKey rewrite, the RELY-key distinct rule and one
  * query-stage prep rule, [[graft.plans.SmallSort.UnsampledRange]]: a
  * global sort whose input is at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` plans a
  * one-partition range exchange, which needs no sampling job. The
  * bound is AQE's own: `CoalesceShufflePartitions` never aims below
  * that size, so it folds such a shuffle into one partition anyway, and
  * the rule changes no partition count, only the job that sampled the
  * ranges. It adds no setting. The bound is one predicate,
  * `SmallSort.fitsOnePartition`, which `StreamIO.contentAddressedSink`
  * also uses to write a small micro-batch without its shuffle.
  *
  * (The operators' per-session `register` helpers skip a name the
  * session already resolves, so on such a session they do nothing; on
  * a vanilla session they register the kernels.)
  *
  * It also defaults [[GraftExtensions.SessionDefaults]]. Two of them
  * make Spark compile each generated class once per JVM:
  *  - `spark.sql.codegen.cache.maxEntries` sizes the JVM-wide LRU of
  *    compiled generated classes (Spark's default is 100). The topic
  *    chain cycles through more classes than that per pass, and an LRU
  *    smaller than a cyclic working set never hits.
  *  - `spark.sql.artifact.isolation.enabled=false`: with isolation on,
  *    each session gets its own executor class loader, and the loader is
  *    part of the cache key, so every streaming query (which runs on a
  *    cloned session) recompiled the classes of the drain before it.
  *    graft adds no session artifacts, so isolation protects nothing.
  *
  * Neither can be changed on a live session: the cache size is a static
  * conf, and isolation is fixed when a session is created. So the
  * defaults go on the SparkContext's own conf, which every session
  * copies when it is built; Spark applies extensions after the context
  * exists and before the first session copies that conf. Limits: an
  * explicit setting (builder, `--conf`, `-Dspark.*`) wins, and the first
  * code generation in a JVM fixes the cache size for the rest of its
  * life, whatever later sessions set.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Bridge.contextConfIfMissing(GraftExtensions.SessionDefaults)
    // whole-operator extension: the row_number-top-k idiom is rewritten
    // to the bounded-heap TopKPerKey operator planner-wide
    ext.injectOptimizerRule(_ => graft.plans.TopK.RewriteRowNumberTopK)
    ext.injectPlannerStrategy(_ => graft.plans.TopK.TopKStrategy)
    // B97: SELECT DISTINCT over a RELY-keyed table deletes its
    // aggregate (and the exchange the planner would wrap around it)
    ext.injectOptimizerRule(_ => graft.plans.KeyDistinct.EliminateDistinctOnKey)
    // a small global sort plans a one-partition range exchange (no sampling job)
    ext.injectQueryStagePrepRule(_ => graft.plans.SmallSort.UnsampledRange)
    graft.functions.kernels.foreach(k => ext.injectFunction((k.id, k.info, k.builder)))
  }
}

object GraftExtensions {

  /** Session defaults that every graft session shares; see the class
    * doc. The cache size comes from a census: a full sf0.01 Verify (all
    * 274 gate keys in one JVM, unbounded cache) compiled 3,371 distinct
    * generated classes, so 4,096 entries compile each class once per gate
    * JVM. Keeping them all cost 242 MB of metaspace at exit against
    * 222 MB with Spark's defaults. One topic pass cycles through about
    * 150 classes; below ~160 entries it thrashes again.
    *
    * `spark.sql.legacy.parquet.nanosAsLong` lets `Tables.events` read an
    * events corpus written as TIMESTAMP(NANOS), which Spark 4's parquet
    * reader otherwise rejects: the column arrives as a long, and
    * `Tables.events` rebuilds a microsecond timestamp from it. It only
    * affects nanosecond columns; the local corpora are all
    * `timestamp[us]`. Set here once, so reading `events` changes no
    * session conf.
    */
  val SessionDefaults: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries"    -> "4096",
    "spark.sql.artifact.isolation.enabled"  -> "false",
    "spark.sql.legacy.parquet.nanosAsLong"  -> "true"
  )
}
