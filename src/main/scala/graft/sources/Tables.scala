package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Typed accessors for the test corpus (TPC-H-ish star schema plus an
  * `events` stream table and `documents`/`embeddings` for the
  * LLM-pipeline operators).
  *
  * Each table is resolved at most once per instance: the first access
  * lists its file and infers the parquet footer schema (a Spark job),
  * and every later access reuses that `HadoopFsRelation`. No data is
  * ever cached or materialized, and each access returns a new
  * `LogicalRelation` with fresh attribute ids, so Catalyst still pushes
  * filters and prunes columns into the file scan, and a self-join
  * through two accesses resolves as it would over two reads. The file
  * listing is fixed at resolution: to see files rewritten under `dir`,
  * build a new `Tables`.
  *
  * @param docsOverride substitute `documents` frame (same schema) — the
  *   versioned-release operators run the WHOLE curation/release chain
  *   over a simulated corpus version by overriding the one input
  *   rather than threading a frame through every stage signature;
  *   None (the default, and every gate entry point) reads the parquet
  *   corpus.
  */
final case class Tables(
    spark: SparkSession,
    dir: String,
    docsOverride: Option[DataFrame] = None
) {
  /** Lists `name`'s file and infers its schema, exactly as a plain
    * `spark.read.parquet` does.
    */
  private def resolve(name: String): HadoopFsRelation =
    spark.read.parquet(s"$dir/$name.parquet").queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  @transient private lazy val regionRel     = resolve("region")
  @transient private lazy val nationRel     = resolve("nation")
  @transient private lazy val customerRel   = resolve("customer")
  @transient private lazy val supplierRel   = resolve("supplier")
  @transient private lazy val partRel       = resolve("part")
  @transient private lazy val ordersRel     = resolve("orders")
  @transient private lazy val lineitemRel   = resolve("lineitem")
  @transient private lazy val eventsRel     = resolve("events")
  @transient private lazy val documentsRel  = resolve("documents")
  @transient private lazy val embeddingsRel = resolve("embeddings")

  private def t(rel: HadoopFsRelation): DataFrame = spark.baseRelationToDataFrame(rel)

  def region: DataFrame     = t(regionRel)
  def nation: DataFrame     = t(nationRel)
  def customer: DataFrame   = t(customerRel)
  def supplier: DataFrame   = t(supplierRel)
  def part: DataFrame       = t(partRel)
  def orders: DataFrame     = t(ordersRel)
  def lineitem: DataFrame   = t(lineitemRel)
  /** events.parquet has shipped with two ts layouts: TIMESTAMP(NANOS)
    * (which Spark 4's vectorized reader rejects; a graft session reads
    * it as a long, see `GraftExtensions.SessionDefaults`, and this
    * rebuilds a microsecond timestamp) and plain TIMESTAMP_NTZ(MICROS).
    * Both become TimestampType micros (see `GraftSession` for the UTC
    * session time zone this relies on).
    */
  def events: DataFrame = {
    val df = t(eventsRel)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  /** documents/embeddings feed CPU-heavy per-row pipelines (shingling,
    * minhash, simhash, vector math). The test corpus ships as ONE
    * parquet row group per table, which would pin all of that compute
    * to a single task — so when scan parallelism is degenerate
    * (fewer files than half the cores) we round-robin rebalance once
    * up front. The data is tiny relative to the per-row compute, and
    * at production scale (thousands of row groups) the condition never
    * triggers, so no shuffle is added where the scan already
    * parallelizes.
    */
  private def rebalanced(rel: HadoopFsRelation): DataFrame = {
    val df    = t(rel)
    val cores = spark.sparkContext.defaultParallelism
    if (rel.inputFiles.length < cores / 2) df.repartition(cores) else df
  }

  def documents: DataFrame  = docsOverride.getOrElse(rebalanced(documentsRel))
  def embeddings: DataFrame = rebalanced(embeddingsRel)
}
