package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scratch microbench (test scope): posting-build strategies for the
  * trigram shingle index — the hottest shared kernel of the dedup /
  * curation / release family. Compares the current lead-window build
  * against a shuffle-free array build, and checks they produce the
  * same posting multiset.
  */
object ScratchShingle {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count()

    // current: posexplode + lead windows + distinct + count window
    def winBuild(documents: DataFrame): DataFrame = {
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      val doc   = Window.partitionBy("doc_id")
      documents
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_words"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w"))
        )
        .withColumn("sh", concat_ws(" ", col("w"), lead("w", 1).over(byDoc), lead("w", 2).over(byDoc)))
        .filter(col("pos") <= greatest(col("n_words") - 3, lit(0)))
        .select(col("doc_id"), col("sh"))
        .distinct()
        .withColumn("n_sh", count(lit(1)).over(doc))
        .select(col("doc_id"), col("n_sh"), xxhash64(col("sh")).as("shingle"))
    }

    val shArr =
      """array_distinct(transform(
        |  sequence(1, greatest(size(ws) - 2, 1)),
        |  i -> concat_ws(' ', try_element_at(ws, i), try_element_at(ws, i + 1), try_element_at(ws, i + 2))))""".stripMargin

    // candidate: per-doc array build, explode, no shuffle anywhere
    def arrBuild(documents: DataFrame): DataFrame =
      documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), expr(shArr).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
        .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("shingle"))

    // candidate with the array materialized behind an explicit
    // projection barrier so Generate cannot re-run the lambda per row
    def arrBuildSlide(documents: DataFrame): DataFrame =
      documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(
          col("doc_id"),
          expr(
            """array_distinct(transform(
              |  slice(ws, 1, greatest(size(ws) - 2, 1)),
              |  (w, i) -> concat_ws(' ', w, try_element_at(ws, i + 2), try_element_at(ws, i + 3))))""".stripMargin
          ).as("sh")
        )
        .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
        .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("shingle"))

    graft.functions.ShingleExprs.register(spark)
    graft.functions.MinHashExpr.register(spark)

    // candidate: compiled custom expression, explode, no shuffle
    def codegenBuild(documents: DataFrame): DataFrame =
      documents
        .select(col("doc_id"), expr("shingles(split(text, ' '))").as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
        .select(col("doc_id"), col("n_sh"), xxhash64(col("s")).as("shingle"))

    // signature pass: interpreted transform+crc vs fused compiled loop
    def sigInterp(documents: DataFrame): DataFrame =
      documents
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), expr(shArr).as("sh"))
        .withColumn("shx", expr("transform(sh, v -> crc32(v) % 2147483647L)"))
        .withColumn("sig", expr("minhash_sig(shx)"))
        .select(col("doc_id"), col("sig"))
    def sigCodegen(documents: DataFrame): DataFrame =
      documents
        .select(col("doc_id"), expr("shingles(split(text, ' '))").as("sh"))
        .select(col("doc_id"), expr("minhash_sig_str(sh)").as("sig"))

    def time(name: String, fn: => DataFrame): Unit = {
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        fn.queryExecution.toRdd.count()
        println(f"SHINGLE $name rep=$rep ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    time("window", winBuild(docs))
    time("codegen", codegenBuild(docs))
    time("siginterp", sigInterp(docs))
    time("sigcodegen", sigCodegen(docs))

    // equivalence: same (doc_id, n_sh, shingle) multiset / same sigs
    val a = winBuild(docs)
    val b = codegenBuild(docs)
    println("DIFF win-cg = " + a.exceptAll(b).count() + " / " + b.exceptAll(a).count())
    // ordered array equality for sh + sig: compare as exact rows
    val si = sigInterp(docs).withColumn("sig", col("sig").cast("array<long>"))
    val sc = sigCodegen(docs)
    println("DIFF sig = " + si.exceptAll(sc).count() + " / " + sc.exceptAll(si).count())
    // ordered sh equality (first-occurrence distinct order must match)
    val shA = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(shArr).as("sh"))
    val shB = docs.select(col("doc_id"), expr("shingles(split(text, ' '))").as("sh"))
    println("DIFF sh-ordered = " + shA.exceptAll(shB).count() + " / " + shB.exceptAll(shA).count())
    spark.stop()
  }
}
