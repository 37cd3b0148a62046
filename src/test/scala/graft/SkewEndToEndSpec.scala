package graft

import java.nio.file.Files

import graft.operators.{Dedup, Joins}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** End-to-end skew demonstration on REAL operator plans (VERDICT-r10
  * item 6): PlanSpec proves AQE's skew-join machinery fires on a toy
  * frame; these tests push a deliberately hot-keyed sf0.1 corpus
  * through the actual dedup posting join and the salted join and assert
  * the levers fire on the operator's own executed plan — the local[*]
  * miniature of the 100 TB boilerplate-shingle / hot-user case.
  *
  * Fixtures are derived from the sf0.1 tables and written to a temp dir
  * so the operators run unmodified through their `Tables` entry points.
  */
class SkewEndToEndSpec extends SparkSpecBase {

  private val sf01 = "/root/testdata/sf0.1"

  private def hotDir(build: java.nio.file.Path => Unit): String = {
    val dir = Files.createTempDirectory("graft-skew")
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      val us = Files.walk(dir)
      try us.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_))
      finally us.close()
    }
    build(dir)
    dir.toString
  }

  test("dedup df join-back: AQE splits the hot-shingle partition on the real capped operator") {
    // thresholds scaled to test-SF shuffle sizes, same discipline as
    // PlanSpec's toy-frame test: the hot shingles' partitions must
    // exceed factor×median for OptimizeSkewedJoin to split them
    GraftSession.withConfs(
      spark,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"             -> "4KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor"           -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled"               -> "false",
      "spark.sql.shuffle.partitions"                                -> "8"
    ) {
      // boilerplate flood: 120k synthetic 5-word docs over a real sf0.1
      // slice put TWO trigram shingles in ~30% of all posting rows each
      // (vs median partition ~5%) — the hostile-corpus shape. A truly
      // hot shingle makes the UNCAPPED pair join quadratic by
      // definition (120k² candidate pairs); the production answer is
      // the df-cap, which drops the hot keys from the INDEX — but the
      // document-frequency semi-join-back still ingests the full skewed
      // posting mass first, and THAT is the shuffle AQE must split
      // (the scaladoc's "join-back is AQE-splittable skew", proven here
      // on the operator's own executed plan, not a toy frame)
      val dir = hotDir { d =>
        val synth = spark
          .range(120000)
          .select(
            (col("id") + 1000000L).as("doc_id"),
            concat(lit("u"), col("id"), lit(" shared boilerplate footer here")).as("text"),
            lit("en").as("lang"),
            lit("synthetic").as("source"),
            lit(40L).as("n_chars")
          )
        Tables(spark, sf01).documents
          .filter(col("doc_id") % 10 === 0)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .unionAll(synth)
          .write.parquet(s"$d/documents.parquet")
      }
      val hot = Tables(spark, dir)
      // the operator's own capped-postings subtree, executed exactly as
      // ngramJaccardCapped materializes it (terminal checkpoint stage)
      val capped = Dedup.cappedPostings(Dedup.hashedPostingsOn(hot.documents).localCheckpoint(), 100)
      // toRdd.count() executes THIS queryExecution's full physical plan
      // so its AdaptiveSparkPlan finalizes (df.count() would run a
      // separate pruned execution)
      assert(capped.queryExecution.toRdd.count() > 0, "capped postings empty")
      val plan = capped.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not mark the df join-back skewed:\n$plan")
      assert(
        plan.contains("AQEShuffleRead skewed"),
        s"no skewed shuffle read on the df join-back:\n$plan"
      )
      // and end to end: the full capped operator completes on the
      // hostile corpus BECAUSE the cap dropped the hot keys from the
      // index — no synthetic doc may pair (their only shared shingles
      // are over-cap; uncapped this would be 120k² candidates)
      val pairs = Dedup.ngramJaccardCapped(hot).collect()
      assert(
        !pairs.exists(r => r.getLong(0) >= 1000000L || r.getLong(1) >= 1000000L),
        "boilerplate-only pairs survived the df cap"
      )
    }
  }

  test("salted join: hot user spreads across all salt buckets and values match the unsalted join") {
    // one customer owns 20% of sf0.1 events (~20k rows): the classic
    // hot-entity fact-dim join that serializes one reducer unsalted
    val hotUser = 1L
    val dir = hotDir { d =>
      val t = Tables(spark, sf01)
      t.events
        .withColumn(
          "user_id",
          when(col("event_id") % 5 === 0, lit(hotUser)).otherwise(col("user_id"))
        )
        .write.parquet(s"$d/events.parquet")
      t.customer.write.parquet(s"$d/customer.parquet")
    }
    val hot = Tables(spark, dir)
    val df  = Joins.saltedJoin(hot)
    val rows = df.collect()
    // the exchange must key on (user_id, salt) — the salt IS the plan
    // lever, visible in the operator's own executed partitioning
    val plan = df.queryExecution.executedPlan.toString
    assert(
      plan.contains("salt"),
      s"salted join plan lost the salt key (exchange not on (user_id, salt)):\n$plan"
    )
    // the hot key genuinely lands in all R reducer groups
    val saltsUsed = hot.events
      .select(col("user_id"), pmod(xxhash64(col("event_id")), lit(Joins.SaltBuckets)).as("salt"))
      .filter(col("user_id") === hotUser)
      .select(countDistinct("salt"))
      .head()
      .getLong(0)
    assert(
      saltsUsed == Joins.SaltBuckets,
      s"hot user used $saltsUsed of ${Joins.SaltBuckets} salt buckets"
    )
    // and the salt never changes values: identical to the plain join
    val oracle = hot.events
      .join(hot.customer, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), graft.operators.Num.moneySum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
      .collect()
    assert(rows.toSeq == oracle.toSeq, "salted join values diverge from the unsalted join")
  }
}
