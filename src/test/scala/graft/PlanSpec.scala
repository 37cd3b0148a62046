package graft

import graft.operators.Analytics
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan assertions — the scale properties SURVEY.md §5
  * promises: dims broadcast, filters pushed to the parquet scan,
  * columns pruned, hot maps fully codegen'd.
  */
class PlanSpec extends SparkSpecBase {

  private def executedPlanString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p                        => p.toString
    }
  }

  test("q5 region volume broadcasts every dimension (single fact shuffle)") {
    val plan = executedPlanString(Analytics.regionVolume(tables))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$plan")
    // customer/nation/region/orders all fit the 64MB threshold at test
    // SF — lineitem must be the only shuffled input.
    assert(!plan.contains("SortMergeJoin"), s"unexpected sort-merge join in:\n$plan")
  }

  test("q3 pushes the mktsegment filter into the customer parquet scan") {
    val scans = Analytics
      .topOrders(tables)
      .queryExecution
      .executedPlan
      .toString
    assert(scans.contains("EqualTo(c_mktsegment,BUILDING)"), s"filter not pushed:\n$scans")
  }

  test("q1 prunes lineitem scan to the 7 referenced columns") {
    val plan = Analytics.pricingSummary(tables).queryExecution.executedPlan.toString
    val read = "ReadSchema:.*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("l_returnflag") && !read.contains("l_orderkey"), s"not pruned: $read")
  }

  // r22: the gate tails materialize their verified pairs before the
  // output sort (the range sampler otherwise re-executes the verify
  // aggregate), so the PUBLIC frames' executed plans truncate at a
  // LogicalRDD — the join shape is pinned on the pre-sort plan frames.
  test("ngram-jaccard self-join reuses one posting exchange (shuffled hash join)") {
    val plan = executedPlanString(graft.operators.Dedup.ngramJaccardPlanFrame(tables))
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffle-hash self-join:\n$plan")
    assert(plan.contains("ReusedExchange"), s"posting list computed twice:\n$plan")
  }

  test("minhash-lsh band self-join reuses one signature exchange (no recompute)") {
    val plan = executedPlanString(graft.operators.Dedup.minhashVerified(tables))
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffle-hash band join:\n$plan")
    assert(plan.contains("ReusedExchange"), s"band table computed twice:\n$plan")
    // the signature pipeline must be cut off behind the checkpoint:
    // at most one minhash_sig evaluation site in the executed plan
    assert(!plan.contains("minhash_sig"), s"signatures recomputed past the checkpoint:\n$plan")
  }

  test("gate tails materialize verified pairs before the output sort") {
    // the returned frame must be Sort-over-materialized-RDD: no join,
    // no aggregate left above the checkpoint — the shape that stops
    // the range sampler from re-executing the verification
    for (df <- Seq(
        graft.operators.Dedup.ngramJaccard(tables),
        graft.operators.Dedup.minhashLsh(tables))) {
      val plan = executedPlanString(df)
      assert(!plan.contains("HashAggregate"), s"verify agg above the checkpoint:\n$plan")
      assert(plan.contains("Scan ExistingRDD"), s"expected materialized pairs:\n$plan")
    }
  }

  test("simhash band self-join reuses one band exchange (shuffled hash join)") {
    val plan = executedPlanString(graft.operators.Dedup.simhashPairs(tables))
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffle-hash band join:\n$plan")
    assert(plan.contains("ReusedExchange"), s"band table computed twice:\n$plan")
  }

  test("exact source-similarity self-join reuses one slice exchange (shuffled hash join)") {
    val plan = executedPlanString(graft.operators.Dedup.sourceSimilarityExact(tables))
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffle-hash slice self-join:\n$plan")
    assert(plan.contains("ReusedExchange"), s"slice index computed twice:\n$plan")
  }

  test("fuzzy name self-join reuses one distinct-name exchange (shuffled hash join)") {
    val plan = executedPlanString(graft.operators.Joins.fuzzyNamePairs(tables))
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffle-hash block join:\n$plan")
    assert(plan.contains("ReusedExchange"), s"distinct-name aggregate computed twice:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size == 1, s"part must be scanned once:\n$plan")
  }

  test("collocation consumers read the materialized pair aggregate, not the corpus") {
    val plan = executedPlanString(graft.operators.TextOps.collocations(tables))
    // the explode/aggregate runs once at checkpoint time; the executed
    // plan's four consumers must all read the checkpointed RDD — any
    // FileScan here means the corpus pipeline leaked past the barrier
    assert(!plan.contains("FileScan"), s"corpus re-scanned past the pair checkpoint:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"vocab sides must broadcast:\n$plan")
  }

  test("pii redaction is a pure projection; order/epochs keep their minimal shuffle shape") {
    // pii: codegen'd regexps over the scan — the only exchange allowed
    // is the output sort's range partitioning
    val pii = executedPlanString(graft.operators.TextOps.piiRedact(tables))
    assert(
      "Exchange hashpartitioning".r.findAllIn(pii).isEmpty,
      s"pii redaction grew a wide shuffle:\n$pii"
    )
    // training order: exactly one hash shuffle (the shard window)
    val ord = executedPlanString(graft.operators.Sampling.trainingOrder(tables))
    assert(
      "Exchange hashpartitioning".r.findAllIn(ord).length == 1,
      s"training order must shuffle once, on shard:\n$ord"
    )
    // epoch mixture: factor table broadcast, never a sort-merge join;
    // the expansion itself is a codegen Generate over the scan
    val ep = executedPlanString(graft.operators.Sampling.mixtureEpochs(tables))
    assert(ep.contains("BroadcastHashJoin"), s"factors not broadcast:\n$ep")
    assert(!ep.contains("SortMergeJoin"), s"epoch join degenerated to SMJ:\n$ep")
    assert(ep.contains("Generate explode"), s"expansion is not a generator:\n$ep")
  }

  test("q6 pushes date/discount/quantity predicates into the lineitem scan") {
    // formatted mode prints untruncated PushedFilters
    val pushed = Analytics
      .selectiveRevenue(tables)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), s"date not pushed: $pushed")
    assert(pushed.contains("LessThan(l_quantity,24"), s"quantity not pushed: $pushed")
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.03"), s"discount not pushed: $pushed")
  }

  test("simhash is a pure map plan — no exchange before the sort") {
    val df   = graft.operators.Dedup.simhashes(tables)
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, s"unexpected shuffle:\n$plan")
  }

  test("DSv2 problem source prunes unrequested columns into the scan") {
    val df = spark.read
      .format("graft.sources.ProblemSource")
      .option("numRows", 100)
      .load()
      .select("seq")
    val scan = df.queryExecution.executedPlan.toString
    assert("graft_problems\\[seq#\\d+L\\]".r.findFirstIn(scan).isDefined, s"not pruned:\n$scan")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
  }

  test("DSv2 problem source pushes seq-range filters into the planned partitions") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.col
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
      df.queryExecution.executedPlan.collectLeaves().collectFirst { case b: BatchScanExec => b }.get
    val full = spark.read
      .format("graft.sources.ProblemSource")
      .option("numRows", 1000)
      .option("numPartitions", 8)
      .load()
    assert(scanOf(full).inputRDD.getNumPartitions == 8)
    val filtered = full.filter(col("seq") >= 900)
    // the filter narrows the generated range itself — 1 planned range
    // instead of 8 (the DSv2 analog of partition pruning)
    assert(scanOf(filtered).inputRDD.getNumPartitions == 1, s"range not pruned:\n${filtered.queryExecution}")
    assert(filtered.count() == 100)
    assert(filtered.agg(org.apache.spark.sql.functions.min("seq")).head().getLong(0) == 900L)
  }

  test("optimizer rule grafts TopKPerKey onto the hand-written row_number idiom") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    // reference rows with the rewrite off — otherwise both sides run
    // through TopKPerKey and the equality is vacuous
    val ctl = graft.sources.Tables(SparkEntry.controlSession(spark), sfDir)
    val expected = Analytics.topEventsPerUser(ctl).collect().map(_.toSeq).toSeq
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    val idiom = tables.events
      .select("user_id", "event_id", "event_type", "value")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("user_id", "rnk")
    val plan = executedPlanString(idiom)
    assert(plan.contains("TopKPerKey"), s"rule did not fire:\n$plan")
    // WindowExec must be gone; WindowGroupLimit may remain — that is
    // Spark's own map-side pre-limit, a free partial top-k upstream
    // of the heap operator
    assert(!plan.contains("Window ["), s"window survived the rewrite:\n$plan")
    // identical rows to the un-rewritten window query
    assert(idiom.collect().map(_.toSeq).toSeq == expected)
  }

  test("rewrite rule leaves degenerate rank bounds to the window") {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    def planOf(bound: Long): (String, Long) = {
      val df = tables.events
        .select("user_id", "event_id", "value")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= bound)
      (executedPlanString(df), df.count())
    }
    // a bound past Int.MaxValue means "keep everything" — must NOT
    // rewrite (a truncated k would silently drop rows / size a 2^31 heap)
    val (hugePlan, hugeCount) = planOf(Int.MaxValue.toLong + 66L)
    assert(!hugePlan.contains("TopKPerKey"), s"rewrote an unrepresentable bound:\n$hugePlan")
    assert(hugeCount == tables.events.count(), "huge bound must keep every row")
    // a representable bound still rewrites
    val (okPlan, okCount) = planOf(2L)
    assert(okPlan.contains("TopKPerKey"), s"did not rewrite k=2:\n$okPlan")
    assert(okCount > 0)
    // the argmax idiom (rnk = 1) rewrites to top-1; rnk = 2 (keep
    // only the SECOND row per key) must not
    val argmax = tables.events
      .select("user_id", "event_id", "value")
      .withColumn("rnk", row_number().over(w).cast("long"))
    val top1 = argmax.filter(col("rnk") === 1L)
    assert(executedPlanString(top1).contains("TopKPerKey"), "rnk=1 should rewrite")
    assert(top1.count() == tables.events.select("user_id").distinct().count())
    val second = argmax.filter(col("rnk") === 2L)
    assert(!executedPlanString(second).contains("TopKPerKey"), "rnk=2 must NOT rewrite")
  }

  test("topk operator plans as TopKPerKeyExec — no Window, no per-group sort") {
    val df   = Analytics.topEventsPerUserFast(tables)
    val plan = executedPlanString(df)
    assert(plan.contains("TopKPerKey"), s"custom operator not planned:\n$plan")
    assert(!plan.contains("Window"), s"fell back to a window:\n$plan")
    // result must equal the window-based B4 exactly (rewrite off)
    val fast = df.collect().map(_.toSeq)
    val ref  = Analytics.topEventsPerUser(graft.sources.Tables(SparkEntry.controlSession(spark), sfDir))
      .collect().map(_.toSeq)
    assert(fast.toSeq == ref.toSeq)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // force a shuffle join (no broadcast) so the optimizer must reach
    // for the semi-join reduction instead: a bloom filter built from
    // the selective dim side, pushed into the fact scan — at 100 TB
    // this is what spares the fact shuffle from carrying rows a
    // broadcast would have filtered; the defaults gate the rewrite on
    // a 10GB fact scan, so the scan threshold is scaled to test SF
    GraftSession.withConfs(
      spark,
      "spark.sql.autoBroadcastJoinThreshold"                                   -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled"                        -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"
    ) {
      val dim  = tables.part.filter(col("p_brand") === "Brand#11").select("p_partkey")
      val fact = tables.lineitem.select("l_partkey", "l_quantity")
      val plan = fact
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_partkey")
        .agg(count(lit(1)).as("n"))
        .queryExecution
        .executedPlan
        .toString
      assert(
        plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$plan"
      )
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import org.apache.spark.sql.functions.{col, count, explode, lit, when}
    // thresholds scaled to test-SF row counts: one key owns ~half of
    // the (amplified) left side, so its partition exceeds
    // factor×median and AQE must split it (OptimizeSkewedJoin)
    // instead of letting one task drag the stage — the local[*]
    // miniature of the 100 TB hot-key
    // sizes are COMPRESSED shuffle bytes — thresholds sized for the
    // hot partition's ~25k (k, value) rows after compression
    GraftSession.withConfs(
      spark,
      "spark.sql.autoBroadcastJoinThreshold"                        -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"             -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor"           -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled"               -> "false",
      "spark.sql.shuffle.partitions"                                -> "8"
    ) {
      // repartition(8) first: AQE splits a skewed REDUCE partition into
      // ranges of MAP outputs, so a single-mapper input (one parquet
      // file → one task) is unsplittable no matter how skewed — worth
      // knowing when a 100 TB job funnels through a few giant files.
      // md5 payload keeps the hot partition incompressible (skew
      // detection sees compressed shuffle bytes).
      val skewedLeft = tables.events
        .repartition(8)
        .select(
          explode(org.apache.spark.sql.functions.sequence(lit(1), lit(50))).as("rep"),
          when(col("event_id") % 2 === 0, lit(7L)).otherwise(col("event_id")).as("k"),
          col("event_id")
        )
        .withColumn("payload", org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.concat(col("event_id"), lit("-"), col("rep"))))
      val right = spark.range(0, 20000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val df = skewedLeft
        .join(right, "k")
        .groupBy()
        .agg(org.apache.spark.sql.functions.max("payload").as("m"), count(lit(1)).as("n"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not mark the skew join:\n$plan")
      assert(plan.contains("AQEShuffleRead skewed"), s"no skewed shuffle read:\n$plan")
    }
  }

  test("curateFull builds the shingle index once — both dedup branches read the materialized scan") {
    val df   = graft.operators.Curation.curateFull(tables)
    val plan = executedPlanString(df)
    // The shingle index is checkpointed before the final plan
    // assembles, and since r21 the repetition gate's bigram totals are
    // one compiled per-doc kernel (bigram_stats) instead of a bigram
    // explode — so NO Generate of raw text may remain in the flagship
    // plan: decontamination must not rebuild the index from text.
    val generates = "Generate posexplode".r.findAllIn(plan).length
    assert(generates == 0, s"expected 0 generates (index checkpointed, bigrams fused), got $generates:\n$plan")
    // both the component labels and the decontamination postings come
    // from materialized RDD scans (the shared checkpoint), not raw text
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).length
    assert(rddScans >= 2, s"expected materialized scans feeding both branches, got $rddScans:\n$plan")
    // per-row signals (n_tokens, langid features, exact-dedup key, and
    // since r21 the bigram totals via the compiled bigram_stats
    // kernel) are fused COLUMNS of ONE corpus scan — the final plan
    // reads documents exactly once
    val docScans = "Scan parquet .*documents".r.findAllIn(plan).length
    assert(docScans == 1, s"expected 1 documents scan (all per-row signals fused), got $docScans:\n$plan")
  }

  test("bpe merge candidates: one corpus scan, top-K is a TakeOrdered (never a vocab sort)") {
    val df   = graft.operators.TextOps.bpeMergeCandidates(tables)
    val plan = executedPlanString(df)
    assert(plan.contains("TakeOrderedAndProject"), s"pair top-K is a full sort:\n$plan")
    assert("Scan parquet .*documents".r.findAllIn(plan).length == 1, s"documents re-scanned:\n$plan")
  }

  test("length percentile gate broadcasts the single-row threshold back against the corpus") {
    val plan = executedPlanString(graft.operators.TextOps.lengthPercentileGate(tables))
    // the corpus side must meet the threshold map-side, never shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"threshold not broadcast:\n$plan")
    // histogram + gated scan: exactly two reads of documents
    assert("Scan parquet .*documents".r.findAllIn(plan).length == 2, s"extra corpus scans:\n$plan")
  }

  test("dup-shingle fraction: df is a partial-agg'd groupBy joined back — never a shingle window") {
    val plan = executedPlanString(graft.operators.Dedup.dupShingleFrac(tables))
    // a Window.partitionBy(shingle) is unsplittable on a hot shingle;
    // the groupBy df + shuffle-hash join-back partial-aggregates
    // map-side and stays AQE-splittable on skew
    assert(!plan.contains("Window"), s"df must not be a shingle window:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"df join-back must be shuffle-hash:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"df/doc aggs must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pair-space blowup:\n$plan")
  }

  test("novelty fraction: first-doc min is a partial-agg'd groupBy joined back — never a shingle window") {
    val plan = executedPlanString(graft.operators.Dedup.noveltyFrac(tables))
    assert(!plan.contains("Window"), s"first-doc must not be a shingle window:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"first-doc join-back must be shuffle-hash:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_sum"),
      s"aggs must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"pair-space blowup:\n$plan")
  }

  test("value outliers: both stat tables broadcast — the fact never sort-merge joins") {
    val plan = executedPlanString(Analytics.valueOutliers(tables))
    assert(plan.contains("BroadcastHashJoin"), s"median/MAD must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact shuffled into a stat join:\n$plan")
  }

  test("cohort retention: distinct-then-count — no Expand for the distinct users") {
    val plan = executedPlanString(Analytics.cohortRetention(tables))
    assert(!plan.contains("Expand"), s"count(distinct) expanded instead of pre-distinct:\n$plan")
  }

  test("source quota: one shuffle on source for the prefix-sum window") {
    val plan = executedPlanString(graft.operators.Sampling.sourceQuota(tables))
    // one keyed exchange (source) + the presentation range sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, s"extra shuffles:\n$plan")
    assert(!plan.contains("Join"), s"quota must be join-free:\n$plan")
  }

  test("attribution: union-tag as-of carry is join-free — one user shuffle plus the tiny hour rollup") {
    val plan = executedPlanString(Analytics.attribution(tables))
    assert(!plan.contains("Join"), s"attribution must carry value through the union, not join:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2, s"extra shuffles:\n$plan")
  }

  test("rolling actives: constant-factor cover explode — no sort-merge join, three keyed exchanges") {
    val plan = executedPlanString(graft.operators.EventOps.rollingActives(tables))
    assert(!plan.contains("SortMergeJoin"), s"report days joined against activity:\n$plan")
    // distinct (user, day) + distinct (user, report_day) + final count
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 3, s"extra shuffles:\n$plan")
  }

  test("user deciles: broadcast cutpoints, no window at all — the equi-depth bucketing has no serial stage") {
    val plan = executedPlanString(Analytics.userValueDeciles(tables))
    assert(!plan.contains("Window"), s"global ntile/sort leaked into the decile plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"cutpoints must broadcast:\n$plan")
  }

  test("lang mismatch audit: one corpus scan, one keyed shuffle — no self-join on langid output") {
    val plan = executedPlanString(graft.operators.TextOps.langMismatch(tables))
    assert(!plan.contains("Join"), s"audit must fold langid into the metadata scan:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, s"extra shuffles:\n$plan")
  }

  test("daily cumulative: the ordered window runs on the aggregated grid, not the fact") {
    val plan = executedPlanString(Analytics.dailyCumulative(tables))
    // fact → partial-agg'd (day, type) shuffle, then the window over
    // event_type on the tiny grid — exactly two keyed exchanges
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 2, s"extra shuffles:\n$plan")
    assert(plan.contains("Window"), s"running total must be a window:\n$plan")
  }

  test("frequent words: MG sketch aggregates object-hash map-side; verify pass broadcasts the summary") {
    val plan = executedPlanString(graft.operators.TextOps.frequentWords(tables))
    // the typed-imperative summary runs in ObjectHashAggregate with a
    // map-side partial — the corpus reaches the driver as ONE summary
    assert(plan.contains("ObjectHashAggregate"), s"MG summary not object-hash aggregated:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled into a join:\n$plan")
    // the only keyed exchange is the ≤Capacity-word verification count
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, s"vocab-scale shuffle leaked:\n$plan")
    // at most two corpus scans: sketch pass + verify pass (the token
    // total rides in the sketch aggregate, never a third scan). When
    // the rebalance exchange is present both passes share ONE scan
    // through ReusedExchange.
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"extra corpus scan:\n$plan")
    assert(scans == 2 || plan.contains("ReusedExchange"), s"single scan without reuse:\n$plan")
  }

  test("incremental dedup: best-near-match runs through TopKPerKeyExec, no nested loop") {
    val plan = executedPlanString(graft.operators.Dedup.incrementalDedup(tables))
    assert(plan.contains("TopKPerKey"), s"best-match not grafted onto the bounded-heap operator:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"incremental probe degenerated:\n$plan")
  }

  test("commonWordFrac: top-K vocabulary is a TakeOrdered, probed via broadcast") {
    val plan = executedPlanString(graft.operators.TextOps.commonWordFrac(tables))
    // pass 1's top-100 must be partial top-K per partition, never a
    // global sort of the vocabulary
    assert(plan.contains("TakeOrderedAndProject"), s"vocab top-K is a full sort:\n$plan")
    // pass 2 probes the 100-row vocabulary map-side — the corpus token
    // stream must not shuffle to meet it
    assert(plan.contains("BroadcastHashJoin"), s"vocab probe not broadcast:\n$plan")
  }

  test("cube aggregates all grouping sets from one Expand — no per-level re-scan") {
    val plan = executedPlanString(graft.operators.Analytics.cubeVolume(tables))
    assert("Expand".r.findAllIn(plan).length == 1, s"expected exactly one Expand:\n$plan")
    // one scan of the fact side feeds all 4 grouping sets
    assert("Scan parquet .*orders".r.findAllIn(plan).length == 1, s"orders re-scanned:\n$plan")
  }

  test("adder map stage is whole-stage codegen with no shuffle before the sort") {
    val df   = graft.operators.MathOps.adder(tables)
    val plan = executedPlanString(df)
    // AQE toString marks whole-stage-codegen stages with "*(n)"
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined, s"no codegen span:\n$plan")
    // the only exchange allowed is the final order-by range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty, s"unexpected shuffle:\n$plan")
  }

  test("trade matrix: both nation legs broadcast, exactly one wide fact exchange pair") {
    val plan = executedPlanString(graft.operators.Analytics.tradeMatrix(tables))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, s"nation legs not broadcast:\n$plan")
    // the only hash exchanges: lineitem/orders on the order key + the
    // tiny (nation, nation) rollup — never a fact shuffle per leg
    val factExchanges = "Exchange hashpartitioning\\((?:l_orderkey|o_orderkey)"
      .r.findAllIn(plan).size
    assert(factExchanges <= 2, s"fact shuffled more than once per side:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"), plan)
  }

  test("custdist: customer joins the pre-aggregated order counts, not order rows") {
    val plan = executedPlanString(graft.operators.Analytics.customerOrderDist(tables))
    // the orders side must aggregate to per-customer counts BELOW the
    // join: a HashAggregate on o_custkey feeds the join build/stream
    // side, so the join moves |customers| rows, never |orders|
    val joinIdx = plan.indexOfSlice("Join")
    val aggIdx  = plan.indexOfSlice("HashAggregate(keys=[o_custkey")
    assert(aggIdx >= 0, s"orders not pre-aggregated:\n$plan")
    assert(joinIdx >= 0 && joinIdx < aggIdx, s"aggregate not below the join:\n$plan")
  }

  test("triangle counting: oriented wedge join plans hash joins, never a cartesian") {
    val plan = executedPlanString(graft.operators.Graph.triangleCounts(tables))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"triangle join must stay equi-keyed:\n$plan")
    assert(plan.contains("ShuffledHashJoin"), s"expected hinted hash joins in:\n$plan")
  }

  test("lm coverage: vocabulary membership joins shuffle-hash on the bigram key") {
    val plan = executedPlanString(graft.operators.TextOps.lmCoverage(tables))
    // the distinct-bigram vocabulary is far beyond any broadcast
    // threshold at scale — the plan must hash-partition both sides on
    // bg, not broadcast the vocab
    assert(plan.contains("ShuffledHashJoin"), s"membership join not shuffle-hash:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"vocab must not broadcast:\n$plan")
  }

  test("dpp join: fact scan carries a runtime DynamicPruningExpression on day") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp-spec").toString
    val df  = graft.operators.Layout.dppJoin(tables, dir)
    df.collect()
    // the hot-day set is only known at runtime (it comes from an
    // aggregate), so static pruning can't fire — the scan must instead
    // carry a dynamicpruning subquery in its PartitionFilters, reusing
    // the dim broadcast
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning in:\n$plan")
    val partFilters = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(plan).getOrElse("")
    assert(partFilters.toLowerCase.contains("dynamicpruning"),
      s"dynamic pruning not in PartitionFilters:\n$plan")
  }

  test("partitioned layout: filtered read prunes partitions at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-partlayout-spec").toString
    val df  = graft.operators.Layout.partitionedLayout(tables, dir)
    df.collect()
    // the scan must carry PartitionFilters on BOTH partition columns —
    // whole excluded directories never reach I/O
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("event_type") && scan.contains("day"),
      s"no partition pruning in scan:\n$scan")
    // pruning is observable at the I/O layer: every file actually read
    // by the filtered scan lives under purchase/day=2024-01-1x — the
    // other 4 types × ~30 days of directories were never touched
    val filesRead = tables.spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.expr(
        "event_type = 'purchase' AND day >= '2024-01-10' AND day < '2024-01-20'"))
      .select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(filesRead.nonEmpty)
    assert(filesRead.forall(f =>
      f.contains("event_type=purchase") && "day=2024-01-1\\d".r.findFirstIn(f).isDefined),
      s"scan read outside the pruned partitions:\n${filesRead.mkString("\n")}")
  }

  test("large orders: selective rollup filter lets AQE broadcast the join-backs") {
    val plan = executedPlanString(graft.operators.Analytics.largeOrders(tables))
    // the quantity rollup + >threshold filter shrink the left side far
    // under the broadcast threshold — AQE must plan broadcast joins for
    // the orders/customer join-backs, not sort-merge the full fact
    assert(plan.contains("BroadcastHashJoin"), s"join-backs not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"full-fact sort-merge survived:\n$plan")
  }

  test("waiting suppliers: one lineitem scan, correlation folded into one orderkey shuffle") {
    val plan = executedPlanString(graft.operators.Analytics.waitingSuppliers(tables))
    // Q21's two correlated self-joins must NOT appear: the per-order
    // supplier/returned sets come from ONE aggregate of ONE fact scan
    assert("Scan parquet .*lineitem".r.findAllIn(plan).length == 1,
      s"lineitem self-joined instead of set-aggregated:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"correlation became a sort-merge self-join:\n$plan")
  }

  test("important parts: global threshold is a single-row broadcast over one fact scan") {
    val plan = executedPlanString(graft.operators.Analytics.importantParts(tables))
    // per-part aggregate feeds BOTH the threshold reduction and the
    // filter; the threshold side joins back as a one-row broadcast
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"threshold must be a broadcast scalar, not a shuffle join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"threshold join shuffled the aggregate:\n$plan")
  }

  test("small-quantity bracket: per-part average joins back by broadcast, never a fact window") {
    val plan = executedPlanString(graft.operators.Analytics.smallQtyRevenue(tables))
    // the single-scan alternative would shuffle the ENTIRE fact through
    // a partkey window; the agg+join-back shape must keep the fact
    // un-shuffled (map-side partials only) and broadcast the averages
    assert(!plan.contains("Window"), s"per-part average became a full-fact window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"average join-back not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact shuffled into the average join:\n$plan")
  }

  test("grouping sets: one Expand from one orders scan (3 sets, never 3 re-scans)") {
    val plan = executedPlanString(Analytics.groupingSetsVolume(tables))
    assert("Expand".r.findAllIn(plan).size == 1, s"expected exactly one Expand:\n$plan")
    assert("Scan parquet .*orders".r.findAllIn(plan).size == 1, s"fact re-scanned:\n$plan")
  }

  test("min-cost supplier: argmin through TopKPerKeyExec, dims broadcast, one fact shuffle") {
    val plan = executedPlanString(Analytics.minCostSupplier(tables))
    assert(plan.contains("TopKPerKey"), s"per-part argmin must use the bounded-heap exec:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact shuffled into a dim join:\n$plan")
    // exactly one keyed exchange: the (part, supplier) offer aggregate
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, s"extra shuffles:\n$plan")
  }

  test("excess shippers: per-part totals reuse the pair-aggregate exchange (one fact scan)") {
    val plan = executedPlanString(Analytics.excessShippers(tables))
    assert(plan.contains("ReusedExchange"), s"pair aggregate computed twice:\n$plan")
    assert("Scan parquet .*lineitem".r.findAllIn(plan).length == 1, s"fact scanned twice:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"totals/names must broadcast:\n$plan")
  }

  test("heavy hitters: type totals reuse the counts exchange (one events scan)") {
    val plan = executedPlanString(Analytics.heavyHitters(tables))
    assert(plan.contains("ReusedExchange"), s"counts aggregate computed twice:\n$plan")
    assert("Scan parquet .*events".r.findAllIn(plan).length == 1, s"fact scanned twice:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"totals join must broadcast:\n$plan")
  }

  test("compaction plan: manifest-sized data past the one fact aggregate") {
    val plan = executedPlanString(graft.operators.Layout.compactionPlan(tables))
    // one fact scan collapses events to the (type, day) manifest; the
    // running-sum window and target join operate on manifest rows only
    assert("Scan parquet .*events".r.findAllIn(plan).length == 1, s"fact scanned twice:\n$plan")
    assert(plan.contains("ReusedExchange") || plan.contains("BroadcastHashJoin"),
      s"target aggregate must reuse or broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"manifest join shuffled:\n$plan")
  }

  test("phash pair join: banded self-join reuses one hash exchange, never all-pairs") {
    val plan = executedPlanString(
      graft.operators.Multimodal.phashPairsGate(spark, tables))
    assert(plan.contains("ShuffledHashJoin"), s"banded join must be shuffle-hash:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"identical band sides must share one exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked in:\n$plan")
  }

  test("no operator windows over the shingle key (hot-shingle partitions are unsplittable)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // a Window.partitionBy(shingle) funnels a stopword-class shingle's
    // entire posting list through one reducer; every per-shingle
    // statistic must be a partial-agg'd groupBy + join-back instead
    val dedups = Seq(
      "prefix"  -> graft.operators.Dedup.ngramJaccardPrefix(tables),
      "capped"  -> graft.operators.Dedup.ngramJaccardCapped(tables),
      "dupfrac" -> graft.operators.Dedup.dupShingleFrac(tables),
      "novelty" -> graft.operators.Dedup.noveltyFrac(tables)
    )
    for ((name, df) <- dedups) {
      val shingleWindows = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.exists(_.references.exists(_.name == "shingle")) => w
      }
      assert(shingleWindows.isEmpty, s"$name windows over the shingle key: $shingleWindows")
    }
  }

  test("substring spans: checkpointed window build, shuffle-hash join-back, no gram-key window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df   = graft.operators.Dedup.substringSpans(tables)
    val plan = executedPlanString(df)
    assert(plan.contains("ShuffledHashJoin"),
      s"duplicated positions must come back via a hash join on the gram hash:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked in:\n$plan")
    // the scan + posexplode + lead-window subtree feeds BOTH the
    // occurrence count and the join probe; the checkpoint means the
    // final plan reads the materialized windows, never the corpus again
    assert(!plan.contains("FileScan"),
      s"window build re-scans the corpus — checkpoint lost:\n$plan")
    val gramWindows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.exists(_.references.exists(_.name == "gh")) => w
    }
    assert(gramWindows.isEmpty,
      s"per-gram stats must be groupBy + join-back, not a window: $gramWindows")
  }

  test("df profile and modality agreement: keyed joins only, no pair-space blowups") {
    val profile = executedPlanString(graft.operators.Dedup.dfProfile(tables))
    assert(!profile.contains("CartesianProduct") && !profile.contains("BroadcastNestedLoopJoin"),
      s"df profile must be aggregation-only:\n$profile")
    val agree = executedPlanString(graft.operators.Dedup.modalityAgreement(tables))
    assert(!agree.contains("CartesianProduct") && !agree.contains("BroadcastNestedLoopJoin"),
      s"modality agreement leaked an all-pairs join:\n$agree")
    // the vector table attaches via equi-joins on the pair ends
    assert(agree.contains("ShuffledHashJoin") || agree.contains("BroadcastHashJoin") ||
      agree.contains("SortMergeJoin"), s"pair-end joins must be keyed:\n$agree")
  }

  test("despan: exactly one corpus re-scan past the checkpointed windows, keyed joins only") {
    val plan = executedPlanString(graft.operators.Dedup.despan(tables))
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans == 1,
      s"despan must re-scan the corpus exactly once for the token rebuild, saw $scans:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"stats join-back and cut probe must be hash joins:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked in:\n$plan")
  }

  test("paraphrase candidates: the exact arm is all-pairs BY DESIGN, the LSH arm never is") {
    // the exact arm's a < b cosine self-join is the quadratic
    // correctness baseline — it genuinely plans as a nested-loop join
    val exact = executedPlanString(graft.operators.Dedup.embeddingCosine(tables))
    assert(exact.contains("BroadcastNestedLoopJoin") || exact.contains("CartesianProduct"),
      s"expected the documented all-pairs shape in the exact arm:\n$exact")
    // the LSH candidate shape (shared by dedup_embedding_lsh and
    // dedup_paraphrase_lsh's candidate stage) joins banded buckets on
    // (table, bucket) — keyed shuffle-hash, cost ∝ Σ bucket², never n²
    val lsh = executedPlanString(graft.operators.Dedup.embeddingCosineLsh(tables))
    assert(lsh.contains("ShuffledHashJoin"),
      s"banded candidates must join shuffle-hash on (tbl, bucket):\n$lsh")
    assert(!lsh.contains("CartesianProduct") && !lsh.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked into the LSH arm:\n$lsh")
    // the shared back half (anti-join vs the text τ set + posting
    // intersect) reads the checkpointed candidate list through keyed
    // joins only — no pair-space blowup past the candidate stage
    val para = executedPlanString(graft.operators.Dedup.paraphraseCandidatesLsh(tables))
    assert(!para.contains("CartesianProduct") && !para.contains("BroadcastNestedLoopJoin"),
      s"paraphrase back half leaked an all-pairs join:\n$para")
    // the IVF arm's candidate stage joins the checkpointed cell
    // assignment on cell equality — keyed shuffle-hash like the LSH
    // arm (cost ∝ Σ cell²), and the shared back half stays keyed too
    val ivf = executedPlanString(graft.operators.Dedup.paraphraseCandidatesIvf(tables))
    assert(ivf.contains("ShuffledHashJoin"),
      s"IVF candidates must join shuffle-hash on cell:\n$ivf")
    assert(!ivf.contains("CartesianProduct") && !ivf.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked into the IVF arm:\n$ivf")
  }

  test("pad audit: one corpus scan to the histogram; everything after runs on histogram rows") {
    val plan = executedPlanString(graft.operators.Curation.padAudit(tables))
    // the length histogram is checkpointed, so the executed plan reads
    // materialized histogram rows — the corpus never reappears
    assert(!plan.contains("FileScan"),
      s"pad audit must not re-scan the corpus past the histogram:\n$plan")
    // the single-row total broadcasts back (the B48 one-row-BNLJ
    // precedent); a real pair-space CartesianProduct must never appear
    assert(!plan.contains("CartesianProduct"),
      s"pad audit formed a cartesian pair space:\n$plan")
  }

  test("bpe apply: corpus shuffles to vocab once; merge chains are map-side string work") {
    val plan = executedPlanString(graft.operators.TextOps.bpeApply(tables))
    // one corpus scan feeds the vocab aggregate (the merge-table scan
    // happens driver-side before the plan); all replace chains sit in
    // a projection over the vocab — no join, no second wide shuffle
    val scans = "FileScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected one corpus scan for the vocab, saw $scans:\n$plan")
    assert(!plan.contains("Join"), s"merge application must be join-free:\n$plan")
  }

  test("vocab coverage: everything past the checkpointed token inventory is inventory-sized") {
    val plan = executedPlanString(graft.operators.TextOps.vocabCoverage(tables))
    // the inventory (≤ alphabet + merges rows) is checkpointed; the
    // ranking window, coverage explode, and single-row total broadcast
    // all read it — the corpus never reappears in the executed plan
    assert(!plan.contains("FileScan"),
      s"vocab coverage must not re-scan the corpus past the inventory:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"only the single-row total may broadcast (one-row BNLJ):\n$plan")
  }

  test("semantic miss audit: past the checkpointed tagged pairs, census joins are keyed only") {
    // the ground-truth pair list is the exact C5 arm (all-pairs by
    // design, same as the paraphrase baseline — asserted above); the
    // AUDIT's own work past that checkpoint is the per-cell census and
    // two tiny classification rollups joined back on the cell key
    val plan = executedPlanString(graft.operators.Similarity.semanticMissAudit(tables))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"the audit's own stages must never form a pair space:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin"), s"census joins must be keyed:\n$plan")
  }
}
