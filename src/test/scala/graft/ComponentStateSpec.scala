package graft

import graft.operators.Dedup
import graft.sources.{ContentStore, ParquetEpochs}
import org.apache.spark.sql.DataFrame

/** C22i: incremental COMPONENT maintenance — persisted labels beside
  * the signature index, delta edges merged by label-graph contraction.
  * Pins the claims the gate alone can't: a SECOND delta merges through
  * the FIRST delta's patched state (the maintained loop composes), a
  * cross-cluster bridge doc collapses two persisted components to one
  * min label, a newly-paired base singleton enters the state, an empty
  * delta is a no-op, and the monotonicity invariant's dangerous case —
  * a doc whose only state row is a PATCH row getting relabeled again —
  * resolves correctly (stale smaller-label rows never resurrect
  * because labels only decrease and min() reads the newest).
  */
class ComponentStateSpec extends SparkSpecBase {
  import spark.implicits._

  private val tau = 0.4

  // 12-word texts: 10 distinct trigram shingles each; "+2 words"
  // variants share 10 of 12 (J ≈ 0.83); the A++B concatenation holds
  // all 10 of each side's shingles among its 22 (J = 10/22 ≈ 0.455 ≥
  // 0.4 to BOTH clusters while A vs B is 0 — the bridge shape)
  private val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val textB = "one two three four five six seven eight nine ten eleven twelve"
  private val textX = "red orange yellow green blue indigo violet cyan magenta umber teal pink"

  private def df(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private def labels(state: DataFrame): Map[Long, Long] =
    state.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap

  private def batchComponents(docs: DataFrame): Map[Long, Long] =
    labels(
      Dedup.nearDupComponents(tables, tau, None, Some(Dedup.hashedPostingsOn(docs))))

  /** Build the two persisted assets (signature index + component state)
    * for a base corpus in fresh scratch stores; returns (sigDir,
    * sigPin, stateDir, statePin).
    */
  private def buildBase(base: DataFrame): (String, Seq[String], String, Seq[String]) = {
    val sigRoot   = java.nio.file.Files.createTempDirectory("graft-compstate-sig")
    val stateRoot = java.nio.file.Files.createTempDirectory("graft-compstate-lbl")
    val sigDir    = sigRoot.toString + "/store"
    val stateDir  = stateRoot.toString + "/store"
    val sigMan    = Dedup.writeSignatureIndexColumnar(spark, base, sigDir)
    val stateMan = Dedup.writeComponentState(
      Dedup.nearDupComponents(tables, tau, None, Some(Dedup.hashedPostingsOn(base))),
      stateDir)
    (sigDir, Seq(sigMan), stateDir, Seq(stateMan))
  }

  test("gate twin: maintained labels equal batch C2c over the full corpus") {
    val maintained = labels(Dedup.incrementalComponents(tables, Dedup.JaccardTau))
    val batch = labels(
      Dedup.nearDupComponents(
        tables,
        Dedup.JaccardTau,
        None,
        Some(Dedup.hashedPostingsOn(tables.documents))))
    assert(maintained == batch)
  }

  test("a second delta merges through the first delta's patched state") {
    // base: two separate clusters {1,2} and {5,6} plus singleton 9
    val base = df(
      1L -> textA, 2L -> (textA + " nu xi"),
      5L -> textB, 6L -> (textB + " aa bb"),
      9L -> textX)
    val (sigDir, sigPin, stateDir, statePin) = buildBase(base)
    assert(labels(Dedup.readComponentState(spark, stateDir, statePin)) ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))

    // delta1: 100 joins cluster {5,6}; 101 pairs the base SINGLETON 9
    // (a node with no state row); 102 pairs nothing (stays absent)
    val delta1 = df(
      100L -> (textB + " cc dd"),
      101L -> (textX + " yy zz"),
      102L -> "unrelated words entirely disjoint from every other document in this fixture")
    val patch1 = Dedup.mergeDeltaComponents(
      spark, delta1, sigDir, sigPin, stateDir, statePin, tau)
    val sig1  = Dedup.writeSignatureIndexColumnar(spark, delta1, sigDir)
    val pin1  = statePin :+ patch1
    val state1 = labels(Dedup.readComponentState(spark, stateDir, pin1))
    assert(state1 == batchComponents(base.unionAll(delta1)))
    assert(state1 == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 100L -> 5L,
      9L -> 9L, 101L -> 9L))

    // delta2: the BRIDGE — near both cluster 1 and cluster 5, which
    // must collapse them (and delta1's 100, whose ONLY state row is
    // patch1's) to min label 1; merged THROUGH the maintained state,
    // with the sig pin now including delta1's epoch
    val delta2 = df(200L -> (textA + " " + textB))
    val patch2 = Dedup.mergeDeltaComponents(
      spark, delta2, sigDir, sigPin :+ sig1, stateDir, pin1, tau)
    val state2 = labels(Dedup.readComponentState(spark, stateDir, pin1 :+ patch2))
    assert(state2 == batchComponents(base.unionAll(delta1).unionAll(delta2)))
    assert(state2 == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 100L -> 1L,
      200L -> 1L, 9L -> 9L, 101L -> 9L))
    // the monotonicity case in the flesh: 100's label went 5 (patch1)
    // → 1 (patch2); the raw store holds both rows and min() resolves
    val raw100 = ParquetEpochs.read(spark, stateDir, pin1 :+ patch2)
      .filter($"doc_id" === 100L).collect().map(_.getAs[Long]("component")).sorted
    assert(raw100.toSeq == Seq(1L, 5L), "expected one patch row per merge for doc 100")
  }

  test("an empty delta appends a no-op patch and the state is unchanged") {
    val base = df(1L -> textA, 2L -> (textA + " nu xi"))
    val (sigDir, sigPin, stateDir, statePin) = buildBase(base)
    val before = labels(Dedup.readComponentState(spark, stateDir, statePin))
    val patch = Dedup.mergeDeltaComponents(
      spark, df(), sigDir, sigPin, stateDir, statePin, tau)
    assert(labels(Dedup.readComponentState(spark, stateDir, statePin :+ patch)) == before)
  }

  test("a frozen pre-merge pin keeps reading the pre-merge labels (time travel)") {
    val base = df(1L -> textA, 2L -> (textA + " nu xi"), 5L -> textB)
    val (sigDir, sigPin, stateDir, statePin) = buildBase(base)
    val before = labels(Dedup.readComponentState(spark, stateDir, statePin))
    Dedup.mergeDeltaComponents(
      spark, df(100L -> (textB + " cc dd")), sigDir, sigPin, stateDir, statePin, tau): Unit
    assert(labels(Dedup.readComponentState(spark, stateDir, statePin)) == before,
      "commits after the pin must stay invisible to it")
  }

  test("component state survives columnar OPTIMIZE + VACUUM with identical labels") {
    // the state is an ordinary ParquetEpochs store, so the B78
    // maintenance loop must preserve the resolved labels — including
    // min() resolution across rows that compaction folds into one epoch
    val base = df(1L -> textA, 2L -> (textA + " nu xi"), 5L -> textB, 6L -> (textB + " aa bb"))
    val (sigDir, sigPin, stateDir, statePin) = buildBase(base)
    val patch = Dedup.mergeDeltaComponents(
      spark, df(200L -> (textA + " " + textB)), sigDir, sigPin, stateDir, statePin, tau)
    val before = labels(Dedup.readComponentState(spark, stateDir, statePin :+ patch))
    ParquetEpochs.compact(spark, stateDir, keepLast = 0)
    graft.sources.StoreLifecycle.vacuum(spark, stateDir, 0L,
      ContentStore.driverHadoopConf()): Unit
    val pinAfter = ContentStore.snapshotManifests(stateDir)
    assert(labels(Dedup.readComponentState(spark, stateDir, pinAfter)) == before)
  }

  test("contracted resolution: the driver union-find equals the distributed min-label loop") {
    // chain (7-3-9-1: min label 1 through a path), separate pair
    // (20-15), a star (40-{41,42,43}), and a late cross-edge collapsing
    // the chain into the star — the shapes union-by-min must get right
    val pairs = Seq(
      (7L, 3L), (9L, 3L), (9L, 1L), (20L, 15L),
      (41L, 40L), (42L, 40L), (43L, 40L), (40L, 7L))
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = labelsOf(Dedup.contractedComponents(
      pairs.toDF("doc_a", "doc_b").localCheckpoint(), _.localCheckpoint()))
    val viaLoop = labelsOf(Dedup.componentsFromPairs(
      pairs.toDF("doc_a", "doc_b").localCheckpoint(), _.localCheckpoint()))
    assert(viaDriver == viaLoop)
    assert(viaDriver(43L) == 1L && viaDriver(20L) == 15L,
      s"cross-edge must collapse star+chain to min label 1: $viaDriver")
  }

  test("C22i plan: delta-base edges broadcast the delta; the index side is exchange-free") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions.{col, explode}
    val base = df(1L -> textA, 2L -> (textA + " nu xi"), 5L -> textB)
    val (sigDir, sigPin, _, _) = buildBase(base)
    val deltaPosts = Dedup
      .indexRowsOn(spark, df(100L -> (textB + " cc dd")))
      .select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
    val edges = Dedup.deltaBaseEdges(spark, deltaPosts, sigDir, sigPin, tau,
      broadcastDelta = true)
    edges.collect(): Unit
    val plan = edges.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p                        => p.toString
    }
    // the probe asymmetry the scale story rides on (r16 measured it on
    // the probes; the merge shares the shape): the nightly delta is the
    // broadcast side, the corpus-sized index never crosses the wire
    assert(plan.contains("BroadcastHashJoin"),
      s"merge edge join must broadcast the delta postings:\n$plan")
    assert(!plan.contains("ShuffledHashJoin") && !plan.contains("SortMergeJoin"),
      s"merge edge join must not shuffle the index side:\n$plan")
  }

  test("C22k: merging into EMPTY pins bootstraps — first batch equals batch C2c over itself") {
    // the streaming form starts from two VIRGIN stores: batch 0 merges
    // with no sig pins (no base edges — the store is never opened) and
    // no state pins (prior state is the typed empty frame); the patch
    // must therefore BE batch C2c over that batch alone
    val root     = java.nio.file.Files.createTempDirectory("graft-compstate-boot")
    val sigDir   = root.toString + "/sig"
    val stateDir = root.toString + "/state"
    try {
      val b0 = df(1L -> textA, 2L -> (textA + " nu xi"), 5L -> textB, 9L -> textX)
      val patch = Dedup.mergeDeltaComponents(
        spark, b0, sigDir, Seq.empty, stateDir, Seq.empty, tau)
      assert(labels(Dedup.readComponentState(spark, stateDir, Seq(patch))) ==
        batchComponents(b0))
      // neither empty pin opened a store: the sig store was never
      // written, so it must still be absent on disk
      assert(!new java.io.File(sigDir).exists(), "empty sig pins must not touch the store")
    } finally deleteTree(root)
  }

  test("C22k: an epoch-keyed replayed merge converges (first-write-wins, state unchanged)") {
    val base = df(1L -> textA, 2L -> (textA + " nu xi"), 5L -> textB)
    val (sigDir, sigPin, stateDir, statePin) = buildBase(base)
    val delta = df(100L -> (textB + " cc dd"))
    val patch = Dedup.mergeDeltaComponents(
      spark, delta, sigDir, sigPin, stateDir, statePin, tau,
      manifestName = Some("comp-00001"))
    val after = labels(Dedup.readComponentState(spark, stateDir, statePin :+ patch))
    // the crash-replay: same batch, same epoch-keyed name — the append
    // loses the manifest rename idempotently and nothing changes
    val replay = Dedup.mergeDeltaComponents(
      spark, delta, sigDir, sigPin, stateDir, statePin, tau,
      manifestName = Some("comp-00001"))
    assert(replay == patch)
    assert(ContentStore.snapshotManifests(stateDir).count(_ == "comp-00001") == 1)
    assert(labels(Dedup.readComponentState(spark, stateDir, statePin :+ patch)) == after)
  }

  test("C22k crash-resume: a replayed batch re-derives pins from manifest names and converges") {
    import graft.streaming.{StreamReplay => SR}
    val inDir = SR.documentsModSlices(spark, sfDir, 4)
    val run   = java.nio.file.Files.createTempDirectory("graft-compstate-restart")
    try {
      val out        = run.resolve("out").toString
      val ckpt       = run.resolve("ckpt")
      val sigStore   = run.resolve("sig").toString
      val stateStore = run.resolve("state").toString
      val body = SR.componentMaintenanceBatch(spark, sigStore, stateStore, Dedup.JaccardTau) _
      // first attempt dies in batch 2 AFTER both store appends landed
      // (comp-00002/sig-00002 committed) but BEFORE the checkpoint
      // commit — the dangerous replay window for a store-writing loop
      val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
      val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        SR.drainForeachBatchAt(spark, inDir, SR.documentsDdl, out, ckpt) { (b, id) =>
          val p = body(b, id)
          if (id == 2L && boom.getAndSet(false)) {
            p.write.mode("overwrite").parquet(s"$out/b$id")
            throw new RuntimeException("injected crash after store appends, before commit")
          }
          p
        }
      }
      assert(failed.getMessage.contains("injected crash") ||
        Option(failed.getCause).exists(_.getMessage.contains("injected crash")))
      // resume with the same dirs: batch 2 replays — its pins must
      // exclude its own crashed epochs, its re-appends lose the rename
      val resumed = SR.drainForeachBatchAt(spark, inDir, SR.documentsDdl, out, ckpt)(body)
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.min("component").as("component"))
      val batch = labels(
        Dedup.nearDupComponents(
          tables, Dedup.JaccardTau, None, Some(Dedup.hashedPostingsOn(tables.documents))))
      assert(labels(resumed) == batch, "crash-resumed maintenance diverged from batch C2c")
      // exactly one epoch per batch per store — the replay added none
      val sigNames   = ContentStore.snapshotManifests(sigStore)
      val stateNames = ContentStore.snapshotManifests(stateStore)
      assert(sigNames.sorted == (0 to 3).map(i => f"sig-$i%05d"),
        s"replay must not add sig epochs: $sigNames")
      assert(stateNames.sorted == (0 to 3).map(i => f"comp-$i%05d"),
        s"replay must not add state epochs: $stateNames")
    } finally deleteTree(run)
  }

  test("C22k: store OPTIMIZE between batches keeps the loop's derived pins correct") {
    // the pin derivation is snapshot MINUS own-and-later epochs — a
    // prefix MATCH would return empty pins after compaction folds the
    // old comp-*/sig-* epochs into compact-* manifests, silently
    // dropping all prior state; this drives the loop across an
    // OPTIMIZE of both stores and demands batch equality anyway
    import graft.streaming.{StreamReplay => SR}
    val run        = java.nio.file.Files.createTempDirectory("graft-compstate-opt")
    val sigStore   = run.resolve("sig").toString
    val stateStore = run.resolve("state").toString
    try {
      val body = SR.componentMaintenanceBatch(spark, sigStore, stateStore, tau) _
      val slices = Seq(
        df(1L -> textA, 2L -> (textA + " nu xi")),
        df(5L -> textB, 6L -> (textB + " aa bb")),
        df(100L -> (textB + " cc dd"), 101L -> textX),
        df(200L -> (textA + " " + textB)) // the bridge, after the OPTIMIZE
      )
      body(slices(0), 0L).collect(): Unit
      body(slices(1), 1L).collect(): Unit
      // nightly maintenance lands mid-stream: fold every epoch of both
      // stores (no in-flight batch, so keepLast = 0 is legal here)
      assert(ParquetEpochs.compact(spark, sigStore, keepLast = 0).nonEmpty)
      assert(ParquetEpochs.compact(spark, stateStore, keepLast = 0).nonEmpty)
      body(slices(2), 2L).collect(): Unit
      body(slices(3), 3L).collect(): Unit
      val maintained = labels(
        Dedup.readComponentState(spark, stateStore, ContentStore.snapshotManifests(stateStore)))
      val all = slices.reduce(_.unionAll(_))
      assert(maintained == batchComponents(all),
        "maintenance across an OPTIMIZE must still equal batch C2c")
      // the bridge doc's merge proves the post-compaction pins carried
      // the PRE-compaction state: everything collapses to label 1
      assert(maintained(200L) == 1L && maintained(100L) == 1L && maintained(6L) == 1L)
    } finally deleteTree(run)
  }

  test("C22k: the streamed maintenance equals batch C2c over the whole corpus") {
    val streamed = labels(
      graft.streaming.StreamReplay
        .replayComponentMaintenance(spark, sfDir, Dedup.JaccardTau))
    val batch = labels(
      Dedup.nearDupComponents(
        tables,
        Dedup.JaccardTau,
        None,
        Some(Dedup.hashedPostingsOn(tables.documents))))
    assert(streamed == batch)
  }

  test("C22k: streamed maintenance runs on a fresh session that never registered the kernels") {
    // each foreachBatch batch belongs to the stream's clone of the
    // session, so the shingle/minhash kernels must be registered there
    val streamed = labels(
      graft.streaming.StreamReplay
        .replayComponentMaintenance(spark.newSession(), sfDir, Dedup.JaccardTau))
    val batch = labels(
      Dedup.nearDupComponents(
        tables,
        Dedup.JaccardTau,
        None,
        Some(Dedup.hashedPostingsOn(tables.documents))))
    assert(streamed == batch)
  }

  test("C22j: band label lookup plans only covering files, values equal the full-state filter") {
    import org.apache.spark.sql.functions._
    val root  = java.nio.file.Files.createTempDirectory("graft-compstate-lkp")
    val store = root.toString + "/store"
    try {
      // a range-CLUSTERED base epoch (8 files, 200 ids each) of 4-doc
      // clusters, plus one unclustered patch epoch merging {100..103}
      // down to label 96 — labels only decrease (monotonicity)
      val m0 = Dedup.writeComponentState(
        spark.range(0, 1600).select(
          col("id").as("doc_id"), (col("id") - col("id") % 4).as("component")),
        store, rangeClusterParts = 8)
      val m1 = Dedup.writeComponentState(
        spark.range(100, 104).select(col("id").as("doc_id"), lit(96L).as("component")),
        store)
      val pin   = Seq(m0, m1)
      val hconf = spark.sessionState.newHadoopConf()
      val total = pin.flatMap(m => ContentStore.filesInManifest(store, m, hconf)).size
      val planned = ParquetEpochs.plannedFiles(store, pin, "doc_id", 100L, 110L)
      assert(planned.nonEmpty && planned.size < total,
        s"band lookup must plan a covering subset, not $total files (got ${planned.size})")
      val lookup = labels(Dedup.componentLabelsInRange(spark, store, pin, 100L, 110L))
      val full = labels(
        Dedup.readComponentState(spark, store, pin).filter(col("doc_id").between(100L, 110L)))
      assert(lookup == full)
      // the patch's smaller label wins inside the band; untouched docs
      // keep their base label
      assert(lookup(100L) == 96L && lookup(103L) == 96L && lookup(104L) == 104L)
    } finally deleteTree(root)
  }
}
