package graft

import java.nio.file.Files

import graft.sources.{ContentStore, ContentStoreWrite, StoreLifecycle}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.streaming.Trigger

/** B78: the store's OPTIMIZE/VACUUM pair — compaction's atomic
  * manifest swap (contents preserved, sources shadowed, pins honored
  * until retention) and vacuum's age-gated GC, plus the exactly-once
  * rule streaming tails follow across a compaction.
  */
class StoreLifecycleSpec extends SparkSpecBase {

  private def tmp(): String = Files.createTempDirectory("graft-lifecycle").toString
  private def hconf         = spark.sessionState.newHadoopConf()

  private def writeOne(dir: String, rows: (String, String)*): Unit = {
    import spark.implicits._
    rows.toSeq.toDF("result_key", "payload").coalesce(1)
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
  }

  private def readAll(dir: String): Set[(String, String)] =
    spark.read.format("graft.sources.ContentStore").option("path", dir).load()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def dataFiles(dir: String): Set[String] = {
    val (fs, root) = ContentStore.fs(dir, hconf)
    val d          = new Path(root, "data")
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d).map(_.getPath.getName).toSet
  }

  /** Resumable AvailableNow drain into a json file sink (the one sink
    * that recovers from a checkpoint — the ContentStoreSpec pattern),
    * returning every key landed so far.
    */
  private def drainTo(dir: String, ckpt: String, outDir: String): Seq[String] = {
    val q = spark.readStream.format("graft.sources.ContentStore").option("path", dir).load()
      .writeStream.format("json").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.schema("result_key STRING, payload STRING").json(outDir)
      .collect().map(_.getString(0)).sorted.toSeq
  }

  test("compaction preserves contents, shadows sources atomically, and keeps keepLast epochs live") {
    val dir = tmp()
    writeOne(dir, "a" -> "1", "b" -> "2")
    writeOne(dir, "c" -> "3")
    writeOne(dir, "d" -> "4")
    val before = readAll(dir)
    val name   = StoreLifecycle.compactEpochs(spark, dir, keepLast = 1)
    assert(name.exists(_.startsWith("compact-")))
    assert(readAll(dir) == before, "compaction must not change logical contents")
    // raw listing keeps the shadowed sources on disk for pins/tails...
    assert(ContentStore.manifestNames(dir, hconf).size == 4, "3 epochs + 1 compaction on disk")
    // ...but the effective (and snapshot) view is replacement + kept epoch
    val eff = ContentStore.snapshotManifests(dir)
    assert(eff.size == 2 && eff.exists(_.startsWith("compact-")),
      s"effective set must be [compaction, kept epoch], got $eff")
    // compacting again has nothing to fold (one compaction + one kept)
    assert(StoreLifecycle.compactEpochs(spark, dir, keepLast = 1).isEmpty)
  }

  test("explicit bucket adoption rewrites a SINGLE-manifest legacy store (no silent no-op)") {
    val dir = tmp()
    writeOne(dir, "a" -> "1", "b" -> "2", "c" -> "3")
    val before = readAll(dir)
    assert(ContentStore.recordedBuckets(dir, hconf) == 0)
    // plain compaction correctly no-ops on one manifest...
    assert(StoreLifecycle.compactEpochs(spark, dir).isEmpty)
    // ...but an explicit buckets= adoption is a re-layout request and
    // must rewrite even the single manifest
    val name = StoreLifecycle.compactEpochs(spark, dir, buckets = 4)
    assert(name.nonEmpty, "bucket adoption must not silently skip a single-manifest store")
    assert(readAll(dir) == before)
    assert(ContentStore.recordedBuckets(dir, hconf) == 4)
    assert(ContentStore.snapshotManifests(dir)
      .flatMap(m => ContentStore.filesInManifest(dir, m, hconf))
      .forall(f => ContentStore.bucketOfFile(f).isDefined),
      "every live file must carry its bucket prefix after adoption")
  }

  test("size-aware OPTIMIZE folds only small epochs, skips right-sized ones, loops to a fixpoint") {
    val dir = tmp()
    // three tiny epochs, one big epoch, two more tiny ones — the
    // streaming-ingest-plus-backfill mix the oldest-N plan mishandles
    // (it would rewrite the big epoch for nothing)
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    writeOne(dir, "c" -> "3")
    writeOne(dir, (0 until 2000).map(i => f"big-$i%05d" -> ("x" * 40)): _*)
    writeOne(dir, "d" -> "4")
    writeOne(dir, "e" -> "5")
    val before  = readAll(dir)
    val bigName = {
      val hconf2 = hconf
      ContentStore.snapshotManifests(dir).maxBy(m =>
        ContentStore.filesInManifest(dir, m, hconf2)
          .map(f => {
            val (fs, root) = ContentStore.fs(dir, hconf2)
            fs.getFileStatus(new org.apache.hadoop.fs.Path(root, s"data/$f")).getLen
          }).sum)
    }
    // target sized so the big epoch (~2000 rows × 40B payloads)
    // exceeds it and the tiny ones (tens of bytes) never do
    val target = 20000L
    // loop to the fixpoint (one bin per call): pass 1 folds the three
    // leading tiny epochs; a fold is itself a small NEWEST manifest,
    // so pass 2 folds it with the trailing tiny pair — accretion into
    // one small epoch, which is what a repeated nightly binpack does
    var bins = 0
    while (StoreLifecycle.compactEpochs(spark, dir, targetBytes = target).isDefined && bins < 10)
      bins += 1
    assert(bins >= 2 && bins < 10, s"expected a multi-bin pass converging, got $bins bins")
    val eff = ContentStore.snapshotManifests(dir)
    assert(eff.contains(bigName), "the right-sized epoch must never be rewritten")
    assert(eff.size == 2, s"[big, accumulated small fold] expected, got $eff")
    assert(readAll(dir) == before, "binpack compaction must not change logical contents")
  }

  test("pre-compaction pins read the originals until vacuum's grace expires them") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    val pin = ContentStore.snapshotManifests(dir)
    StoreLifecycle.compactEpochs(spark, dir)
    def pinned() = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("manifests", pin.mkString(",")).load()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pinned() == Set("a" -> "1", "b" -> "2"),
      "a pin captured before compaction must keep reading the source manifests")
    // a generous grace keeps everything: the just-written compaction is young
    assert(StoreLifecycle.vacuum(spark, dir, graceMs = 24L * 3600 * 1000, hconf).isEmpty)
    assert(pinned() == Set("a" -> "1", "b" -> "2"))
    // grace 0 (quiesced store): the shadowed sources expire, the pin is
    // past its retention horizon — the documented time-travel trade
    val acts = StoreLifecycle.vacuum(spark, dir, graceMs = 0L, hconf)
    assert(acts.count(_.kind == "expired_manifest") == 2, s"both sources must expire: $acts")
    assert(acts.count(_.kind == "orphan_file") == 2, s"their data files must be swept: $acts")
    intercept[Exception](pinned())
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2"), "the live view is unaffected")
  }

  test("vacuum sweeps litter by age and never touches referenced or young files") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    val (fs, root) = ContentStore.fs(dir, hconf)
    def plant(name: String, backdate: Boolean): Unit = {
      val f = new Path(root, s"data/$name")
      val o = fs.create(f, false); o.write("eA==\teA==\n".getBytes("UTF-8")); o.close()
      if (backdate) fs.setTimes(f, 0L, -1L): Unit
    }
    plant(".staging-crashed", backdate = true)
    plant("orphan-old", backdate = true)
    plant("orphan-young", backdate = false) // an in-flight writer's not-yet-committed file
    val tmpManifest = new Path(root, "_manifest/.tmp-crashed-commit")
    val o = fs.create(tmpManifest, false); o.write("x".getBytes("UTF-8")); o.close()
    fs.setTimes(tmpManifest, 0L, -1L): Unit
    val acts = StoreLifecycle.vacuum(spark, dir, graceMs = 60000L, hconf)
    assert(acts.map(a => (a.kind, a.name)).toSet ==
      Set(("stale_staging", ".staging-crashed"), ("orphan_file", "orphan-old"),
        ("stale_tmp_manifest", ".tmp-crashed-commit")),
      s"grace must spare the young orphan and all referenced files: $acts")
    assert(dataFiles(dir).contains("orphan-young"))
    assert(readAll(dir) == Set("a" -> "1"))
    // once past the grace (0 = everything qualifies) the young orphan goes too
    assert(StoreLifecycle.vacuum(spark, dir, 0L, hconf).map(_.name) == Seq("orphan-young"))
  }

  test("a crashed empty _buckets write self-heals on the next bucketed commit") {
    import spark.implicits._
    // create-exclusive means a writer that dies between create and
    // close leaves an EMPTY _buckets; the next bucketed commit must
    // heal it (delete + re-record) instead of refusing forever, and
    // vacuum must never touch the layout metadata. The heal is
    // mtime-gated (a FRESH empty marker may be a concurrent racer
    // mid-close, not crash residue — see the fresh-marker test), so
    // the crash artifact is backdated past the grace here.
    val dir = tmp()
    val (fs, root) = ContentStore.fs(dir, hconf)
    fs.mkdirs(root)
    val marker = new Path(root, "_buckets")
    fs.create(marker, false).close() // the crash artifact
    fs.setTimes(marker, System.currentTimeMillis() - 2 * ContentStore.MarkerHealGraceMs, -1)
    assert(ContentStore.recordedBuckets(dir, hconf) == 0)
    Seq("a" -> "1", "b" -> "2").toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore")
      .option("path", dir).option("buckets", 2).mode("append").save()
    assert(ContentStore.recordedBuckets(dir, hconf) == 2, "commit must heal the empty metadata")
    assert(StoreLifecycle.vacuum(spark, dir, 0L, hconf).isEmpty)
    assert(ContentStore.recordedBuckets(dir, hconf) == 2, "vacuum must spare the layout metadata")
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2"))
  }

  test("a FRESH empty _buckets marker refuses the commit instead of healing") {
    import spark.implicits._
    // the split-brain guard: an empty marker younger than the grace
    // may be a concurrent first commit observed between ITS create and
    // close — deleting it could discard that racer's about-to-be-valid
    // record and let two writers record DIFFERENT counts. The safe
    // answer is to refuse THIS commit (retry-later semantics); the
    // marker must survive untouched for the racer (or a post-grace
    // heal) to resolve.
    val dir = tmp()
    val (fs, root) = ContentStore.fs(dir, hconf)
    fs.mkdirs(root)
    val marker = new Path(root, "_buckets")
    fs.create(marker, false).close() // fresh: mtime = now
    val ex = intercept[Exception] {
      Seq("a" -> "1").toDF("result_key", "payload")
        .write.format("graft.sources.ContentStore")
        .option("path", dir).option("buckets", 2).mode("append").save()
    }
    assert(ex.getMessage != null)
    assert(fs.exists(marker), "a fresh empty marker must not be deleted")
    assert(ContentStore.recordedBuckets(dir, hconf) == 0)
  }

  test("a tail that consumed some sources stays exactly-once across compaction") {
    val dir  = tmp()
    val ckpt = tmp()
    val out  = tmp()
    def drain(): Seq[String] = drainTo(dir, ckpt, out)
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    assert(drain() == Seq("a", "b"), "tail consumes the first two epochs")
    writeOne(dir, "c" -> "3")
    writeOne(dir, "d" -> "4")
    // compact EVERYTHING — including the two epochs the tail already saw
    StoreLifecycle.compactEpochs(spark, dir)
    // the tail must emit only c,d (through the shadowed-but-on-disk
    // source manifests), never the compaction's rewritten a,b
    assert(drain() == Seq("a", "b", "c", "d"),
      "exactly the two unseen epochs arrive, nothing replays")
    // and the compaction manifest is now consumed: nothing further
    assert(drain() == Seq("a", "b", "c", "d"))
  }

  test("a tail that consumed everything sees a later compaction as already-consumed") {
    val dir  = tmp()
    val ckpt = tmp()
    val out  = tmp()
    def drain(): Seq[String] = drainTo(dir, ckpt, out)
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    assert(drain() == Seq("a", "b"))
    StoreLifecycle.compactEpochs(spark, dir)
    assert(drain() == Seq("a", "b"), "the compaction carries no rows this tail hasn't seen")
    // a FRESH tail (new checkpoint) reads the compacted form, once
    assert(drainTo(dir, tmp(), tmp()) == Seq("a", "b"))
  }

  test("nested compaction: a lagging tail resolves through both layers exactly-once") {
    val dir  = tmp()
    val ckpt = tmp()
    val out  = tmp()
    def drain(): Seq[String] = drainTo(dir, ckpt, out)
    writeOne(dir, "a" -> "1")
    assert(drain() == Seq("a"), "tail consumes only the first epoch")
    writeOne(dir, "b" -> "2")
    writeOne(dir, "c" -> "3")
    // first compaction folds a,b (keepLast=1 keeps c)
    StoreLifecycle.compactEpochs(spark, dir, keepLast = 1)
    writeOne(dir, "d" -> "4")
    // second folds [compact(a,b), c, d] — a compaction of a compaction
    assert(StoreLifecycle.compactEpochs(spark, dir).isDefined)
    // the tail saw only 'a': it must now get b (via the inner
    // compaction's un-consumed source), c and d — each exactly once
    assert(drain() == Seq("a", "b", "c", "d"))
    // a fresh tail reads the outermost compaction directly
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4"))
  }

  test("a racing duplicate compaction commit loses idempotently") {
    import spark.implicits._
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    val sources = ContentStore.snapshotManifests(dir)
    val name    = StoreLifecycle.compactEpochs(spark, dir).get
    val filesAfter = dataFiles(dir)
    // the losing racer: an identical compaction job (same deterministic
    // name, same sources) commits after the winner — its manifest
    // rename must no-op and its rewritten files must be dropped
    spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("manifests", sources.mkString(",")).load()
      .write.format("graft.sources.ContentStore")
      .option("path", dir).option("manifestName", name)
      .option("compactSources", sources.mkString(","))
      .mode("append").save()
    assert(dataFiles(dir) == filesAfter, "the loser's files must not survive")
    assert(ContentStore.manifestNames(dir, hconf).count(_ == name) == 1)
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2"))
  }

  test("compacting co-bucketed stores preserves the layout: SPJ stays zero-exchange") {
    import spark.implicits._
    // the B63 claim under maintenance: compaction rewrites files, so a
    // bucketed store must compact WITH its bucket count or the
    // shuffle-free join layout silently degrades to exchanges
    val dirA = tmp(); val dirB = tmp()
    def publish(dir: String, rows: Seq[(String, String)]): Unit =
      rows.toDF("result_key", "payload").write.format("graft.sources.ContentStore")
        .option("path", dir).option("buckets", 4).mode("append").save()
    publish(dirA, (1 to 150).map(i => (s"u$i", s"a$i")))
    publish(dirA, (151 to 300).map(i => (s"u$i", s"a$i")))
    publish(dirB, (151 to 300).map(i => (s"u$i", s"b$i")))
    publish(dirB, (301 to 450).map(i => (s"u$i", s"b$i")))
    // bucketing is recorded store metadata (the first bucketed commit
    // writes `_buckets`), so maintenance needs NO caller-supplied
    // count — a bare compactEpochs must preserve the layout; a
    // contradicting explicit count must refuse
    Seq(dirA, dirB).foreach { d =>
      assert(ContentStore.recordedBuckets(d, hconf) == 4)
      intercept[IllegalArgumentException](StoreLifecycle.compactEpochs(spark, d, buckets = 8))
      assert(StoreLifecycle.compactEpochs(spark, d).isDefined)
      StoreLifecycle.vacuum(spark, d, 0L, hconf): Unit
      assert(ContentStore.manifestNames(d, hconf).size == 1)
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold"   -> "-1",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    GraftSession.withConfs(spark, confs: _*) {
      def store(dir: String) = spark.read.format("graft.sources.ContentStore")
        .option("path", dir).option("bucketedRead", 4).load()
      val joined = store(dirA)
        .join(store(dirB).withColumnRenamed("payload", "payload_b"), Seq("bucket", "result_key"))
        .select("result_key", "payload", "payload_b")
      val got = joined.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(got == (151 to 300).map(i => (s"u$i", s"a$i", s"b$i")).toSet)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"join over compacted co-bucketed stores must stay shuffle-free:\n$plan")
    }
  }

  test("an unexpired pin lease keeps its manifests through a grace-0 vacuum; release then sweeps") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    val lease = StoreLifecycle.acquirePin(dir, "run-1", ttlMs = 3600_000L, hconf)
    assert(lease.manifests == ContentStore.snapshotManifests(dir))
    // post-pin append the lease must not cover
    writeOne(dir, "c" -> "3")
    StoreLifecycle.compactEpochs(spark, dir)
    def pinned() = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("manifests", lease.manifests.mkString(",")).load()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // grace 0 is maximally hostile: without the lease both pinned
    // sources would expire (the second test above proves exactly that)
    val acts = StoreLifecycle.vacuum(spark, dir, 0L, hconf)
    assert(acts.filter(_.kind == "pinned_manifest_kept").map(_.name).toSet == lease.manifests.toSet,
      s"the two leased sources must be kept and reported: $acts")
    assert(acts.count(_.kind == "expired_manifest") == 1,
      s"the unleased post-pin source expires normally: $acts")
    assert(pinned() == Set("a" -> "1", "b" -> "2"),
      "the leased snapshot must read exactly through maintenance")
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2", "c" -> "3"), "live view unaffected")
    // consumer done: release, and the next vacuum reclaims the holdback
    StoreLifecycle.releasePin(dir, "run-1", hconf)
    val acts2 = StoreLifecycle.vacuum(spark, dir, 0L, hconf)
    assert(acts2.filter(_.kind == "expired_manifest").map(_.name).toSet == lease.manifests.toSet,
      s"released sources must expire on the next vacuum: $acts2")
    intercept[Exception](pinned())
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2", "c" -> "3"))
  }

  test("dry-run vacuum reports the real run's actions and deletes nothing") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    StoreLifecycle.compactEpochs(spark, dir)
    val (fs, root) = ContentStore.fs(dir, hconf)
    val f = new Path(root, "data/orphan-old")
    val o = fs.create(f, false); o.write("eA==\teA==\n".getBytes("UTF-8")); o.close()
    fs.setTimes(f, 0L, -1L): Unit
    val filesBefore    = dataFiles(dir)
    val manifestBefore = ContentStore.manifestNames(dir, hconf)
    val planned = StoreLifecycle.vacuum(spark, dir, 0L, hconf, dryRun = true)
    assert(planned.count(_.kind == "expired_manifest") == 2 &&
      planned.exists(a => a.kind == "orphan_file" && a.name == "orphan-old"),
      s"dry run must report the full plan: $planned")
    assert(dataFiles(dir) == filesBefore, "dry run must not touch data files")
    assert(ContentStore.manifestNames(dir, hconf) == manifestBefore,
      "dry run must not touch manifests")
    val real = StoreLifecycle.vacuum(spark, dir, 0L, hconf)
    assert(real.toSet == planned.toSet, "the real run must execute exactly the dry-run plan")
    assert(!dataFiles(dir).contains("orphan-old"))
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2"))
  }

  test("the orphan report caps while deletion stays complete") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    val (fs, root) = ContentStore.fs(dir, hconf)
    for (i <- 1 to 5) {
      val f = new Path(root, f"data/orphan-$i%02d")
      val o = fs.create(f, false); o.write("eA==\teA==\n".getBytes("UTF-8")); o.close()
      fs.setTimes(f, 0L, -1L): Unit
    }
    val acts = StoreLifecycle.vacuum(spark, dir, 60000L, hconf, reportCap = 3)
    assert(acts.count(_.kind == "orphan_file") == 3, s"report must cap at 3: $acts")
    assert(acts.exists(a => a.kind == "swept_unreported" && a.name == "2"),
      s"the remainder count must be exact: $acts")
    val left = dataFiles(dir).filter(_.startsWith("orphan-"))
    assert(left.isEmpty, s"deletion must never be capped: $left")
    assert(readAll(dir) == Set("a" -> "1"))
  }

  test("acquire refuses a lease naming an uncommitted manifest; one broken later is flagged broken_pin") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    // acquire-time validation: the caller learns NOW, not at the next
    // vacuum (ADVICE r15 / VERDICT-r15 item 3)
    val e = intercept[IllegalArgumentException] {
      StoreLifecycle.acquirePin(dir, "too-late", ttlMs = 3600_000L, hconf,
        manifests = Some(Seq("epoch-that-never-was")))
    }
    assert(e.getMessage.contains("epoch-that-never-was"))
    assert(StoreLifecycle.pins(dir, hconf).isEmpty, "a refused acquire must write nothing")
    // a lease can still BECOME broken (e.g. a pre-lease-era vacuum
    // deleted its manifest): vacuum flags it
    val m = ContentStore.manifestNames(dir, hconf).head
    StoreLifecycle.acquirePin(dir, "was-valid", ttlMs = 3600_000L, hconf,
      manifests = Some(Seq(m))): Unit
    val (fs, root) = ContentStore.fs(dir, hconf)
    fs.delete(new Path(root, s"_manifest/$m"), false): Unit
    val acts = StoreLifecycle.vacuum(spark, dir, 0L, hconf)
    assert(acts.contains(StoreLifecycle.VacuumAction("broken_pin", s"was-valid:$m")),
      s"vacuum must flag the broken pin: $acts")
    // the lease itself is live, so it is NOT swept
    assert(StoreLifecycle.pins(dir, hconf).map(_.id) == Seq("was-valid"))
    StoreLifecycle.releasePin(dir, "was-valid", hconf)
  }

  test("renewPin extends the horizon across a vacuum that would have expired the original TTL") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    val snapshot = ContentStore.snapshotManifests(dir)
    // a short lease the training run is about to outlive (generous
    // enough to survive the compaction between acquire and renew)
    val orig = StoreLifecycle.acquirePin(dir, "long-run", ttlMs = 5000L, hconf)
    StoreLifecycle.compactEpochs(spark, dir)
    // the run renews BEFORE expiry; the renewed horizon must carry the
    // original manifest set
    val renewed = StoreLifecycle.renewPin(dir, "long-run", ttlMs = 3600_000L, hconf)
    assert(renewed.manifests == snapshot, "renewal must keep the leased manifest set")
    // wait out the ORIGINAL horizon, so only the renewal holds the pin
    val wait = orig.expiresAtMs - System.currentTimeMillis() + 100
    if (wait > 0) Thread.sleep(wait)
    val acts = StoreLifecycle.vacuum(spark, dir, 0L, hconf)
    assert(acts.count(_.kind == "pinned_manifest_kept") == 2 &&
      !acts.exists(_.kind == "expired_manifest"),
      s"the renewed lease must keep holding both sources: $acts")
    // the pinned snapshot still reads
    import spark.implicits._
    val pinnedRead = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("manifests", snapshot.mkString(","))
      .load().as[(String, String)].collect().toSet
    assert(pinnedRead == Set("a" -> "1", "b" -> "2"))
    // renewing a missing or expired lease refuses
    intercept[IllegalArgumentException] {
      StoreLifecycle.renewPin(dir, "no-such-lease", ttlMs = 1000L, hconf)
    }
    StoreLifecycle.releasePin(dir, "long-run", hconf)
    StoreLifecycle.acquirePin(dir, "already-dead", ttlMs = -1L, hconf): Unit
    val e2 = intercept[IllegalArgumentException] {
      StoreLifecycle.renewPin(dir, "already-dead", ttlMs = 1000L, hconf)
    }
    assert(e2.getMessage.contains("re-acquire"))
    StoreLifecycle.releasePin(dir, "already-dead", hconf)
  }

  test("an expired lease protects nothing and is itself swept") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    // already past expiry at vacuum time
    StoreLifecycle.acquirePin(dir, "stale-run", ttlMs = -1L, hconf): Unit
    StoreLifecycle.compactEpochs(spark, dir)
    val acts = StoreLifecycle.vacuum(spark, dir, 0L, hconf)
    assert(acts.count(_.kind == "expired_manifest") == 2,
      s"an expired lease must not hold sources: $acts")
    assert(acts.map(_.kind).count(_ == "expired_lease") == 1 &&
      acts.exists(a => a.kind == "expired_lease" && a.name == "stale-run"),
      s"the dead lease file must be swept: $acts")
    assert(StoreLifecycle.pins(dir, hconf).isEmpty)
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2"))
  }

  test("vacuum's referenced-file diff runs as a Spark job, not a driver walk") {
    // the 100 TB argument: at a 10⁹-blob store the referenced-file set
    // is tens of GB — it must never materialize on the driver. The pin
    // is behavioral (the diff's jobs carry the vacuum job group) on the
    // SAME fixture the litter test uses, so the distributed path is the
    // one producing the already-asserted VacuumActions.
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    val (fs, root) = ContentStore.fs(dir, hconf)
    val f = new Path(root, "data/orphan-old")
    val o = fs.create(f, false); o.write("eA==\teA==\n".getBytes("UTF-8")); o.close()
    fs.setTimes(f, 0L, -1L): Unit
    val groups = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) groups.add(g): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val acts = StoreLifecycle.vacuum(spark, dir, 0L, hconf)
      assert(acts.map(a => (a.kind, a.name)) == Seq(("orphan_file", "orphan-old")))
      // listener delivery is async; poll briefly instead of touching
      // the private listenerBus API
      import scala.jdk.CollectionConverters._
      val deadline = System.currentTimeMillis() + 10000
      while (!groups.asScala.contains(StoreLifecycle.VacuumJobGroup) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(groups.asScala.contains(StoreLifecycle.VacuumJobGroup),
        s"the referenced-file diff must run under the vacuum job group, saw: $groups")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(readAll(dir) == Set("a" -> "1"), "referenced files survive the distributed diff")
  }

  test("sharded data layout: listing parallelizes, actions and contents unchanged") {
    import spark.implicits._
    val dir = tmp()
    // first write declares the layout; the second (option-free) write
    // must ADOPT it from the recorded metadata
    (1 to 40).map(i => (s"k$i", s"v$i")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore")
      .option("path", dir).option("dataShards", 7).mode("append").save()
    (41 to 60).map(i => (s"k$i", s"v$i")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore")
      .option("path", dir).mode("append").save()
    assert(ContentStore.recordedDataShards(dir, hconf) == 7)
    val (fs, root) = ContentStore.fs(dir, hconf)
    val committed  = ContentStore.committedFiles(dir, hconf)
    assert(committed.nonEmpty && committed.forall(_.matches("s[0-6]/.+")),
      s"every data file must carry a shard prefix: $committed")
    assert(readAll(dir) == (1 to 60).map(i => (s"k$i", s"v$i")).toSet)
    // a contradicting explicit count refuses before staging
    val e = intercept[Exception] {
      Seq(("x", "y")).toDF("result_key", "payload")
        .write.format("graft.sources.ContentStore")
        .option("path", dir).option("dataShards", 3).mode("append").save()
    }
    assert(e.getMessage.contains("shards data files 7 ways"))

    // plant garbage in a shard dir, a flat legacy orphan, and a
    // stranded file in an UNRECORDED subdirectory (a racing loser's
    // shard) — all three must enter the distributed diff
    def plant(rel: String): Unit = {
      val f = new Path(root, s"data/$rel")
      fs.mkdirs(f.getParent)
      val o = fs.create(f, false); o.write("eA==\teA==\n".getBytes("UTF-8")); o.close()
      fs.setTimes(f, 0L, -1L): Unit
    }
    plant("s3/orphan-in-shard")
    plant("orphan-flat")
    plant("s9/orphan-stranded")

    // the listing stage must be one task per shard + one top-level
    val stageTasks = java.util.Collections.synchronizedList(new java.util.ArrayList[Int]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == StoreLifecycle.VacuumJobGroup)
          js.stageInfos.foreach(si => stageTasks.add(si.numTasks): Unit)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val acts =
      try StoreLifecycle.vacuum(spark, dir, 0L, hconf)
      finally {
        import scala.jdk.CollectionConverters._
        val deadline = System.currentTimeMillis() + 10000
        while (!stageTasks.asScala.contains(8) && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        spark.sparkContext.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    assert(stageTasks.asScala.contains(8),
      s"the sharded listing must plan 7 shard tasks + 1 top-level, saw stages: $stageTasks")
    assert(acts.filter(_.kind == "orphan_file").map(_.name).toSet ==
      Set("s3/orphan-in-shard", "orphan-flat", "s9/orphan-stranded"),
      s"all three planted orphans must be swept: $acts")
    assert(readAll(dir) == (1 to 60).map(i => (s"k$i", s"v$i")).toSet,
      "referenced sharded files must survive the diff")
    // maintenance preserves the layout: compaction's rewrite adopted
    // the recorded shard count
    assert(StoreLifecycle.compactEpochs(spark, dir).exists(_.startsWith("compact-")))
    val afterCompact = ContentStore.committedFiles(dir, hconf)
    assert(afterCompact.forall(_.matches("s[0-6]/.+")),
      s"compaction must rewrite into the recorded shard layout: $afterCompact")
    assert(readAll(dir) == (1 to 60).map(i => (s"k$i", s"v$i")).toSet)
  }

  test("sharded + bucketed compose: key-grouped read over a shard-prefixed layout") {
    import spark.implicits._
    val dir = tmp()
    (1 to 30).map(i => (s"k$i", s"v$i")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore")
      .option("path", dir).option("buckets", 2).option("dataShards", 3).mode("append").save()
    val files = ContentStore.committedFiles(dir, hconf)
    assert(files.forall(f => f.matches("s[0-2]/b[01]-.+")), s"shard/bucket name shape: $files")
    val got = spark.read.format("graft.sources.ContentStore")
      .option("path", dir).option("bucketedRead", 2).load()
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(got.map(t => (t._1, t._2)).toSet == (1 to 30).map(i => (s"k$i", s"v$i")).toSet)
    assert(got.forall { case (k, _, b) => b == ContentStore.bucketOf(k, 2) })
  }

  test("sharded columnar store: append adopts the layout and the tail drains it") {
    import spark.implicits._
    val dir = tmp()
    graft.sources.ParquetEpochs.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir, dataShards = 4)
    graft.sources.ParquetEpochs.append(Seq((3L, "c")).toDF("id", "name"), dir)
    assert(ContentStore.recordedDataShards(dir, hconf) == 4)
    val files = ContentStore.committedFiles(dir, hconf)
    assert(files.forall(_.matches("s[0-3]/pq-.+\\.parquet")), s"sharded parquet parts: $files")
    val q = spark.readStream
      .format("graft.sources.ColumnarStore").option("path", dir).load()
      .writeStream.format("memory").queryName("sharded_columnar_tail")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("sharded_columnar_tail").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("gate fixture: pinned read equals the store-free profile across compaction + vacuum") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-pinstore-spec"
    val out = graft.operators.Joins.storePinnedRead(tables, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    import org.apache.spark.sql.functions._
    val oracle = tables.events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(format_string("u%06d", col("user_id")), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(out == oracle, "the leased pin must reproduce the pre-append corpus exactly")
    // the post-release vacuum reclaimed the holdback: only the
    // compaction manifest remains, and the lease registry is empty
    assert(ContentStore.manifestNames(dir, hconf).size == 1,
      "released sources must be gone from disk")
    assert(StoreLifecycle.pins(dir, hconf).isEmpty, "the released lease must be gone")
  }

  test("gate fixture: lifecycle read equals the store-free profile and leaves a clean store") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-lifecyclestore-spec"
    val out = graft.operators.Joins.storeLifecycleRead(tables, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    import org.apache.spark.sql.functions._
    val oracle = tables.events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(format_string("u%06d", col("user_id")), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(out == oracle, "maintenance must never change values")
    // the store ends maintained: compaction + kept epoch, no litter
    assert(ContentStore.manifestNames(dir, hconf).size == 2,
      "expired sources must be gone from disk")
    val litter = dataFiles(dir).filter(f => f.startsWith(".staging") || f.startsWith("orphan"))
    assert(litter.isEmpty, s"vacuum must have swept the planted litter: $litter")
  }

  test("K-V → columnar migration copies row-for-row and leaves source pins intact") {
    val src = tmp()
    val dst = tmp() + "/columnar"
    writeOne(src, "a" -> "1", "b" -> "2")
    writeOne(src, "c" -> "3")
    writeOne(src, "a" -> "1") // duplicate row — the multiset check must carry it
    val before = spark.read.format("graft.sources.ContentStore").option("path", src).load()
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    // a pre-existing consumer pin must survive the migration window
    val consumer = StoreLifecycle.acquirePin(src, "training-run", 600000L, hconf)
    val out      = StoreLifecycle.migrateToColumnar(spark, src, dst)
    assert(out.size == 3, "one columnar epoch per source manifest")
    assert(out.forall(_.startsWith("migrate-")))
    assert(ContentStore.recordedFormat(dst, hconf).contains("parquet"))
    val migrated = graft.sources.ParquetEpochs.read(spark, dst, out)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(migrated == before, "migration must preserve the multiset of rows")
    // source untouched: still K-V readable, consumer pin still live,
    // migration's own lease released
    assert(readAll(src) == before.toSet)
    assert(StoreLifecycle.pins(src, hconf).map(_.id) == Seq("training-run"))
    StoreLifecycle.releasePin(src, consumer.id, hconf)
  }

  test("migration re-run converges idempotently; a columnar source and an alien dest refuse") {
    val src = tmp()
    val dst = tmp() + "/columnar"
    writeOne(src, "a" -> "1")
    writeOne(src, "b" -> "2")
    val first  = StoreLifecycle.migrateToColumnar(spark, src, dst)
    val second = StoreLifecycle.migrateToColumnar(spark, src, dst)
    assert(second == first, "a re-run must land the same deterministic epochs")
    assert(ContentStore.manifestNames(dst, hconf).toSet == first.toSet,
      "idempotent replays must not add epochs")
    assert(graft.sources.ParquetEpochs.read(spark, dst, first).count() == 2)
    // a columnar store is not a migration SOURCE
    val ex1 = intercept[IllegalStateException] {
      StoreLifecycle.migrateToColumnar(spark, dst, tmp() + "/x")
    }
    assert(ex1.getMessage.contains("already a columnar store"))
    // a dest holding manifests from anywhere else refuses (re-running
    // after source compaction would double-land rows under new names)
    val src2 = tmp()
    writeOne(src2, "z" -> "9")
    val ex2 = intercept[IllegalStateException] {
      StoreLifecycle.migrateToColumnar(spark, src2, dst)
    }
    assert(ex2.getMessage.contains("not from this source snapshot"))
  }

  test("clusterBy migration is row-identical and hands the destination key-range skipping") {
    import spark.implicits._
    val src = tmp()
    val dst = tmp() + "/columnar"
    // one big K-V epoch of string keys — the migration rewrite is the
    // moment to range-cluster, and string keys exercise the unsigned
    // UTF-8 bound side of the stats
    (0 until 400).map(i => (f"k$i%05d", i.toString)).toDF("result_key", "payload")
      .repartition(4)
      .write.format("graft.sources.ContentStore").option("path", src).mode("append").save()
    val out = StoreLifecycle.migrateToColumnar(spark, src, dst,
      clusterBy = Some(("result_key", 4)))
    val migrated = graft.sources.ParquetEpochs.read(spark, dst, out)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(migrated == (0 until 400).map(i => (f"k$i%05d", i.toString)).sorted,
      "clustering must never change the rows")
    // the layout pays off at the first read: a key-scoped point read
    // plans a strict subset of the epoch's files
    val total   = out.flatMap(m => ContentStore.filesInManifest(dst, m, hconf)).size
    val planned = graft.sources.ParquetEpochs
      .plannedFiles(dst, out, "result_key", "k00100", "k00110")
    assert(total > 1 && planned.nonEmpty && planned.size < total,
      s"clustered migration must skip files on a key-range read ($total planned ${planned.size})")
    val ranged = graft.sources.ParquetEpochs
      .readRange(spark, dst, out, "result_key", "k00100", "k00110")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ranged == (100 to 110).map(i => f"k$i%05d"), "skipping must never change values")
  }

  test("migration pins its window: the equivalence check reads the leased snapshot") {
    // an append landing AFTER the migration's pin must not appear in
    // the migrated store or fail the verify — the lease freezes the
    // window exactly like every other pinned consumer
    val src = tmp()
    val dst = tmp() + "/columnar"
    writeOne(src, "a" -> "1")
    val out = StoreLifecycle.migrateToColumnar(spark, src, dst)
    writeOne(src, "late" -> "9")
    assert(graft.sources.ParquetEpochs.read(spark, dst, out)
      .collect().map(_.getString(0)).toSeq == Seq("a"))
    // and a follow-up migration to a FRESH dest carries the new epoch
    val dst2 = tmp() + "/columnar2"
    val out2 = StoreLifecycle.migrateToColumnar(spark, src, dst2)
    assert(graft.sources.ParquetEpochs.read(spark, dst2, out2)
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "late"))
  }

  test("OCC: a replacement whose planned sources were shadowed refuses with a retryable conflict") {
    val dir = tmp()
    writeOne(dir, "a" -> "1")
    writeOne(dir, "b" -> "2")
    writeOne(dir, "c" -> "3")
    writeOne(dir, "d" -> "4")
    val epochs = ContentStore.snapshotManifests(dir)
    // a real compaction folds the two oldest epochs...
    val c1 = StoreLifecycle.compactEpochs(spark, dir, keepLast = 2)
    assert(c1.nonEmpty)
    // ...then a STALE plan (computed before that compaction, here the
    // racing loser overlapping-but-unequal: one now-shadowed source +
    // one still-live source) must refuse at commit, store untouched
    val afterCompact = ContentStore.snapshotManifests(dir).toSet
    val stale = Seq(
      epochs.filterNot(afterCompact).head, // folded by c1
      epochs.filter(afterCompact).head)    // still live
    val before = ContentStore.snapshotManifests(dir)
    intercept[graft.sources.StoreCommitConflictException] {
      ContentStoreWrite.writeManifest(
        dir, "stale-replacement", Array.empty, hconf,
        idempotent = true, compactSources = Some(stale))
    }
    assert(ContentStore.snapshotManifests(dir) == before, "refused commit must change nothing")
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4"))
    // the RETRY LOOP: re-running the operation re-plans from the
    // current snapshot and converges (folds everything cleanly)
    assert(StoreLifecycle.compactEpochs(spark, dir).nonEmpty)
    assert(readAll(dir) == Set("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4"))
    // a replacement over sources still effective commits fine
    val live = ContentStore.snapshotManifests(dir)
    ContentStoreWrite.writeManifest(
      dir, "retire-live", Array.empty, hconf,
      idempotent = true, compactSources = Some(live))
    assert(readAll(dir).isEmpty)
  }
}
