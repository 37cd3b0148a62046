package graft

import graft.operators.{Dedup, Paging, Temporal}

/** The engine's SQL surface: every operator is a DataFrame plan, which
  * means it is ALSO reachable from pure `spark.sql` over registered
  * views — a user can drive the engine from SQL alone (the reference's
  * own interface to its page queries, lcount.go:171-196, was SQL).
  * Custom codegen kernels participate because GraftExtensions, which
  * every GraftSession loads, injects them as SQL functions.
  */
class SqlSurfaceSpec extends SparkSpecBase {

  private def viewsReady(): Unit = {
    tables.orders.createOrReplaceTempView("orders")
    tables.customer.createOrReplaceTempView("customer")
    tables.events.createOrReplaceTempView("events")
    tables.documents.createOrReplaceTempView("documents")
  }

  test("page-count query in pure SQL equals the operator") {
    viewsReady()
    val sql = spark.sql(
      """SELECT CAST(c.c_nationkey AS BIGINT) AS topic_id, count(*) AS n_devices,
        |  CAST(floor(count(*)/100)+1 AS BIGINT) AS page_count
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin
    )
    assert(sql.collect().toSeq == Paging.topicPageCounts(tables).collect().toSeq)
  }

  test("exact dedup in pure SQL equals the operator") {
    viewsReady()
    val sql = spark.sql(
      """WITH h AS (
        |  SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ')) AS text_hash
        |  FROM documents)
        |SELECT doc_id, text_hash,
        |  min(doc_id) OVER (PARTITION BY text_hash) AS keep_doc_id,
        |  count(*) OVER (PARTITION BY text_hash) AS group_size
        |FROM h ORDER BY doc_id""".stripMargin
    )
    assert(sql.collect().toSeq == Dedup.exact(tables).collect().toSeq)
  }

  test("as-of join in pure SQL (union + running window) equals the operator") {
    viewsReady()
    val sql = spark.sql(
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, 0 AS tag,
        |         named_struct('c_ts', ts, 'c_id', event_id) AS c
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, 1 AS tag,
        |         CAST(NULL AS struct<c_ts:timestamp,c_id:bigint>) AS c
        |  FROM events WHERE event_type = 'purchase'),
        |carried AS (
        |  SELECT *, last(c, true) OVER (
        |    PARTITION BY user_id ORDER BY ts, tag, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
        |  FROM tagged)
        |SELECT event_id, user_id, ts, last_click.c_id AS click_event_id,
        |  last_click.c_ts AS click_ts,
        |  unix_micros(ts) - unix_micros(last_click.c_ts) AS gap_us
        |FROM carried WHERE tag = 1 AND last_click IS NOT NULL
        |ORDER BY event_id""".stripMargin
    )
    assert(sql.collect().toSeq == Temporal.asofPriorClick(tables).collect().toSeq)
  }

  test("snapshot diff in pure SQL (full outer hash compare) equals the operator") {
    viewsReady()
    val sql = spark.sql(
      """WITH v1 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 3 THEN substr(text, 1, greatest(length(text) - 10, 1))
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 2),
        |v2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5),
        |j AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    md5(v1.text) AS old_hash, md5(v2.text) AS new_hash
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT doc_id,
        |  CASE WHEN old_hash IS NULL THEN 'added'
        |       WHEN new_hash IS NULL THEN 'removed'
        |       WHEN old_hash <> new_hash THEN 'changed' END AS change,
        |  old_hash, new_hash
        |FROM j
        |WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash
        |ORDER BY doc_id""".stripMargin
    )
    assert(sql.collect().toSeq == graft.operators.Curation.snapshotDiff(tables).collect().toSeq)
  }

  test("custom codegen kernels are callable from SQL") {
    viewsReady()
    val rows = spark
      .sql(
        """SELECT doc_id,
          |  simhash64(transform(array_distinct(split(text, ' ')),
          |    w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))) AS sh,
          |  vec_norm(array(cast(3.0 as float), cast(4.0 as float))) AS nrm
          |FROM documents ORDER BY doc_id LIMIT 5""".stripMargin
      )
      .collect()
    assert(rows.length == 5)
    assert(rows.forall(r => math.abs(r.getAs[Double]("nrm") - 5.0) < 1e-6))
    val viaOperator =
      Dedup.simhashes(tables).limit(5).collect().map(_.getAs[Long]("simhash")).toSeq
    assert(rows.map(_.getAs[Long]("sh")).toSeq == viaOperator)
  }


  test("registering a kernel twice leaves the function registry unchanged") {
    // a fresh session of the contract resolves every kernel before any
    // operator runs: GraftExtensions injected them all
    val s   = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val unresolved = graft.functions.kernels.filterNot(k => reg.functionExists(k.id)).map(_.name)
    assert(unresolved.isEmpty, s"kernels the contract session does not resolve: $unresolved")
    // without the entry, register adds it once
    val id  = org.apache.spark.sql.catalyst.FunctionIdentifier("shingles")
    assert(reg.dropFunction(id))
    assert(!reg.functionExists(id))
    graft.functions.ShingleExprs.register(s)
    val (names, info) = (reg.listFunction().toSet, reg.lookupFunction(id).get)
    graft.functions.ShingleExprs.register(s)
    assert(reg.listFunction().toSet == names)
    assert(reg.lookupFunction(id).get eq info, "the second register replaced shingles")
    assert(s.sql("SELECT size(shingles(split('a b c d e', ' '))) AS n").head().getInt(0) == 3)
  }

  test("catalog: K-V and columnar stores resolve BY NAME; values equal the path-option reads") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec").toString
    useCatalog("gspec", wh)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // K-V store
    Seq(("a", "1"), ("b", "2")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", s"$wh/kv").mode("append").save()
    val viaCatalog = spark.sql("SELECT result_key, payload FROM gspec.kv ORDER BY result_key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val viaPath = spark.read.format("graft.sources.ContentStore").option("path", s"$wh/kv")
      .load().orderBy("result_key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(viaCatalog == viaPath && viaCatalog == Seq("a" -> "1", "b" -> "2"))
    // columnar store (two clustered epochs)
    val rows = (0L until 64L).map(i => (i, s"v$i"))
    graft.sources.ParquetEpochs.append(
      rows.take(32).toDF("id", "v").repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      s"$wh/cols"): Unit
    graft.sources.ParquetEpochs.append(
      rows.drop(32).toDF("id", "v").repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      s"$wh/cols"): Unit
    val sqlRead = spark.sql("SELECT id, v FROM gspec.cols ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val apiRead = graft.sources.ParquetEpochs
      .read(spark, s"$wh/cols", graft.sources.ContentStore.snapshotManifests(s"$wh/cols"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(sqlRead == apiRead && sqlRead.size == 64)
    // planning-time file skipping on the SQL path: a clustered-key
    // slice plans fewer partitions (files) than the full scan, with
    // the filter still applied residually
    def partitionsOf(sql: String): Int = {
      val plan = spark.sql(sql).queryExecution.executedPlan
      plan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.getOrElse(fail(s"no BatchScanExec in: $plan"))
    }
    val full   = partitionsOf("SELECT id FROM gspec.cols")
    val sliced = partitionsOf("SELECT id FROM gspec.cols WHERE id BETWEEN 3 AND 5")
    assert(sliced < full, s"expected file skipping: $sliced vs $full planned partitions")
    val vals = spark.sql("SELECT id FROM gspec.cols WHERE id BETWEEN 3 AND 5 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(3L, 4L, 5L), "residual filter must still apply inside covering files")
  }

  test("catalog time travel: TIMESTAMP AS OF and VERSION AS OF (pin lease) from SQL") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-tt").toString
    useCatalog("gtt", wh)
    import spark.implicits._
    val dir   = s"$wh/kv"
    val hconf = spark.sessionState.newHadoopConf()
    Seq(("a", "1")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    // lease the epoch-1 snapshot as a NAMED VERSION, then observe the
    // boundary instant and land a second epoch strictly after it
    graft.sources.StoreLifecycle.acquirePin(dir, "v1", 3600000L, hconf): Unit
    val (fsys, root) = graft.sources.ContentStore.fs(dir, hconf)
    val m1 = fsys.listStatus(new org.apache.hadoop.fs.Path(root, "_manifest"))
      .filterNot(_.getPath.getName.startsWith(".")).map(_.getModificationTime).max
    val probe = new org.apache.hadoop.fs.Path(root, "._fence")
    var t = 0L
    while ({ fsys.create(probe, true).close()
             t = fsys.getFileStatus(probe).getModificationTime; t <= m1 }) Thread.sleep(5)
    fsys.delete(probe, false): Unit
    Seq(("b", "2")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", dir).mode("append").save()
    def keys(sql: String): Seq[String] =
      spark.sql(sql).collect().map(_.getString(0)).sorted.toSeq
    assert(keys("SELECT result_key FROM gtt.kv") == Seq("a", "b"))
    assert(keys(s"SELECT result_key FROM gtt.kv TIMESTAMP AS OF timestamp_millis(${m1}L)")
      == Seq("a"), "as-of view must exclude the later epoch")
    assert(keys("SELECT result_key FROM gtt.kv VERSION AS OF 'v1'") == Seq("a"),
      "the pin lease is the named version")
    intercept[Exception](
      spark.sql("SELECT * FROM gtt.kv VERSION AS OF 'no-such-version'").collect())
  }


  test("catalog writes and streams: INSERT INTO by name on both payloads; readStream.table tails") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-w").toString
    useCatalog("gw", wh)
    import spark.implicits._
    // columnar: seed one epoch, INSERT a second through the catalog —
    // the append protocol verbatim (schema signature enforced)
    graft.sources.ParquetEpochs.append(Seq((1L, "a")).toDF("id", "v"), s"$wh/cols"): Unit
    spark.sql("INSERT INTO gw.cols SELECT 2L AS id, 'b' AS v")
    assert(spark.sql("SELECT id, v FROM gw.cols ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(1L -> "a", 2L -> "b"))
    // INSERT OVERWRITE (B92, r19): one atomic replacement — was a
    // refusal before the overwrite verb existed
    spark.sql("INSERT OVERWRITE gw.cols SELECT 9L AS id, 'z' AS v")
    assert(spark.sql("SELECT id, v FROM gw.cols").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq(9L -> "z"))
    spark.sql("INSERT INTO gw.cols SELECT 1L AS id, 'a' AS v")
    spark.sql("INSERT INTO gw.cols SELECT 2L AS id, 'b' AS v")
    // a schema-signature mismatch refuses before any file lands
    intercept[Exception](spark.sql("INSERT INTO gw.cols SELECT 'x' AS id, 'b' AS v"))
    // K-V: INSERT INTO rides the existing BATCH_WRITE surface
    Seq(("a", "1")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", s"$wh/kv").mode("append").save()
    spark.sql("INSERT INTO gw.kv SELECT 'b' AS result_key, '2' AS payload")
    assert(spark.sql("SELECT result_key FROM gw.kv ORDER BY 1")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // streaming by name: the columnar tail drains both epochs exactly-once
    val out  = java.nio.file.Files.createTempDirectory("graft-catspec-so").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-catspec-sc").toString
    val q = spark.readStream.table("gw.cols")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 9L))
    // a time-traveled view neither streams nor accepts inserts
    val pin = graft.sources.ContentStore.snapshotManifests(s"$wh/cols")
    graft.sources.StoreLifecycle.acquirePin(
      s"$wh/cols", "v1", 3600000L, spark.sessionState.newHadoopConf()): Unit
    intercept[Exception](
      spark.sql("INSERT INTO gw.cols VERSION AS OF 'v1' SELECT 3L, 'c'"): Unit)
    val pinnedStream = intercept[Exception] {
      val qq = spark.readStream.table("gw.cols VERSION AS OF 'v1'")
      qq.writeStream.format("noop").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(pinnedStream != null && pin.nonEmpty)
  }

  test("catalog discovery and streaming write: SHOW TABLES lists stores; toTable streams into K-V") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-sw").toString
    useCatalog("gsw", wh)
    import spark.implicits._
    Seq(("seed", "0")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", s"$wh/sink").mode("append").save()
    graft.sources.ParquetEpochs.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$wh/src"): Unit
    // discovery: both stores list; a bare directory does not
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$wh/not_a_store")): Unit
    val listed = spark.sql("SHOW TABLES IN gsw").collect().map(_.getString(1)).sorted.toSeq
    assert(listed == Seq("sink", "src"), s"SHOW TABLES listed $listed")
    // namespaces map to warehouse subdirectories: team1.docs resolves,
    // lists under its namespace, and reads back by qualified name
    graft.sources.ParquetEpochs.append(
      Seq((9L, "n")).toDF("id", "v"), s"$wh/team1/docs"): Unit
    assert(spark.sql("SHOW TABLES IN gsw.team1").collect().map(_.getString(1)).toSeq == Seq("docs"))
    assert(spark.sql("SELECT v FROM gsw.team1.docs").collect().map(_.getString(0)).toSeq == Seq("n"))
    // streaming write BY NAME: the columnar tail drains into the K-V
    // store through the table's existing STREAMING_WRITE surface
    val ckpt = java.nio.file.Files.createTempDirectory("graft-catspec-swc").toString
    val q = spark.readStream.table("gsw.src")
      .selectExpr("concat('k', id) AS result_key", "v AS payload")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gsw.sink")
    q.awaitTermination()
    assert(spark.sql("SELECT result_key FROM gsw.sink ORDER BY 1")
      .collect().map(_.getString(0)).toSeq == Seq("k1", "k2", "seed"))
  }

  test("catalog DELETE: SQL DELETE maps to the store delete verbs; bare DELETE is expire-all") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-del").toString
    useCatalog("gdel", wh)
    import spark.implicits._
    // columnar: IN/= conjuncts intersect (AND semantics); NULL drops
    graft.sources.ParquetEpochs.append(
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), s"$wh/cols"): Unit
    spark.sql("DELETE FROM gdel.cols WHERE id IN (2, 4, NULL)")
    spark.sql("DELETE FROM gdel.cols WHERE id IN (5, 6, 7) AND id IN (6, 7, 8) AND id = 7")
    assert(spark.sql("SELECT id FROM gdel.cols ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L, 6L, 8L, 9L, 10L))
    // the key-shaped deletes took the METADATA path (deleteWhere's
    // `delete-pq-` commits), not the row-level rewrite (`cow-`) — the
    // OptimizeMetadataOnlyDeleteFromTable interplay, pinned by the
    // commit names the two paths stamp
    val delNames = graft.sources.ContentStore.effectiveManifestNames(
      s"$wh/cols", spark.sessionState.newHadoopConf())
    assert(delNames.exists(_.startsWith("delete-pq-")) && !delNames.exists(_.startsWith("cow-")),
      s"key-shaped DELETE must stay metadata-only: $delNames")
    // not expressible as a key delete -> falls through to the
    // copy-on-write row-level path instead of refusing
    spark.sql("DELETE FROM gdel.cols WHERE id > 8")
    spark.sql("DELETE FROM gdel.cols WHERE id = 1 AND v = 'v1'")
    assert(spark.sql("SELECT id FROM gdel.cols ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 5L, 6L, 8L))
    // K-V: result_key-only conjuncts ride deleteKeys; payload refused
    Seq(("a", "1"), ("b", "2"), ("c", "3")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", s"$wh/kv").mode("append").save()
    spark.sql("DELETE FROM gdel.kv WHERE result_key = 'b'")
    assert(spark.sql("SELECT result_key FROM gdel.kv ORDER BY 1")
      .collect().map(_.getString(0)).toSeq == Seq("a", "c"))
    // a payload predicate can't ride the metadata path — it falls
    // through to the K-V copy-on-write rewrite and still deletes
    spark.sql("DELETE FROM gdel.kv WHERE payload = '1'")
    assert(spark.sql("SELECT result_key FROM gdel.kv ORDER BY 1")
      .collect().map(_.getString(0)).toSeq == Seq("c"))
    // bare DELETE = expireEpochs(∞): reads empty, but METADATA-ONLY —
    // the data files survive until vacuum's grace (the B86 contract)
    spark.sql("DELETE FROM gdel.kv")
    assert(spark.sql("SELECT count(*) FROM gdel.kv").collect().head.getLong(0) == 0L)
    // the retire replacement manifest stays live but lists NOTHING
    val conf = spark.sessionState.newHadoopConf()
    assert(graft.sources.ContentStore.effectiveManifestNames(s"$wh/kv", conf)
      .flatMap(m => graft.sources.ContentStore.filesInManifest(s"$wh/kv", m, conf)).isEmpty)
    val dataDir = new java.io.File(s"$wh/kv/data")
    assert(dataDir.exists && dataDir.listFiles().nonEmpty,
      "bare DELETE must retire epochs metadata-only, not reclaim files")
    // a time-traveled view refuses DELETE
    graft.sources.StoreLifecycle.acquirePin(
      s"$wh/cols", "keep", 3600000L, spark.sessionState.newHadoopConf()): Unit
    intercept[Exception](
      spark.sql("DELETE FROM gdel.cols VERSION AS OF 'keep' WHERE id = 1"): Unit)
  }

  test("catalog row-level DML: UPDATE, MERGE INTO, non-key DELETE via copy-on-write") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-dml").toString
    useCatalog("gdml", wh)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two key-clustered epochs of two files each — pruning observable
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    graft.sources.ParquetEpochs.append(
      df.filter(col("id") <= 5).repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      s"$wh/t"): Unit
    // manifest names carry random uuids (the snapshot is a SET, not an
    // ordering) — capture epoch 1's name before epoch 2 lands
    val m1 = graft.sources.ContentStore.snapshotManifests(s"$wh/t").head
    graft.sources.ParquetEpochs.append(
      df.filter(col("id") > 5).repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      s"$wh/t"): Unit
    val hconf  = spark.sessionState.newHadoopConf()
    val preDml = graft.sources.ContentStore.snapshotManifests(s"$wh/t")
    val m2     = preDml.filterNot(_ == m1).head
    // UPDATE with a bounds-prunable WHERE
    spark.sql("UPDATE gdml.t SET v = concat(v, '!') WHERE id = 3")
    // group pruning: the WHERE is confined to epoch 1's key range, so
    // only epoch 1 is shadowed — epoch 2 survives untouched, and the
    // replacement rewrote ONE covering file, carrying the other
    val effPost = graft.sources.ContentStore.effectiveManifestNames(s"$wh/t", hconf)
    assert(effPost.contains(m2) && !effPost.contains(m1),
      s"UPDATE must shadow only the covering epoch ($m1): $preDml -> $effPost")
    val cowM = effPost.filterNot(preDml.contains).head
    val cowFiles = graft.sources.ContentStore.filesInManifest(s"$wh/t", cowM, hconf)
    assert(cowFiles.size == 2 && cowFiles.count(_.contains("pq-cow-")) == 1,
      s"one rewritten + one carried expected, got $cowFiles")
    // non-key DELETE -> the same copy-on-write path
    spark.sql("DELETE FROM gdml.t WHERE id > 8")
    // MERGE: matched update + not-matched insert in one statement
    Seq((2L, "m2"), (11L, "m11")).toDF("id", "v").createOrReplaceTempView("dml_src")
    spark.sql(
      """MERGE INTO gdml.t t USING dml_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, v FROM gdml.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = Seq(1L -> "v1", 2L -> "m2", 3L -> "v3!", 4L -> "v4", 5L -> "v5",
      6L -> "v6", 7L -> "v7", 8L -> "v8", 11L -> "m11")
    assert(got == want, s"got $got")
    // the pre-DML pinned snapshot still reads the ORIGINAL rows —
    // every DML committed copy-on-write replacements, never mutation
    val before = graft.sources.ParquetEpochs.read(spark, s"$wh/t", preDml)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(before == (1L to 10L).map(i => (i, s"v$i")).toSeq, s"time travel broken: $before")
    // a time-traveled view refuses DML
    graft.sources.StoreLifecycle.acquirePin(
      s"$wh/t", "old", 3600000L, spark.sessionState.newHadoopConf()): Unit
    intercept[Exception](
      spark.sql("UPDATE gdml.t VERSION AS OF 'old' SET v = 'x' WHERE id = 1"): Unit)
    // OCC: a replacement whose scanned group was shadowed by a
    // concurrent maintenance commit between planning and commit must
    // refuse with the retryable conflict, never resurrect old rows
    val staleFile = graft.sources.ContentStore.filesInManifest(s"$wh/t", m1, hconf).head
    intercept[graft.sources.StoreCommitConflictException](
      graft.sources.ParquetEpochs.commitReplacement(s"$wh/t", Nil, Set(staleFile)))
  }

  test("catalog K-V row-level DML: UPDATE payload by key and by value; bucketed refuses") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-kvdml").toString
    useCatalog("gkv", wh)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two clustered epochs of two files each
    val rows = (1 to 8).map(i => (f"k$i%02d", s"v$i"))
    Seq(rows.take(4), rows.drop(4)).foreach { half =>
      half.toDF("result_key", "payload").repartitionByRange(2, col("result_key"))
        .write.format("graft.sources.ContentStore").option("path", s"$wh/state")
        .mode("append").save()
    }
    val hconf = spark.sessionState.newHadoopConf()
    val pre   = graft.sources.ContentStore.snapshotManifests(s"$wh/state")
    // the reference's consumer-state update, from SQL: bump one key
    spark.sql("UPDATE gkv.state SET payload = 'seen' WHERE result_key = 'k02'")
    // a VALUE predicate — impossible on the metadata path — also works
    spark.sql("UPDATE gkv.state SET payload = concat(payload, '+') WHERE payload = 'v7'")
    // MERGE: matched update + unmatched insert
    Seq(("k03", "m3"), ("k99", "m99")).toDF("result_key", "payload")
      .createOrReplaceTempView("kv_src")
    spark.sql(
      """MERGE INTO gkv.state t USING kv_src s ON t.result_key = s.result_key
        |WHEN MATCHED THEN UPDATE SET payload = s.payload
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT result_key, payload FROM gkv.state ORDER BY result_key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val want = Seq("k01" -> "v1", "k02" -> "seen", "k03" -> "m3", "k04" -> "v4",
      "k05" -> "v5", "k06" -> "v6", "k07" -> "v7+", "k08" -> "v8", "k99" -> "m99")
    assert(got == want, s"got $got")
    // the key-confined first UPDATE shadowed only epoch 1
    // (checked on the manifest log: epoch 2's name must still be live
    // somewhere in the history of the SECOND update's input — weaker
    // than the columnar pin check because three DMLs ran; the pre-DML
    // snapshot still reading the original rows is the strong check)
    val before = spark.read.format("graft.sources.ContentStore")
      .option("path", s"$wh/state").option("manifests", pre.mkString(",")).load()
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(before == rows.sorted, s"time travel broken: $before")
    // bucketed stores refuse row-level DML with a pointed error
    rows.take(2).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", s"$wh/bstate")
      .option("buckets", "4").mode("append").save()
    val e = intercept[Exception](
      spark.sql("UPDATE gkv.bstate SET payload = 'x' WHERE result_key = 'k01'"))
    assert(e.getMessage != null)
  }

  test("catalog DML composes: post-evolution UPDATE writes wide; NOT MATCHED BY SOURCE deletes") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-dmlc").toString
    useCatalog("gdm2", wh)
    import spark.implicits._
    graft.sources.ParquetEpochs.append(
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), s"$wh/t"): Unit
    // evolve, then DML: the COW read serves NULL for the evolved column
    // from narrow files and the rewrite writes WIDE survivors
    spark.sql("ALTER TABLE gdm2.t ADD COLUMNS (score DOUBLE)")
    spark.sql("UPDATE gdm2.t SET score = 1.5 WHERE id = 2")
    assert(spark.sql("SELECT score FROM gdm2.t WHERE id = 2").collect().head.getDouble(0) == 1.5)
    assert(spark.sql("SELECT count(*) FROM gdm2.t WHERE score IS NULL")
      .collect().head.getLong(0) == 5L)
    // NOT MATCHED BY SOURCE: target rows outside the source delete —
    // no source-derived predicate can prune groups, so every group
    // rewrites (correctness over pruning when the DML touches all)
    Seq((2L, "m2"), (3L, "m3"), (7L, "m7")).toDF("id", "v").createOrReplaceTempView("dml2_src")
    spark.sql(
      """MERGE INTO gdm2.t t USING dml2_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val got = spark.sql("SELECT id, v, score FROM gdm2.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(got == Seq((2L, "m2", Some(1.5)), (3L, "m3", None), (7L, "m7", None)), s"got $got")
  }

  test("crashed-DML staged files are vacuum-swept orphans; committed rewrites survive") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-orph").toString
    useCatalog("gorp", wh)
    import spark.implicits._
    graft.sources.ParquetEpochs.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), s"$wh/t"): Unit
    spark.sql("UPDATE gorp.t SET v = 'x' WHERE id = 1")
    // a crashed DML's staged file: written into data/ but never
    // referenced by any manifest — invisible to reads, swept by vacuum
    val orphan = new java.io.File(s"$wh/t/data/pq-cow-deadbeef-00000-99.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3)): Unit
    val pre = spark.sql("SELECT id, v FROM gorp.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    graft.sources.StoreLifecycle.vacuum(spark, s"$wh/t", graceMs = 0L,
      spark.sessionState.newHadoopConf()): Unit
    assert(!orphan.exists, "unreferenced staged DML file must be swept")
    val post = spark.sql("SELECT id, v FROM gorp.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(post == pre && post == Seq(1L -> "x", 2L -> "b"), s"got $post")
  }

  test("catalog ALTER TABLE ADD COLUMNS: additive evolution from SQL; other shapes refused") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-alt").toString
    useCatalog("galt", wh)
    import spark.implicits._
    graft.sources.ParquetEpochs.append(
      Seq((1L, "a")).toDF("id", "v"), s"$wh/t"): Unit
    spark.sql("ALTER TABLE galt.t ADD COLUMNS (score DOUBLE, tag STRING)")
    // pre-evolution rows read NULL for evolved columns; wide INSERT works
    spark.sql("INSERT INTO galt.t SELECT 2L AS id, 'b' AS v, 0.5D AS score, 'x' AS tag")
    val got = spark.sql("SELECT id, v, score, tag FROM galt.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(got == Seq((1L, "a", None, None), (2L, "b", Some(0.5), Some("x"))), s"got $got")
    // refusals: non-additive shapes, NOT NULL evolution, K-V stores
    intercept[Exception](spark.sql("ALTER TABLE galt.t DROP COLUMN v"))
    intercept[Exception](spark.sql("ALTER TABLE galt.t RENAME COLUMN v TO w"))
    intercept[Exception](spark.sql("ALTER TABLE galt.t ADD COLUMNS (must STRING NOT NULL)"))
    Seq(("k", "p")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", s"$wh/kv").mode("append").save()
    intercept[Exception](spark.sql("ALTER TABLE galt.kv ADD COLUMNS (extra STRING)"))
  }

  test("catalog columnar scans report real size statistics: small store broadcasts unhinted") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-st").toString
    useCatalog("gst", wh)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.sources.ParquetEpochs.append(
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"), s"$wh/dim"): Unit
    val small = spark.table("gst.dim")
    val sz    = small.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz > 0 && sz < 1000000, s"catalog scan must report real bytes, got $sz")
    val joined = spark.range(100000).toDF("id").join(small, Seq("id"))
    assert(joined.count() == 50)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small catalog store (real size stats) must broadcast without a hint:\n$plan")
  }

  test("catalog CREATE TABLE / CTAS bootstrap both payloads; refusal cases hold") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-create").toString
    useCatalog("gcre", wh)
    // columnar CREATE: empty typed SELECT, INSERT INTO, read-back
    spark.sql("CREATE TABLE gcre.docs (id BIGINT, lang STRING)")
    assert(spark.sql("SELECT * FROM gcre.docs").count() == 0)
    assert(spark.sql("SELECT * FROM gcre.docs").schema.fieldNames.toSeq == Seq("id", "lang"))
    spark.sql("INSERT INTO gcre.docs VALUES (1, 'en'), (2, 'de')")
    assert(spark.sql("SELECT * FROM gcre.docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(1L -> "en", 2L -> "de"))
    // the created store is a REAL store: the Scala API appends into it
    import spark.implicits._
    graft.sources.ParquetEpochs.append(Seq((3L, "fr")).toDF("id", "lang"), s"$wh/docs"): Unit
    assert(spark.sql("SELECT count(*) FROM gcre.docs").head().getLong(0) == 3)
    // schema signature holds from creation: a mismatched append refuses
    intercept[IllegalStateException](
      graft.sources.ParquetEpochs.append(Seq((4, 5)).toDF("a", "b"), s"$wh/docs"))
    // CTAS: create + insert in one statement
    spark.sql("CREATE TABLE gcre.docs2 AS SELECT id, lang FROM gcre.docs WHERE id <= 2")
    assert(spark.sql("SELECT * FROM gcre.docs2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(1L -> "en", 2L -> "de"))
    // K-V CREATE via payload property, with the recorded bucket layout
    spark.sql(
      "CREATE TABLE gcre.kv (result_key STRING, payload STRING) TBLPROPERTIES('payload'='kv')")
    spark.sql("INSERT INTO gcre.kv VALUES ('a', '1'), ('b', '2')")
    assert(spark.sql("SELECT * FROM gcre.kv ORDER BY result_key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq("a" -> "1", "b" -> "2"))
    // refusals: existing store; transforms on columnar; wrong K-V schema
    intercept[Exception](spark.sql("CREATE TABLE gcre.docs (x BIGINT)"))
    intercept[Exception](
      spark.sql("CREATE TABLE gcre.parted (id BIGINT, v STRING) PARTITIONED BY (v)"))
    intercept[Exception](spark.sql(
      "CREATE TABLE gcre.badkv (k STRING, v STRING) TBLPROPERTIES('payload'='kv')"))
    // layout facts bind from creation: datashards property on
    // columnar, bucket(n, result_key) transform on K-V
    spark.sql(
      "CREATE TABLE gcre.sharded (id BIGINT, v STRING) TBLPROPERTIES('datashards'='3')")
    spark.sql("INSERT INTO gcre.sharded VALUES (1, 'a'), (2, 'b')")
    val hconf = spark.sessionState.newHadoopConf()
    assert(graft.sources.ContentStore.recordedDataShards(s"$wh/sharded", hconf) == 3)
    assert(spark.sql("SELECT count(*) FROM gcre.sharded").head().getLong(0) == 2)
    spark.sql(
      """CREATE TABLE gcre.bkv (result_key STRING, payload STRING)
        |PARTITIONED BY (bucket(4, result_key)) TBLPROPERTIES('payload'='kv')""".stripMargin)
    assert(graft.sources.ContentStore.recordedBuckets(s"$wh/bkv", hconf) == 4)
    spark.sql("INSERT INTO gcre.bkv VALUES ('x', '1')")
    assert(graft.sources.ContentStore.snapshotManifests(s"$wh/bkv")
      .flatMap(m => graft.sources.ContentStore.filesInManifest(s"$wh/bkv", m, hconf))
      .forall(f => graft.sources.ContentStore.bucketOfFile(f).isDefined),
      "bucketed K-V CREATE must route INSERTed files by bucket")
    // DROP (r20): a data-bearing store tombstones — unresolvable at
    // once, files held for purge_dropped's grace (CatalogDdlSpec owns
    // the full lifecycle); the empty artifact still deletes physically
    spark.sql("DROP TABLE gcre.docs")
    intercept[Exception](spark.sql("SELECT * FROM gcre.docs").collect())
    assert(new org.apache.hadoop.fs.Path(s"$wh/docs/_dropped")
      .getFileSystem(hconf).exists(new org.apache.hadoop.fs.Path(s"$wh/docs/_dropped")))
    spark.sql("CREATE TABLE gcre.empty (id BIGINT)")
    spark.sql("DROP TABLE gcre.empty")
    assert(!spark.sql("SHOW TABLES IN gcre").collect().map(_.getString(1)).contains("empty"))
  }

  test("INSERT OVERWRITE is ONE atomic replacement; pins and time travel keep the old corpus") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-ovr").toString
    useCatalog("govr", wh)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir   = s"$wh/t"
    val hconf = spark.sessionState.newHadoopConf()
    val v1    = (0L until 32L).map(i => (i, s"v$i"))
    Seq(v1.take(16), v1.drop(16)).foreach { half =>
      graft.sources.ParquetEpochs.append(
        half.toDF("id", "v").repartitionByRange(2, col("id")), dir): Unit
    }
    graft.sources.StoreLifecycle.acquirePin(dir, "preovr", 3600000L, hconf): Unit
    val tsBefore = System.currentTimeMillis()
    Thread.sleep(5)
    (100L until 110L).map(i => (i, s"n$i")).toDF("id", "v")
      .createOrReplaceTempView("ovr_replacement")
    spark.sql("INSERT OVERWRITE govr.t SELECT id, v FROM ovr_replacement")
    // live read is exactly the replacement corpus
    assert(spark.sql("SELECT id FROM govr.t ORDER BY id").collect().map(_.getLong(0)).toSeq
      == (100L until 110L))
    // ONE commit: the effective set is a single replacement manifest
    // (no TRUNCATE+INSERT two-step, so no empty window existed)
    val eff = graft.sources.ContentStore.effectiveManifestNames(dir, hconf)
    assert(eff.size == 1 && eff.head.startsWith("overwrite-"),
      s"expected one overwrite manifest, got $eff")
    // the pinned pre-overwrite snapshot still reads the OLD corpus
    assert(spark.sql("SELECT count(*) FROM govr.t FOR VERSION AS OF 'preovr'")
      .head().getLong(0) == 32L)
    // so does TIMESTAMP AS OF before the overwrite
    val tsLit = new java.sql.Timestamp(tsBefore).toString
    assert(spark.sql(s"SELECT count(*) FROM govr.t FOR TIMESTAMP AS OF '$tsLit'")
      .head().getLong(0) == 32L)
    // overwrite of an overwritten store converges the same way
    spark.sql("INSERT OVERWRITE govr.t SELECT id + 500, v FROM ovr_replacement")
    assert(spark.sql("SELECT min(id), max(id), count(*) FROM govr.t")
      .head().toSeq == Seq(600L, 609L, 10L))
    // the K-V payload carries the same verb: one replacement commit
    // shadowing every live manifest, pins keeping the old corpus
    import spark.implicits._
    val kvDir = s"$wh/kv"
    Seq(("a", "1"), ("b", "2")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", kvDir).mode("append").save()
    Seq(("c", "3")).toDF("result_key", "payload")
      .write.format("graft.sources.ContentStore").option("path", kvDir).mode("append").save()
    graft.sources.StoreLifecycle.acquirePin(kvDir, "kvpre", 3600000L, hconf): Unit
    spark.sql("INSERT OVERWRITE govr.kv VALUES ('z', '9')")
    assert(spark.sql("SELECT result_key, payload FROM govr.kv").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq("z" -> "9"))
    val kvEff = graft.sources.ContentStore.effectiveManifestNames(kvDir, hconf)
    assert(kvEff.size == 1, s"expected one replacement manifest, got $kvEff")
    assert(spark.sql("SELECT count(*) FROM govr.kv FOR VERSION AS OF 'kvpre'")
      .head().getLong(0) == 3L)
  }

  test("rollback_to_epoch restores the as-of view metadata-only; history and twins hold") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-rbk").toString
    useCatalog("grbk", wh)
    import spark.implicits._
    val dir   = s"$wh/t"
    val hconf = spark.sessionState.newHadoopConf()
    // v1: two epochs
    graft.sources.ParquetEpochs.append(
      (0L until 16L).map(i => (i, s"v$i")).toDF("id", "v"), dir): Unit
    graft.sources.ParquetEpochs.append(
      (16L until 32L).map(i => (i, s"v$i")).toDF("id", "v"), dir): Unit
    val tsV1 = System.currentTimeMillis()
    Thread.sleep(5)
    // refusal: nothing committed at or before a pre-creation instant
    intercept[IllegalArgumentException](
      graft.sources.StoreLifecycle.rollbackToEpoch(dir, tsV1 - 3600000L))
    // converged: rolling back to NOW is a no-op
    assert(graft.sources.StoreLifecycle.rollbackToEpoch(dir, tsV1).isEmpty)
    // the bad backfill: overwrite + a stray append on top
    (100L until 104L).map(i => (i, "bad")).toDF("id", "v")
      .createOrReplaceTempView("rbk_bad")
    spark.sql("INSERT OVERWRITE grbk.t SELECT id, v FROM rbk_bad")
    graft.sources.ParquetEpochs.append(Seq((999L, "stray")).toDF("id", "v"), dir): Unit
    val tsBad = System.currentTimeMillis()
    Thread.sleep(5)
    assert(spark.sql("SELECT count(*) FROM grbk.t").head().getLong(0) == 5)
    // RESTORE from SQL: live view equals v1 exactly again
    val restored = spark.sql(
      s"CALL grbk.system.rollback_to_epoch(table => 't', as_of_ms => ${tsV1}L)")
      .head().getString(0)
    assert(restored != null && restored.startsWith("restore-"))
    assert(spark.sql("SELECT id FROM grbk.t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == (0L until 32L))
    // metadata-only: the restore staged no new data files — every file
    // the restore manifest lists already existed under the v1 epochs
    val v1Files = graft.sources.ContentStore.snapshotManifestsAsOf(dir, tsV1)
      .flatMap(m => graft.sources.ContentStore.filesInManifest(dir, m, hconf)).toSet
    val restoredFiles =
      graft.sources.ContentStore.filesInManifest(dir, restored, hconf).toSet
    assert(restoredFiles == v1Files, "restore must re-list the as-of files by name")
    // the _stats bounds were harvested, not dropped: skipping still
    // plans a strict subset for a tight key slice
    assert(graft.sources.ParquetEpochs.columnBounds(dir, Seq(restored), "id", hconf).nonEmpty,
      "restored files must keep their recorded bounds")
    // history preserved: time travel to the bad interval still shows it
    assert(graft.sources.ParquetEpochs.read(spark, dir,
      graft.sources.ContentStore.snapshotManifestsAsOf(dir, tsBad)).count() == 5)
    // constraints gate the restore like any commit: a constraint the
    // OLD corpus violates refuses rolling back to it
    val tsRestored = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT OVERWRITE grbk.t SELECT id, v FROM rbk_bad WHERE id = 100")
    graft.sources.Constraints.add(spark, dir, "only_bad", "v = 'bad'")
    intercept[graft.sources.StoreConstraintViolationException](
      graft.sources.StoreLifecycle.rollbackToEpoch(dir, tsRestored))
    assert(spark.sql("SELECT count(*) FROM grbk.t").head().getLong(0) == 1,
      "a constraint-refused rollback must leave the live view untouched")
    graft.sources.Constraints.drop(dir, "only_bad")
    // K-V twin: same verb, same manifest layer, bucket layout kept
    val kv = s"$wh/kv"
    Seq(("a", "1"), ("b", "2")).toDF("result_key", "payload")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("result_key"))
      .write.format("graft.sources.ContentStore").option("path", kv)
      .option("buckets", "2").mode("append").save()
    val tsKv = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT OVERWRITE grbk.kv VALUES ('z', '9')")
    assert(graft.sources.StoreLifecycle.rollbackToEpoch(kv, tsKv).isDefined)
    assert(spark.sql("SELECT result_key, payload FROM grbk.kv ORDER BY result_key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq("a" -> "1", "b" -> "2"))
    assert(graft.sources.ContentStore.recordedBuckets(kv, hconf) == 2)
  }

  test("a replace-all commit refuses when the effective set GREW since planning (ADVICE r19)") {
    // the overwrite OCC's second direction: the shadowed-source check
    // catches a planned source that VANISHED, this catches a plain
    // concurrent append that the plan never saw — surviving it would
    // read back "replacement + concurrent rows" instead of exactly the
    // replacement corpus. Driven at the commit layer with the
    // interleaving pinned: plan against the e1 snapshot, land e2, then
    // commit the replacement.
    import spark.implicits._
    val dir   = s"${java.nio.file.Files.createTempDirectory("graft-ovr-occ")}/t"
    val hconf = spark.sessionState.newHadoopConf()
    graft.sources.ParquetEpochs.append(
      (0L until 8L).map(i => (i, s"v$i")).toDF("id", "v"), dir): Unit
    // the replacement PLAN: replaced = every live file right now
    val planned = graft.sources.ContentStore.effectiveManifestNames(dir, hconf)
      .flatMap(m => graft.sources.ContentStore.filesInManifest(dir, m, hconf)).toSet
    // a concurrent append lands between the plan and the commit
    graft.sources.ParquetEpochs.append(
      Seq((100L, "late")).toDF("id", "v"), dir): Unit
    val e = intercept[graft.sources.StoreCommitConflictException](
      graft.sources.ParquetEpochs.commitReplacement(
        dir, Seq.empty, planned, namePrefix = "overwrite-", refuseGrowth = true))
    assert(e.getMessage.contains("committed since planning"))
    // nothing replaced: both epochs still live
    assert(graft.sources.ParquetEpochs.read(
      spark, dir, graft.sources.ContentStore.snapshotManifests(dir)).count() == 9L)
    // and with a fresh plan the replace-all converges
    val replanned = graft.sources.ContentStore.effectiveManifestNames(dir, hconf)
      .flatMap(m => graft.sources.ContentStore.filesInManifest(dir, m, hconf)).toSet
    graft.sources.ParquetEpochs.commitReplacement(
      dir, Seq.empty, replanned, namePrefix = "overwrite-", refuseGrowth = true): Unit
    assert(graft.sources.ParquetEpochs.read(
      spark, dir, graft.sources.ContentStore.snapshotManifests(dir)).count() == 0L)
  }

  test("SQL maintenance procedures: pin + compact + vacuum + expire driven purely from SQL") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-proc").toString
    useCatalog("gproc", wh)
    import spark.implicits._
    val dir   = s"$wh/t"
    val hconf = spark.sessionState.newHadoopConf()
    (0 until 3).foreach { e =>
      graft.sources.ParquetEpochs.append(
        (e * 10 until e * 10 + 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir): Unit
    }
    assert(graft.sources.ContentStore.effectiveManifestNames(dir, hconf).size == 3)
    // pin the pre-compaction snapshot from SQL; the id IS the version
    val lease = spark.sql(
      "CALL gproc.system.acquire_pin(table => 't', id => 'train1', ttl_ms => 3600000)")
      .head()
    assert(lease.getString(0) == "train1" && lease.getInt(2) == 3)
    // introspection from SQL: pins lists the lease, manifests the log
    assert(spark.sql("CALL gproc.system.pins(table => 't')").collect()
      .map(r => (r.getString(0), r.getInt(2))).toSeq == Seq("train1" -> 3))
    // compact from SQL: three epochs fold into one replacement manifest
    val compacted = spark.sql("CALL gproc.system.compact(table => 't')").head().getString(0)
    assert(compacted != null)
    assert(graft.sources.ContentStore.effectiveManifestNames(dir, hconf) == Seq(compacted))
    assert(spark.sql("SELECT count(*) FROM gproc.t").head().getLong(0) == 30)
    // manifests: the fold's replacement is live, its three sources shadowed
    val mrows = spark.sql("CALL gproc.system.manifests(table => 't')").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(mrows.count(_._2 == "live") == 1 && mrows.count(_._2 == "shadowed") == 3,
      s"expected 1 live + 3 shadowed, got $mrows")
    assert(mrows.find(_._2 == "live").map(_._1).contains(compacted))
    // constraints introspection rides the same surface (kind column:
    // enforced CHECKs and B97 key facts share one listing)
    graft.sources.Constraints.add(spark, dir, "id_pos", "id >= 0")
    assert(spark.sql("CALL gproc.system.constraints(table => 't')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("id_pos", "check", "id >= 0")))
    // vacuum from SQL with the pin held: the pinned sources survive...
    spark.sql("CALL gproc.system.vacuum(table => 't', grace_ms => 0)")
    assert(spark.sql("SELECT count(*) FROM gproc.t FOR VERSION AS OF 'train1'")
      .head().getLong(0) == 30, "pinned pre-compaction snapshot must survive vacuum")
    // ...and after release they sweep
    spark.sql("CALL gproc.system.release_pin(table => 't', id => 'train1')")
    spark.sql("CALL gproc.system.vacuum(table => 't', grace_ms => 0)")
    intercept[Exception](
      spark.sql("SELECT count(*) FROM gproc.t FOR VERSION AS OF 'train1'").collect())
    // expire everything from SQL: metadata-only retire, live read
    // empty — but ONLY behind the explicit -1 sentinel: an omitted
    // cutoff refuses instead of silently truncating (ADVICE r19)
    val expireErr = intercept[Exception](
      spark.sql("CALL gproc.system.expire_epochs(table => 't')").collect())
    assert(expireErr.getMessage.contains("cutoff_ms is required"),
      s"omitted cutoff must refuse, got: ${expireErr.getMessage}")
    assert(spark.sql("SELECT count(*) FROM gproc.t").head().getLong(0) == 30,
      "the refused expire must not have retired anything")
    spark.sql("CALL gproc.system.expire_epochs(table => 't', cutoff_ms => -1)")
    assert(spark.sql("SELECT count(*) FROM gproc.t").head().getLong(0) == 0)
    // discovery: SHOW PROCEDURES lists the namespace, DESCRIBE works
    assert(spark.sql("SHOW PROCEDURES IN gproc.system").collect()
      .map(_.getString(3)).toSet ==
      Set("compact", "vacuum", "expire_epochs", "acquire_pin", "renew_pin",
        "release_pin", "manifests", "pins", "constraints", "purge_dropped",
        "rollback_to_epoch"))
    assert(spark.sql("DESCRIBE PROCEDURE gproc.system.vacuum").collect()
      .map(_.getString(0)).mkString("\n").contains("retention grace"))
    // refusals: unknown procedure, unknown table, wrong namespace
    intercept[Exception](spark.sql("CALL gproc.system.nope(table => 't')"))
    intercept[Exception](
      spark.sql("CALL gproc.system.compact(table => 'absent')").collect())
    intercept[Exception](spark.sql("CALL gproc.other.compact(table => 't')"))
  }

  test("SQL-driven z-order re-cluster prunes the two-dim box at planning time") {
    val wh = java.nio.file.Files.createTempDirectory("graft-catspec-zsql").toString
    useCatalog("gz", wh)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4096 rows over two independent dims, UNCLUSTERED (one shuffled
    // epoch) — then the SQL verb rebuilds the Morton layout
    val rows = (0L until 4096L).map(i => (i, (i * 2654435761L) % 4096L))
    graft.sources.ParquetEpochs.append(
      rows.toDF("a", "b").repartition(16), s"$wh/t"): Unit
    spark.sql("CALL gz.system.compact(table => 't', zorder_by => 'a,b', parts => 16)")
    def partitionsOf(sql: String): Int =
      spark.sql(sql).queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.getOrElse(fail("no BatchScanExec"))
    val full = partitionsOf("SELECT a FROM gz.t")
    val box  = partitionsOf(
      "SELECT a FROM gz.t WHERE a BETWEEN 0 AND 255 AND b BETWEEN 0 AND 255")
    assert(full == 16, s"expected the re-clustered 16-file layout, got $full")
    assert(box < full / 2,
      s"two-dim box must prune well below the full scan: $box vs $full")
    // values stay exact (filters are residual; skipping is I/O-only)
    val got = spark.sql(
      "SELECT a, b FROM gz.t WHERE a BETWEEN 0 AND 255 AND b BETWEEN 0 AND 255 ORDER BY a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == rows.filter(r => r._1 <= 255 && r._2 <= 255).sortBy(_._1))
  }

  test("gate hygiene: every query key is oracle-gated or on the explicit rows-only list") {
    // the driver treats a queries key with no oracleSql entry as a
    // weaker rows-only check — which is correct ONLY for the genuinely
    // approximate operators below. A typo'd oracle key (or a new gate
    // landing without its oracle) must fail HERE, not silently ship as
    // a rows-only pass.
    val rowsOnlyByDesign = Set(
      "q_approx_distinct_users",    // HLL sketch
      "q_rolling_actives_sketch",   // HLL sketch
      "q_value_percentiles_approx", // approx-percentile sketch
      "dedup_source_sim",           // minhash-union sketch
      "dedup_embedding_lsh",        // hyperplane-LSH candidates
      "dedup_paraphrase_lsh",       // the same LSH candidates feeding the paraphrase pipeline
      "dedup_paraphrase_ivf",       // k-means-cell candidates feeding the paraphrase pipeline
      "dedup_bloom_admission",      // bloom sketch layout
      "dedup_semantic",             // k-means cells aren't SQL-expressible
      "dedup_semantic_miss",        // per-cell split of the exact pairs — same k-means cells
      "knn_lsh",                    // LSH ANN
      "knn_ivf",                    // IVF ANN
      "knn_ivf_persisted",          // the same IVF search over the pinned store asset
      "knn_ivf_incremental",        // the same search over base + frozen-centroid add epochs
      "knn_ivf_serve",              // one request's nprobe-cell ranged read of the same index
      "knn_ivfpq"                   // IVF-PQ ANN
    )
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    val orphanOracles = o -- q
    assert(orphanOracles.isEmpty, s"oracleSql keys with no query: $orphanOracles")
    val ungated = q -- o -- rowsOnlyByDesign
    assert(ungated.isEmpty,
      s"queries with neither an oracle nor a rows-only justification: $ungated")
    val staleRowsOnly = rowsOnlyByDesign -- q
    assert(staleRowsOnly.isEmpty, s"rows-only list names unknown queries: $staleRowsOnly")
    val shadowed = rowsOnlyByDesign & o
    assert(shadowed.isEmpty, s"rows-only-listed queries that DO have oracles now: $shadowed")
  }
}
