package graft

import org.apache.hadoop.fs.Path

/** B94/B95 (r20): DROP TABLE through the lifecycle and RENAME through
  * the catalog alias map — the two DDL verbs VERDICT r19 ranked as the
  * highest-frequency missing engine surface. DROP tombstones (name
  * unresolvable immediately, files reclaimed by purge_dropped after a
  * grace, live pins refuse); RENAME re-points the name while the
  * physical path never moves (pins/time-travel untouched).
  */
class CatalogDdlSpec extends SparkSpecBase {

  private def freshCatalog(tag: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-ddl-$tag").toString
    useCatalog(tag, wh)
    (tag, wh)
  }

  test("DROP TABLE: create -> insert -> drop -> recreate round-trip; tombstone + purge") {
    val (cat, wh) = freshCatalog("gdrop")
    val hconf     = spark.sessionState.newHadoopConf()
    val fsys      = new Path(wh).getFileSystem(hconf)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 2)
    spark.sql(s"DROP TABLE $cat.t")
    // unresolvable immediately — reads, writes and existence all refuse
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.t").collect())
    intercept[Exception](spark.sql(s"INSERT INTO $cat.t VALUES (9, 'z')"))
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().isEmpty)
    // …but the data survives on disk behind the tombstone (the undo
    // window: remove _dropped to recover until the purge)
    assert(fsys.exists(new Path(s"$wh/t/_dropped")))
    assert(fsys.exists(new Path(s"$wh/t/data")))
    // recreate under the same name works NOW (suffixed physical dir +
    // alias pointer; no waiting out the grace)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (10, 'x')")
    assert(spark.sql(s"SELECT id FROM $cat.t").collect().map(_.getLong(0)).toSeq == Seq(10L))
    assert(fsys.exists(new Path(s"$wh/_alias/t")))
    // purge: young tombstones are kept (grace not reached)…
    val kept = spark.sql(s"CALL $cat.system.purge_dropped(grace_ms => 3600000)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(kept.contains("t" -> "kept_young"), s"got $kept")
    assert(fsys.exists(new Path(s"$wh/t/_dropped")))
    // …grace 0 reclaims, and the live (recreated) store is untouched
    val purged = spark.sql(s"CALL $cat.system.purge_dropped(grace_ms => 0)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(purged.contains("t" -> "purged"), s"got $purged")
    assert(!fsys.exists(new Path(s"$wh/t")))
    assert(spark.sql(s"SELECT id FROM $cat.t").collect().map(_.getLong(0)).toSeq == Seq(10L))
    // dropping the recreated (aliased) table removes the pointer too
    spark.sql(s"DROP TABLE $cat.t")
    assert(!fsys.exists(new Path(s"$wh/_alias/t")))
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.t").collect())
  }

  test("DROP TABLE refuses while a live pin lease reads the store") {
    val (cat, wh) = freshCatalog("gdropin")
    val hconf     = spark.sessionState.newHadoopConf()
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1)")
    spark.sql(s"CALL $cat.system.acquire_pin(table => 't', id => 'reader', ttl_ms => 3600000)")
    val e = intercept[Exception](spark.sql(s"DROP TABLE $cat.t"))
    assert(e.getMessage.contains("live pin lease"), e.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 1)
    spark.sql(s"CALL $cat.system.release_pin(table => 't', id => 'reader')")
    spark.sql(s"DROP TABLE $cat.t")
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.t").collect())
    assert(new Path(wh).getFileSystem(hconf).exists(new Path(s"$wh/t/_dropped")),
      "the released-pin drop must land the tombstone")
  }

  test("DROP of a pure CTAS-abort artifact deletes physically; staged data tombstones instead") {
    val (cat, wh) = freshCatalog("gdropempty")
    val hconf     = spark.sessionState.newHadoopConf()
    val fsys      = new Path(wh).getFileSystem(hconf)
    // empty created store, nothing staged -> physical delete, no tombstone
    spark.sql(s"CREATE TABLE $cat.empty (id BIGINT)")
    spark.sql(s"DROP TABLE $cat.empty")
    assert(!fsys.exists(new Path(s"$wh/empty")))
    // zero manifests but data/ holds a staged file (an in-flight first
    // write): the ADVICE-r19 narrowing — tombstone, never delete, so
    // the writer's staged bytes survive until the purge grace
    spark.sql(s"CREATE TABLE $cat.staged (id BIGINT)")
    fsys.mkdirs(new Path(s"$wh/staged/data"))
    val out = fsys.create(new Path(s"$wh/staged/data/inflight.parquet"), false)
    out.write(Array[Byte](1, 2, 3)); out.close()
    spark.sql(s"DROP TABLE $cat.staged")
    assert(fsys.exists(new Path(s"$wh/staged/_dropped")),
      "a store with staged data must tombstone, not delete")
    assert(fsys.exists(new Path(s"$wh/staged/data/inflight.parquet")))
  }

  test("RENAME re-points the name; physical path, pins and time travel are untouched") {
    val (cat, wh) = freshCatalog("gren")
    val hconf     = spark.sessionState.newHadoopConf()
    val fsys      = new Path(wh).getFileSystem(hconf)
    import spark.implicits._
    val dir = s"$wh/t1"
    graft.sources.ParquetEpochs.append(
      (0L until 8L).map(i => (i, s"v$i")).toDF("id", "v"), dir): Unit
    graft.sources.StoreLifecycle.acquirePin(dir, "train", 3600000L, hconf): Unit
    spark.sql(s"ALTER TABLE $cat.t1 RENAME TO t2")
    // the new name reads everything; the old name is gone
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2").head().getLong(0) == 8)
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.t1").collect())
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).toSeq == Seq("t2"))
    // physical path never moved — the pre-rename pin still resolves
    // through the NEW name (the lease is path-keyed)
    assert(fsys.exists(new Path(s"$wh/t1/_renamed_away")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2 FOR VERSION AS OF 'train'")
      .head().getLong(0) == 8)
    // writes through the new name land in the same store
    spark.sql(s"INSERT INTO $cat.t2 VALUES (100, 'new')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2").head().getLong(0) == 9)
    // renaming an aliased name re-points (old alias deleted, one hop only)
    spark.sql(s"ALTER TABLE $cat.t2 RENAME TO t3")
    assert(!fsys.exists(new Path(s"$wh/_alias/t2")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t3").head().getLong(0) == 9)
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.t2").collect())
    // maintenance procedures resolve the alias too
    assert(spark.sql(s"CALL $cat.system.manifests(table => 't3')").collect().nonEmpty)
  }

  test("RENAME refusals: existing target, onto itself, unknown source; DROP cleans aliases") {
    val (cat, wh) = freshCatalog("grenref")
    import spark.implicits._
    graft.sources.ParquetEpochs.append(Seq((1L, "a")).toDF("id", "v"), s"$wh/a"): Unit
    graft.sources.ParquetEpochs.append(Seq((2L, "b")).toDF("id", "v"), s"$wh/b"): Unit
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.a RENAME TO b"))
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.a RENAME TO a"))
    intercept[Exception](spark.sql(s"ALTER TABLE $cat.absent RENAME TO c"))
    // DROP of a renamed table: tombstone lands on the physical dir,
    // the alias pointer dies with it
    spark.sql(s"ALTER TABLE $cat.a RENAME TO c")
    spark.sql(s"DROP TABLE $cat.c")
    val hconf = spark.sessionState.newHadoopConf()
    val fsys  = new Path(wh).getFileSystem(hconf)
    assert(fsys.exists(new Path(s"$wh/a/_dropped")))
    assert(!fsys.exists(new Path(s"$wh/_alias/c")))
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.c").collect())
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.a").collect())
  }

  test("a crashed rename (alias written, old name not yet retired) converges on re-run") {
    val (cat, wh) = freshCatalog("grencrash")
    val hconf     = spark.sessionState.newHadoopConf()
    val fsys      = new Path(wh).getFileSystem(hconf)
    import spark.implicits._
    graft.sources.ParquetEpochs.append(Seq((1L, "a")).toDF("id", "v"), s"$wh/src"): Unit
    // simulate the crash window: the alias points at src, but src has
    // no _renamed_away marker yet — both names resolve
    fsys.mkdirs(new Path(s"$wh/_alias"))
    val out = fsys.create(new Path(s"$wh/_alias/dst"), false)
    out.write("src".getBytes("UTF-8")); out.close()
    assert(spark.sql(s"SELECT count(*) FROM $cat.dst").head().getLong(0) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.src").head().getLong(0) == 1)
    // re-running the SAME rename converges instead of refusing on the
    // already-pointing target alias
    spark.sql(s"ALTER TABLE $cat.src RENAME TO dst")
    assert(fsys.exists(new Path(s"$wh/src/_renamed_away")))
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.src").collect())
    assert(spark.sql(s"SELECT count(*) FROM $cat.dst").head().getLong(0) == 1)
  }

  test("CREATE reclaims a stale alias whose target was purged") {
    val (cat, wh) = freshCatalog("gstale")
    val hconf     = spark.sessionState.newHadoopConf()
    val fsys      = new Path(wh).getFileSystem(hconf)
    // a stale pointer at a directory that no longer exists
    fsys.mkdirs(new Path(s"$wh/_alias"))
    val out = fsys.create(new Path(s"$wh/_alias/t"), false)
    out.write("t__r0".getBytes("UTF-8")); out.close()
    intercept[Exception](spark.sql(s"SELECT * FROM $cat.t").collect())
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (7)")
    assert(spark.sql(s"SELECT id FROM $cat.t").head().getLong(0) == 7)
    // purge_dropped also sweeps stale aliases it finds
    val sweep = spark.sql(s"CALL $cat.system.purge_dropped(grace_ms => 0)")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(!sweep.exists(_._2 == "purged"), s"live store must not purge: $sweep")
  }
}
