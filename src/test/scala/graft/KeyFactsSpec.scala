package graft

import graft.sources.{KeyFacts, ParquetEpochs}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate

/** B97: informational PK/UNIQUE/FK facts — recorded NOT ENFORCED from
  * SQL, reported to the engine UNVALIDATED, and SPENT by the optimizer
  * only under RELY (KeyDistinct deletes the redundant distinct and the
  * exchange the planner would wrap around it).
  */
class KeyFactsSpec extends SparkSpecBase {

  private def freshCatalog(tag: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-keys-$tag").toString
    useCatalog(tag, wh)
    (tag, wh)
  }

  test("SQL ADD CONSTRAINT PRIMARY KEY/UNIQUE/FK record NOT ENFORCED facts; DROP removes") {
    val (cat, wh) = freshCatalog("gkey")
    import spark.implicits._
    val dir = s"$wh/dim"
    ParquetEpochs.append(
      (0L until 20L).map(i => (i, s"l$i", i % 5)).toDF("doc_id", "lang", "src"), dir): Unit
    spark.sql(
      s"ALTER TABLE $cat.dim ADD CONSTRAINT dim_pk PRIMARY KEY (doc_id) NOT ENFORCED RELY")
    spark.sql(
      s"ALTER TABLE $cat.dim ADD CONSTRAINT dim_fk FOREIGN KEY (src) " +
        s"REFERENCES $cat.sources (src_id) NOT ENFORCED")
    val hconf = spark.sessionState.newHadoopConf()
    val facts = KeyFacts.list(dir, hconf)
    assert(facts.collect { case p: KeyFacts.PrimaryKeyFact => (p.columns, p.rely) } ==
      Seq((Seq("doc_id"), true)))
    assert(facts.collect { case f: KeyFacts.ForeignKeyFact =>
      (f.columns, f.refTable, f.refColumns) }.head ==
      (Seq("src"), s"$cat.sources", Seq("src_id")))
    // reported to the engine: NOT ENFORCED + UNVALIDATED, RELY carried
    val reported = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "dim"))
      .constraints()
    val pk = reported.collectFirst {
      case p: org.apache.spark.sql.connector.catalog.constraints.PrimaryKey => p }.get
    assert(!pk.enforced() && pk.rely())
    assert(pk.validationStatus() ==
      org.apache.spark.sql.connector.catalog.constraints.Constraint.ValidationStatus.UNVALIDATED)
    // introspection procedure shows kinds and rely
    val rows = spark.sql(s"CALL $cat.system.constraints(table => 'dim')").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(3))).toSeq
    assert(rows.contains(("dim_pk", "primary", true)) &&
      rows.contains(("dim_fk", "foreign", false)), s"got $rows")
    // DROP CONSTRAINT removes the fact
    spark.sql(s"ALTER TABLE $cat.dim DROP CONSTRAINT dim_fk")
    assert(KeyFacts.list(dir, hconf).collect { case f: KeyFacts.ForeignKeyFact => f }.isEmpty)
  }

  test("the add's honesty scan refuses keys the live data visibly violates") {
    val (cat, wh) = freshCatalog("gkeyref")
    import spark.implicits._
    // duplicates refuse a PK and a UNIQUE
    val dups = s"$wh/dups"
    ParquetEpochs.append(Seq((1L, "a"), (1L, "b")).toDF("id", "v"), dups): Unit
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.dups ADD CONSTRAINT pk PRIMARY KEY (id) NOT ENFORCED RELY"))
    intercept[Exception](KeyFacts.addKey(spark, dups, "u", Seq("id"), unique = true, rely = true))
    assert(KeyFacts.list(dups, spark.sessionState.newHadoopConf()).isEmpty)
    // a NULL in a PK column refuses (PK is NOT NULL by definition);
    // UNIQUE tolerates NULLs (SQL's multiple-NULLs rule)
    val nulls = s"$wh/nulls"
    ParquetEpochs.append(
      Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "b"),
        (null.asInstanceOf[java.lang.Long], "c"))
        .toDF("id", "v"), nulls): Unit
    intercept[Exception](
      KeyFacts.addKey(spark, nulls, "pk", Seq("id"), unique = false, rely = true))
    KeyFacts.addKey(spark, nulls, "u", Seq("id"), unique = true, rely = true)
    // unknown column refuses; ENFORCED kinds refuse at the catalog
    intercept[Exception](
      KeyFacts.addKey(spark, nulls, "bad", Seq("nope"), unique = false, rely = false))
    intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.nulls ADD CONSTRAINT epk PRIMARY KEY (id) ENFORCED"))
  }

  test("DISTINCT over a RELY key deletes the aggregate; the dim joins with no extra exchange") {
    val (cat, wh) = freshCatalog("gkeyopt")
    import spark.implicits._
    val dir = s"$wh/dim"
    ParquetEpochs.append(
      (0L until 50L).map(i => (i, s"l${i % 7}")).toDF("doc_id", "lang"), dir): Unit
    spark.sql(
      s"ALTER TABLE $cat.dim ADD CONSTRAINT dim_pk PRIMARY KEY (doc_id) NOT ENFORCED RELY")
    val distinct = spark.sql(s"SELECT DISTINCT doc_id, lang FROM $cat.dim")
    assert(distinct.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.isEmpty,
      s"RELY PK distinct must fold away:\n${distinct.queryExecution.optimizedPlan}")
    assert(distinct.count() == 50)
    // the defensive-distinct dim join: no aggregate, no aggregate
    // exchange — the dim side goes straight to its broadcast
    (0L until 500L).map(i => (i % 50, i)).toDF("doc_id", "n")
      .createOrReplaceTempView("fact_keyopt")
    val joined = spark.sql(
      s"""SELECT f.doc_id, d.lang, f.n FROM fact_keyopt f
         |JOIN (SELECT DISTINCT doc_id, lang FROM $cat.dim) d ON f.doc_id = d.doc_id""".stripMargin)
    joined.collect(): Unit
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("HashAggregate"),
      s"PK-joined dim must skip its distinct aggregate + exchange:\n$physical")
    assert(joined.count() == 500)
    // soundness gates: NORELY keys and the kill switch both keep the
    // aggregate (correct-but-slower, never trust-without-opt-in)
    val dir2 = s"$wh/dim2"
    ParquetEpochs.append(
      (0L until 10L).map(i => (i, s"x$i")).toDF("doc_id", "lang"), dir2): Unit
    spark.sql(
      s"ALTER TABLE $cat.dim2 ADD CONSTRAINT pk2 PRIMARY KEY (doc_id) NOT ENFORCED NORELY")
    val norely = spark.sql(s"SELECT DISTINCT doc_id, lang FROM $cat.dim2")
    assert(norely.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty,
      "a NORELY key must not feed the optimizer")
    GraftSession.withConfs(spark, "spark.graft.keyDistinct.enabled" -> "false") {
      val off = spark.sql(s"SELECT DISTINCT doc_id, lang FROM $cat.dim")
      assert(off.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty,
        "kill switch must restore the aggregate")
    }
    // aliasing the key column breaks attribute identity — no rewrite
    val aliased = spark.sql(
      s"SELECT DISTINCT doc_id + 0 AS d, lang FROM $cat.dim")
    assert(aliased.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.nonEmpty,
      "a computed key column must keep its distinct")
  }
}
