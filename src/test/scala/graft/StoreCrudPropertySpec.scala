package graft

import java.nio.file.Files

import graft.sources.{ContentStore, ParquetEpochs, StoreLifecycle}
import scala.util.Random

/** Model-based property check for the store's row-level ops: a seeded
  * random SEQUENCE of append / upsert / delete / OPTIMIZE / vacuum
  * steps runs against both the real store and a trivial in-memory
  * model (`Map[key, payload]` with multiset appends), and the store's
  * read must equal the model after EVERY step — the composition
  * coverage the per-op specs can't give (a delete over an upserted
  * key inside a compacted epoch, an upsert whose purge spans a prior
  * delete's carried files, maintenance between any two of them).
  *
  * Kept deliberately small (ops are real manifest commits at ~100 ms
  * each): 3 seeded cases × 12 steps each. Determinism comes from the
  * fixed seed — a failure reproduces exactly, the KernelPropertySpec
  * rule.
  */
class StoreCrudPropertySpec extends SparkSpecBase {

  private def hconf = spark.sessionState.newHadoopConf()

  // default 3 K-V / 2 columnar seeded sequences (manifest commits are
  // ~100 ms each — suite budget); SPARK_GRAFT_CRUD_SEEDS widens the
  // hammer for local bug hunts without touching committed budgets
  private val kvSeeds  = sys.env.get("SPARK_GRAFT_CRUD_SEEDS").map(_.toInt).getOrElse(3)
  private val colSeeds = sys.env.get("SPARK_GRAFT_CRUD_SEEDS").map(_.toInt).getOrElse(2)

  private def readAll(dir: String): Map[String, Seq[String]] =
    spark.read.format("graft.sources.ContentStore").option("path", dir).load()
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted.toSeq }

  test("K-V store: random append/upsert/delete/optimize/vacuum sequences match the model") {
    import spark.implicits._
    val keySpace = (0 until 12).map(i => f"k$i%02d")
    (1 to kvSeeds).foreach { seed =>
      val rng   = new Random(seed)
      val dir   = Files.createTempDirectory(s"graft-crudprop-$seed").toString
      // model: multiset per key (appends stack; upsert collapses to
      // one version; delete removes all versions)
      var model = Map.empty[String, Seq[String]].withDefaultValue(Seq.empty)
      var step  = 0
      def check(op: String): Unit = {
        if (sys.env.contains("SPARK_GRAFT_CRUD_TRACE")) println(s"[crud-trace] seed=$seed step=$step $op")
        val got  = readAll(dir)
        val want = model.filter(_._2.nonEmpty)
        if (got != want && sys.env.contains("SPARK_GRAFT_CRUD_TRACE")) {
          val c = spark.sessionState.newHadoopConf()
          ContentStore.effectiveManifestNames(dir, c).foreach { m =>
            println(s"[crud-dump] $m files=${ContentStore.filesInManifest(dir, m, c)} " +
              s"stats=${ContentStore.statsForManifest(dir, m, c).map { case (f, (mn, mx)) => s"$f:[$mn,$mx]" }}")
          }
        }
        assert(got == want, s"seed=$seed step=$step after $op: got $got want $want")
      }
      (0 until 12).foreach { _ =>
        step += 1
        rng.nextInt(10) match {
          case n if n < 3 => // append a random batch (duplicates allowed)
            val batch = (0 until 1 + rng.nextInt(3))
              .map(_ => (keySpace(rng.nextInt(keySpace.size)), s"v$step-${rng.nextInt(100)}"))
            batch.toDF("result_key", "payload").coalesce(1)
              .write.format("graft.sources.ContentStore").option("path", dir)
              .mode("append").save()
            batch.foreach { case (k, v) => model = model.updated(k, (model(k) :+ v).sorted) }
            check(s"append $batch")
          case n if n < 6 => // upsert a random version set (distinct keys)
            val ks = rng.shuffle(keySpace).take(1 + rng.nextInt(3))
            val versions = ks.map(k => (k, s"u$step"))
            StoreLifecycle.upsert(spark, dir,
              versions.toDF("result_key", "payload").coalesce(1), s"e$step")
            versions.foreach { case (k, v) => model = model.updated(k, Seq(v)) }
            check(s"upsert $versions")
          case 6 => // delete a random key subset — randomly via the Seq
            // or the DataFrame-valued form (same contract; the frame
            // form randomly forced onto the shuffle path)
            val ks = rng.shuffle(keySpace).take(1 + rng.nextInt(4))
            if (rng.nextBoolean()) StoreLifecycle.deleteKeys(spark, dir, ks)
            else StoreLifecycle.deleteKeys(spark, dir, ks.toDF("k"), Set.empty,
              if (rng.nextBoolean()) Some(false) else None)
            ks.foreach(k => model = model.updated(k, Seq.empty))
            check(s"delete $ks")
          case 7 => // SQL row-level UPDATE (B89 K-V copy-on-write):
            // marks EVERY stacked version of the touched keys
            val ks = rng.shuffle(keySpace).take(1 + rng.nextInt(3))
            val parent = new java.io.File(dir).getParent
            val table  = new java.io.File(dir).getName
            useCatalog("gcrudkv", parent)
            // a never-written dir is not yet a table — the SQL no-ops
            if (new java.io.File(dir, "_manifest").exists) spark.sql(
              s"""UPDATE gcrudkv.`$table` SET payload = concat(payload, 'U')
                 |WHERE result_key IN (${ks.map(k => s"'$k'").mkString(", ")})""".stripMargin): Unit
            ks.foreach(k => model = model.updated(k, model(k).map(_ + "U").sorted))
            check(s"sql-update $ks")
          case 8 => // OPTIMIZE (fold everything; layout-only)
            StoreLifecycle.compactEpochs(spark, dir)
            check("compact")
          case 9 if rng.nextBoolean() => // age-based retention: a
            // future cutoff retires every epoch committed so far
            StoreLifecycle.expireEpochs(dir, System.currentTimeMillis() + 1000L)
            // .map on a WithDefault drops the default — re-attach it or
            // a later append of a never-seen key throws
            model = model.map { case (k, _) => k -> Seq.empty[String] }
              .withDefaultValue(Seq.empty)
            check("retention")
          case _ => // vacuum at grace 0 (no pins in this harness)
            StoreLifecycle.vacuum(spark, dir, graceMs = 0L, hconf)
            check("vacuum")
        }
      }
      deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  test("bucketed and sharded K-V stores: random op sequences match the model") {
    // the phantom-bucket purge miss lived exactly where layout naming
    // meets pruning — fuzz BOTH special layouts through the same
    // model: every op must preserve the layout invariants AND values
    import spark.implicits._
    val keySpace = (0 until 12).map(i => f"k$i%02d")
    val layouts = Seq(("buckets", 4, 0), ("dataShards", 0, 5))
    layouts.foreach { case (label, buckets, shards) =>
      (1 to math.max(1, kvSeeds / 2)).foreach { seed =>
        val rng = new Random(1000 + seed)
        val dir = Files.createTempDirectory(s"graft-crudprop-$label-$seed").toString
        var model = Map.empty[String, Seq[String]].withDefaultValue(Seq.empty)
        var step  = 0
        def opts(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) = {
          val base = w.format("graft.sources.ContentStore").option("path", dir).mode("append")
          if (buckets > 0) base.option("buckets", buckets)
          else base.option("dataShards", shards)
        }
        def check(op: String): Unit = {
          val got  = readAll(dir)
          val want = model.filter(_._2.nonEmpty)
          assert(got == want, s"$label seed=$seed step=$step after $op: got $got want $want")
          if (buckets > 0) // every live file keeps its bucket prefix
            assert(ContentStore.snapshotManifests(dir)
              .flatMap(m => ContentStore.filesInManifest(dir, m, hconf))
              .forall(f => ContentStore.bucketOfFile(f).isDefined),
              s"$label seed=$seed step=$step after $op: bucket prefix lost")
        }
        // the layout is declared by the FIRST writer (an upsert into a
        // virgin store would create a PLAIN store) — seed it, as every
        // real bucketed/sharded store is seeded
        opts(Seq(("k00", "seed")).toDF("result_key", "payload").coalesce(1).write).save()
        model = model.updated("k00", Seq("seed"))
        check("layout seed")
        (0 until 10).foreach { _ =>
          step += 1
          rng.nextInt(10) match {
            case n if n < 3 =>
              val batch = (0 until 1 + rng.nextInt(3))
                .map(_ => (keySpace(rng.nextInt(keySpace.size)), s"v$step-${rng.nextInt(100)}"))
              opts(batch.toDF("result_key", "payload").coalesce(1).write).save()
              batch.foreach { case (k, v) => model = model.updated(k, (model(k) :+ v).sorted) }
              check(s"append $batch")
            case n if n < 6 =>
              val ks = rng.shuffle(keySpace).take(1 + rng.nextInt(3))
              val versions = ks.map(k => (k, s"u$step"))
              StoreLifecycle.upsert(spark, dir,
                versions.toDF("result_key", "payload").coalesce(1), s"e$step")
              versions.foreach { case (k, v) => model = model.updated(k, Seq(v)) }
              check(s"upsert $versions")
            case n if n < 8 =>
              val ks = rng.shuffle(keySpace).take(1 + rng.nextInt(4))
              if (rng.nextBoolean()) StoreLifecycle.deleteKeys(spark, dir, ks)
              else StoreLifecycle.deleteKeys(spark, dir, ks.toDF("k"), Set.empty,
                if (rng.nextBoolean()) Some(false) else None)
              ks.foreach(k => model = model.updated(k, Seq.empty))
              check(s"delete $ks")
            case 8 =>
              StoreLifecycle.compactEpochs(spark, dir)
              check("compact")
            case _ =>
              StoreLifecycle.vacuum(spark, dir, graceMs = 0L, hconf)
              check("vacuum")
          }
        }
        deleteTree(java.nio.file.Paths.get(dir))
      }
    }
  }

  test("columnar store: random append/upsert/delete/optimize sequences match the model") {
    import spark.implicits._
    val ids = (0 until 12).map(_.toLong)
    (1 to colSeeds).foreach { seed =>
      val rng = new Random(100 + seed)
      val dir = Files.createTempDirectory(s"graft-crudprop-pq-$seed").toString
      var model = Map.empty[Long, Seq[String]].withDefaultValue(Seq.empty)
      var step  = 0
      def readPq(): Map[Long, Seq[String]] = {
        val pin = ContentStore.snapshotManifests(dir)
        if (pin.isEmpty) Map.empty
        else ParquetEpochs.read(spark, dir, pin)
          .collect().map(r => (r.getLong(0), r.getString(1)))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted.toSeq }
      }
      def check(op: String): Unit =
        assert(readPq() == model.filter(_._2.nonEmpty),
          s"seed=$seed step=$step after $op")
      (0 until 10).foreach { _ =>
        step += 1
        rng.nextInt(10) match {
          case n if n < 3 =>
            val batch = (0 until 1 + rng.nextInt(3))
              .map(_ => (ids(rng.nextInt(ids.size)), s"v$step-${rng.nextInt(100)}"))
            ParquetEpochs.append(batch.toDF("doc_id", "body").coalesce(1), dir)
            batch.foreach { case (k, v) => model = model.updated(k, (model(k) :+ v).sorted) }
            check(s"append $batch")
          case n if n < 6 =>
            val ks = rng.shuffle(ids).take(1 + rng.nextInt(3))
            val versions = ks.map(k => (k, s"u$step"))
            ParquetEpochs.upsert(spark, dir,
              versions.toDF("doc_id", "body").coalesce(1), "doc_id", s"e$step")
            versions.foreach { case (k, v) => model = model.updated(k, Seq(v)) }
            check(s"upsert $versions")
          case n if n < 8 =>
            val ks: Seq[Any] = rng.shuffle(ids).take(1 + rng.nextInt(4))
            // a never-written dir is not yet a columnar store — the
            // verbs refuse pointedly there; the action no-ops
            if (!new java.io.File(dir, "_format").exists) ()
            else rng.nextInt(3) match {
              case 0 => ParquetEpochs.deleteWhere(spark, dir, "doc_id", ks)
              case 1 => ParquetEpochs.deleteWhere(spark, dir, "doc_id",
                ks.map(_.asInstanceOf[Long]).toDF("doc_id"),
                None, Set.empty, if (rng.nextBoolean()) Some(false) else None)
              case _ => // SQL DELETE through the catalog — same contract
                val parent = new java.io.File(dir).getParent
                val table  = new java.io.File(dir).getName
                useCatalog("gcrud", parent)
                if (new java.io.File(dir, "_manifest").exists) spark.sql(
                  s"DELETE FROM gcrud.`$table` WHERE doc_id IN (${ks.mkString(", ")})"): Unit
            }
            ks.foreach(k => model = model.updated(k.asInstanceOf[Long], Seq.empty))
            check(s"delete $ks")
          case 8 => // SQL row-level UPDATE (copy-on-write) — appends a
            // marker to EVERY version of the touched keys; exercises
            // the B89 path against the same model
            val ks = rng.shuffle(ids).take(1 + rng.nextInt(3))
            val parent = new java.io.File(dir).getParent
            val table  = new java.io.File(dir).getName
            useCatalog("gcrud", parent)
            if (new java.io.File(dir, "_manifest").exists) spark.sql(
              s"""UPDATE gcrud.`$table` SET body = concat(body, 'U')
                 |WHERE doc_id IN (${ks.mkString(", ")})""".stripMargin): Unit
            ks.foreach(k =>
              model = model.updated(k, model(k).map(_ + "U").sorted))
            check(s"sql-update $ks")
          case 9 if rng.nextBoolean() => // INSERT OVERWRITE (B92):
            // one atomic replace-all — the model wipes and takes
            // exactly the replacement batch (duplicates stack like
            // any append-shaped write)
            if (new java.io.File(dir, "_format").exists) {
              val batch = (0 until 1 + rng.nextInt(3))
                .map(_ => (ids(rng.nextInt(ids.size)), s"o$step-${rng.nextInt(100)}"))
              ParquetEpochs.overwrite(spark, dir, batch.toDF("doc_id", "body").coalesce(1))
              model = Map.empty[Long, Seq[String]].withDefaultValue(Seq.empty)
              batch.foreach { case (k, v) => model = model.updated(k, (model(k) :+ v).sorted) }
              check(s"overwrite $batch")
            }
          case _ =>
            ParquetEpochs.compact(spark, dir)
            check("compact")
        }
      }
      deleteTree(java.nio.file.Paths.get(dir))
    }
  }
}
