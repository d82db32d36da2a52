package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Copy-on-write DELETE / MERGE on LakeTable: correctness, file-level
  * pruning, NULL-predicate semantics, and append rebase. */
class RowLevelOpsSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def freshTable(prefix: String): LakeTable = {
    val t = LakeTable.create(spark, tmpDir(prefix), schema)
    // two separately-committed batches -> disjoint file sets, so pruning
    // is observable at file granularity
    t.append((0L until 100L).map(i => (i, "a", i.toDouble))
      .toDF("id", "grp", "v"))
    t.append((100L until 200L).map(i => (i, "b", i.toDouble))
      .toDF("id", "grp", "v"))
    t
  }

  test("deleteWhere removes matching rows and rewrites ONLY touched files") {
    val t = freshTable("del")
    val untouchedBefore = t.dataFiles.map(_.path).toSet
    // batch-b rows live apart from batch-a rows: delete hits only batch a
    val v = t.deleteWhere($"id" < 50L)
    assert(v == t.currentVersion)
    assert(t.read().count() == 150)
    assert(t.read().filter($"id" < 50L).count() == 0)
    // files of the untouched batch (ids 100-199, grp b) must survive
    val after = t.dataFiles.map(_.path).toSet
    val survivingOld = untouchedBefore.intersect(after)
    assert(survivingOld.nonEmpty,
      "files with no matching rows must not be rewritten")
    // and the replaced ones are gone from the live set
    assert(after != untouchedBefore)
    // a delete that empties every file it touches leaves no 0-row file
    t.deleteWhere($"id" >= 100L)
    assert(t.read().count() == 50)
    assert(t.dataFiles.forall(_.rows > 0),
      s"0-row data file committed: ${t.dataFiles.map(_.rows)}")
  }

  test("deleteWhere with no matches is a no-op; NULL predicate keeps rows") {
    val t = freshTable("del-null")
    val v0 = t.currentVersion
    assert(t.deleteWhere($"id" > 10000L) == v0)

    // NULL grp: predicate (grp = 'zz') is NULL -> row must be KEPT
    t.append(Seq((900L, null.asInstanceOf[String], 1.0))
      .toDF("id", "grp", "v"))
    t.deleteWhere($"grp" === "zz")
    assert(t.read().filter($"id" === 900L).count() == 1)
    // but IS NULL deletes it explicitly
    t.deleteWhere($"grp".isNull)
    assert(t.read().filter($"id" === 900L).count() == 0)
  }

  test("upsert replaces matched keys, inserts new ones, prunes files") {
    val t = freshTable("merge")
    val before = t.dataFiles.map(_.path).toSet
    val src = Seq(
      (10L, "a2", -1.0),   // update (batch a)
      (500L, "new", 5.0))  // insert
      .toDF("id", "grp", "v")
    t.upsert(src, Seq("id"))
    assert(t.read().count() == 201)
    val updated = t.read().filter($"id" === 10L)
      .as[(Long, String, Double)].head()
    assert(updated == ((10L, "a2", -1.0)))
    assert(t.read().filter($"id" === 500L).count() == 1)
    // batch-b files had no matched key: still live
    assert(before.intersect(t.dataFiles.map(_.path).toSet).nonEmpty)

    // pure insert (no key matches) degrades to append: nothing replaced
    val live = t.dataFiles.map(_.path).toSet
    t.upsert(Seq((600L, "x", 0.0)).toDF("id", "grp", "v"), Seq("id"))
    assert(live.subsetOf(t.dataFiles.map(_.path).toSet))

    // an empty source is an empty delta: no commit, no 0-row file
    val v = t.currentVersion
    assert(t.upsert(Seq.empty[(Long, String, Double)]
      .toDF("id", "grp", "v"), Seq("id")) == v)
    assert(t.currentVersion == v)
    assert(t.dataFiles.forall(_.rows > 0))
  }

  test("CoW delete and upsert find their files under partition values " +
    "with URI-special characters ('a b', 'c%d'), API and SQL") {
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("p", StringType)))
    def fresh(prefix: String): LakeTable = {
      val t = LakeTable.create(spark, tmpDir(prefix), sch,
        partitionBy = Seq("p"))
      t.append((0L until 6L).map(i => (i, if (i % 2 == 0) "a b" else "c%d"))
        .toDF("id", "p"))
      t
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().toSeq.sorted
    val d = fresh("sp-del")
    assert(d.dataFiles.map(_.path.split("/")(1)).toSet ==
      Set("p=a b", "p=c%25d"))
    d.deleteWhere($"id" === 1L)
    assert(ids(d.read()) == Seq(0L, 2L, 3L, 4L, 5L))
    val u = fresh("sp-up")
    u.upsert(Seq((1L, "c%d")).toDF("id", "p"), Seq("id"))
    assert(ids(u.read()) == (0L until 6L))
    // SQL DELETE under delete.mode=copy-on-write lands as deleteWhere
    spark.conf.set("spark.sql.catalog.grl", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grl.warehouse", tmpDir("grl-wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grl.ns")
    spark.sql("CREATE TABLE grl.ns.sp (id BIGINT, p STRING) " +
      "PARTITIONED BY (p) TBLPROPERTIES ('delete.mode'='copy-on-write')")
    spark.sql("INSERT INTO grl.ns.sp " +
      "SELECT id, IF(id % 2 = 0, 'a b', 'c%d') FROM range(6)")
    spark.sql("DELETE FROM grl.ns.sp WHERE id = 1")
    assert(ids(spark.table("grl.ns.sp")) == Seq(0L, 2L, 3L, 4L, 5L))
  }

  test("an empty delta commits nothing; under an exactly-once guard it " +
    "commits one metadata-only stamp that advances the writer's mark") {
    val t = freshTable("empty-delta")
    val none = Seq.empty[(Long, String, Double)].toDF("id", "grp", "v")
    def state = (t.currentVersion, t.dataFiles.map(_.path).toSet,
      t.deleteEntries.map(_.path).toSet)
    val before = state
    t.deleteWhereEqual(none.select("id"), Seq("id"))
    t.upsert(none, Seq("id"))
    t.upsertMor(none, Seq("id"))
    assert(state == before, "an unguarded empty delta committed")
    Seq[(String, LakeTable => Int)](
      "deleteWhereEqualExactlyOnce" ->
        (_.deleteWhereEqualExactlyOnce(none.select("id"), Seq("id"),
          "deleteWhereEqualExactlyOnce", 5L)),
      "upsertMorExactlyOnce" ->
        (_.upsertMorExactlyOnce(none, Seq("id"), "upsertMorExactlyOnce",
          5L)),
      "upsertExactlyOnce" ->
        (_.upsertExactlyOnce(none, Seq("id"), "upsertExactlyOnce", 5L))
    ).foreach { case (writer, op) =>
      val (v, files, deletes) = state
      assert(op(t) == v + 1, s"$writer: no stamp commit")
      assert(state == ((v + 1, files, deletes)),
        s"$writer: the stamp changed files")
      assert(t.lastBatchId(writer) == 5L, writer)
      assert(op(t) == v + 1, s"$writer: the replay committed")
    }
    assert(t.read().count() == 200)
  }

  test("upsertExactlyOnce suppresses a replayed batch — even one that " +
    "recomputed DIFFERENT rows (non-deterministic aggregate contract)") {
    val t = freshTable("merge-eo")
    t.upsertExactlyOnce(Seq((10L, "agg", 1.0)).toDF("id", "grp", "v"),
      Seq("id"), "mv-writer", 0L)
    assert(t.read().filter($"id" === 10L).select("v").as[Double].head()
      == 1.0)
    val v = t.currentVersion
    // a crash-replay of batch 0 from a non-deterministic aggregate
    // could emit a different value; the guard must no-op, leaving the
    // first commit's state (exactly the no-crash outcome)
    t.upsertExactlyOnce(Seq((10L, "agg", 99.0)).toDF("id", "grp", "v"),
      Seq("id"), "mv-writer", 0L)
    assert(t.currentVersion == v)
    assert(t.read().filter($"id" === 10L).select("v").as[Double].head()
      == 1.0)
    // the NEXT batch id commits normally
    t.upsertExactlyOnce(Seq((10L, "agg", 2.0)).toDF("id", "grp", "v"),
      Seq("id"), "mv-writer", 1L)
    assert(t.read().filter($"id" === 10L).select("v").as[Double].head()
      == 2.0)
    // an independent writer's batch ids don't interfere
    t.upsertExactlyOnce(Seq((11L, "b", 7.0)).toDF("id", "grp", "v"),
      Seq("id"), "other-writer", 0L)
    assert(t.read().filter($"id" === 11L).count() == 1)
  }

  test("upsert aligns source to table schema loudly") {
    val t = freshTable("merge-schema")
    intercept[Exception] { // missing column v
      t.upsert(Seq((1L, "a")).toDF("id", "grp"), Seq("id"))
    }
    // compatible narrower type is cast, not rejected
    t.upsert(Seq((1, "c", 9.0f)).toDF("id", "grp", "v")
      .select($"id".cast("int").as("id"), $"grp", $"v".cast("float").as("v")),
      Seq("id"))
    assert(t.read().filter($"id" === 1L).select("grp").as[String].head() == "c")
    // a key outside the schema fails before any file is written
    def onDisk: Set[String] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root))
      try w.iterator().asScala.map(_.toString).toSet finally w.close()
    }
    val files = onDisk
    val src = Seq((2L, "k", 1.0)).toDF("id", "grp", "v")
    Seq[LakeTable => Int](_.upsert(src, Seq("nope")),
        _.upsertMor(src, Seq("nope"))).foreach { op =>
      intercept[IllegalArgumentException](op(t))
      assert(onDisk == files, "a refused upsert left files behind")
    }
  }

  test("row-level ops on a PARTITIONED table rewrite within partitions") {
    val t = LakeTable.create(spark, tmpDir("del-part"), schema,
      partitionBy = Seq("grp"))
    t.append((0L until 50L).map(i => (i, if (i % 2 == 0) "e" else "o",
      i.toDouble)).toDF("id", "grp", "v"))
    t.deleteWhere($"grp" === "e" && $"id" < 20L)
    assert(t.read().count() == 40) // dropped even ids 0..18 (10 rows)
    assert(t.read().filter($"grp" === "e").count() == 15)
    t.upsert(Seq((1L, "o", -7.0)).toDF("id", "grp", "v"), Seq("id"))
    assert(t.read().filter($"id" === 1L).select("v").as[Double].head() == -7.0)
    assert(t.read().count() == 40)
  }

  test("concurrent same-file upserts: strict replace never duplicates " +
    "or resurrects rows (retry on conflict)") {
    val t = freshTable("merge-race")
    // 4 threads upsert the SAME key set with distinct values; the
    // strict-replace guard forces losers to throw instead of
    // re-committing stale base rows, and a retry then sees the
    // winner's files. Invariant after all settle: exactly one row per
    // key, carrying one of the competing values — never zero, never two.
    val keys = (0L until 20L)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { w =>
      new Thread(() => {
        val src = keys.map(k => (k, s"w$w", w.toDouble))
          .toDF("id", "grp", "v")
        var attempts = 0
        var done = false
        while (!done && attempts < 10) {
          attempts += 1
          try { t.upsert(src, Seq("id")); done = true }
          catch {
            case _: java.util.ConcurrentModificationException => // retry
            case e: Throwable => errs.add(e); done = true
          }
        }
        if (!done) errs.add(new IllegalStateException("retries exhausted"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failures: ${errs.toArray.toSeq}")
    val rows = t.read().filter($"id" < 20L)
      .select("id", "grp").as[(Long, String)].collect()
    assert(rows.length == 20, "exactly one row per key")
    val winners = rows.map(_._2).toSet
    assert(winners.forall(Set("w1", "w2", "w3", "w4")),
      s"values must come from the competing writers, got $winners")
    assert(t.read().count() == 200) // nothing else lost
  }

  test("readWithRowCoords + applyRowDelta (merge-on-read): an UPDATE-" +
    "shaped delta lands as ONE commit of position deletes + inserts, " +
    "zero data files rewritten") {
    val t = freshTable("delta-mor")
    val filesBefore = t.dataFiles.map(_.path).toSet
    val vBefore = t.currentVersion
    // the scan half: coordinates of the rows to update (pruned read)
    val coords = t.readWithRowCoords(Some($"id" < 10L))
    assert(coords.count() == 10)
    val deletes = coords.select(LakeTable.RowFileCol, LakeTable.RowPosCol)
    val inserts = coords.select($"id", $"grp", ($"v" * 100).as("v"))
    val v = t.applyRowDelta(deletes, inserts)
    assert(v == vBefore + 1, "UPDATE must be ONE commit")
    assert(t.dataFiles.map(_.path).toSet.intersect(filesBefore)
      == filesBefore, "merge-on-read must not rewrite data files")
    assert(t.read().count() == 200, "row count preserved by update")
    assert(t.read().filter($"id" < 10L).count() == 10,
      "updated rows duplicated or lost")
    assert(t.read().filter($"id" < 10L).agg(sum($"v")).head.getDouble(0)
      == (0 until 10).map(_ * 100.0).sum,
      "old row versions still visible")
    // time travel still serves the pre-update state
    assert(t.readVersion(vBefore).filter($"id" < 10L)
      .agg(sum($"v")).head.getDouble(0) == (0 until 10).map(_.toDouble).sum)
    // already-updated rows are re-addressable (coords re-resolve)
    val coords2 = t.readWithRowCoords(Some($"id" === 0L))
    assert(coords2.count() == 1)
    t.applyRowDelta(coords2.select(LakeTable.RowFileCol,
      LakeTable.RowPosCol),
      Seq.empty[(Long, String, Double)].toDF("id", "grp", "v"))
    assert(t.read().filter($"id" === 0L).count() == 0,
      "pure-delete delta must remove the row")
  }

  test("applyRowDelta (copy-on-write): rewrites EXACTLY the files that " +
    "lost a row, in one strict-replace commit") {
    val t = freshTable("delta-cow")
    t.updateProperties(Map("update.mode" -> "copy-on-write"))
    val before = t.dataFiles.map(_.path).toSet
    val coords = t.readWithRowCoords(Some($"id" >= 150L))
    // batch-b files only
    val vBefore = t.currentVersion
    val v = t.applyRowDelta(
      coords.select(LakeTable.RowFileCol, LakeTable.RowPosCol),
      coords.select($"id", lit("bb").as("grp"), $"v"),
      copyOnWrite = true)
    assert(v == vBefore + 1)
    val after = t.dataFiles.map(_.path).toSet
    val touched = coords.select(LakeTable.RowFileCol).distinct()
      .collect().map(_.getString(0)).toSet
    assert(before.diff(after) == touched,
      "only files containing updated rows may be replaced")
    assert(before.diff(touched).subsetOf(after),
      "untouched files must survive byte-identical")
    assert(t.read().filter($"grp" === "bb").count() == 50)
    assert(t.read().count() == 200)
    // no MOR debt on the copy-on-write path
    assert(t.meta("delete_files").count() == 0,
      "copy-on-write delta must not commit delete files")
  }

  test("applyRowDelta aborts when a concurrent rewrite superseded the " +
    "scanned positions — both modes — instead of resurrecting or " +
    "misaddressing rows") {
    val t = freshTable("delta-conflict")
    // positions resolved against the pre-compaction snapshot...
    val coords = t.readWithRowCoords(Some($"id" < 10L))
      .localCheckpoint()
    assert(coords.count() == 10)
    val deletes = coords.select(LakeTable.RowFileCol, LakeTable.RowPosCol)
    val inserts = coords.select($"id", $"grp", ($"v" * 100).as("v"))
    // ...then a compaction supersedes every scanned file
    t.compact(1)
    val vAfter = t.currentVersion
    // merge-on-read: the covers check aborts the commit
    intercept[java.util.ConcurrentModificationException] {
      t.applyRowDelta(deletes, inserts)
    }
    // copy-on-write: the affected files are no longer live
    intercept[java.util.ConcurrentModificationException] {
      t.applyRowDelta(deletes, inserts, copyOnWrite = true)
    }
    // nothing landed: version unchanged, content intact
    assert(t.currentVersion == vAfter)
    assert(t.read().count() == 200)
    assert(t.read().filter($"v" >= 100.0 && $"id" < 10L).count() == 0,
      "aborted delta leaked rows")
    // retry after a fresh scan succeeds (positions re-resolve)
    val coords2 = t.readWithRowCoords(Some($"id" < 10L))
    t.applyRowDelta(
      coords2.select(LakeTable.RowFileCol, LakeTable.RowPosCol),
      coords2.select($"id", $"grp", ($"v" * 100).as("v")))
    assert(t.read().filter($"id" < 10L && $"id" > 0L)
      .agg(min($"v")).head.getDouble(0) == 100.0)
  }

  test("vacuum age guard: young orphans survive, old ones are reclaimed") {
    val t = freshTable("vac-age")
    // orphan a file: write data, never commit it (simulate a crashed
    // writer) by dropping a parquet straight into a batch dir
    val orphanDir = java.nio.file.Paths.get(t.root, "data/batch-orphan")
    java.nio.file.Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-zzz.parquet")
    java.nio.file.Files.writeString(orphan, "not yet committed")
    assert(t.vacuum(minAgeMs = 3600 * 1000L) == 0,
      "a young orphan may belong to an in-flight writer: keep it")
    assert(java.nio.file.Files.exists(orphan))
    assert(t.vacuum(minAgeMs = 0L) == 1, "past the age guard: reclaim")
    assert(!java.nio.file.Files.exists(orphan))
    assert(t.read().count() == 200, "referenced data untouched")
  }

  test("delete and upsert compose with appends and compaction") {
    val t = freshTable("del-compose")
    t.deleteWhere($"id" >= 0L && $"id" < 10L)
    t.append(Seq((5000L, "late", 1.0)).toDF("id", "grp", "v"))
    t.upsert(Seq((5000L, "late2", 2.0)).toDF("id", "grp", "v"), Seq("id"))
    t.compact(2)
    assert(t.read().count() == 191) // 200 - 10 + 1
    assert(t.read().filter($"id" === 5000L)
      .select("grp").as[String].head() == "late2")
    // time travel still serves the pre-delete state
    assert(t.readVersion(2).count() == 200)
  }
}
