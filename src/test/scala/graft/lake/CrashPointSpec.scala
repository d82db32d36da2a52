package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSuite
import FaultyCommitStore.CrashPoint

/** Crash-point property of the commit seam: for each protocol, a
  * crash-free run counts the store calls the protocol makes; then for
  * EVERY such call, before and after it, a fresh table with the same
  * history runs the protocol until it dies there, a restarted writer
  * (a new table over a clean view of the same store) replays the same
  * call, and the table must equal the crash-free run's — rows, a head
  * snapshot whose data, delete and manifest files all exist, and the
  * same rows again after `vacuum()`, which leaves on disk exactly the
  * files some retained snapshot references. */
class CrashPointSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def rows(id: Long*): DataFrame =
    id.map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)

  /** `setup` builds the history of a table created with `props`, `op`
    * is the call crashed and replayed. */
  private case class Protocol(name: String, props: Map[String, String],
                              setup: LakeTable => Unit,
                              op: LakeTable => Unit)

  // three one-file appends: the protocol's own manifest is the fourth
  // of its size class, so its commit also merges the manifest ladder
  private def threeAppends(t: LakeTable): Unit =
    Seq(Seq(1L, 2L), Seq(3L, 4L), Seq(5L, 6L))
      .foreach(b => t.append(rows(b: _*)))

  private val protocols = Seq(
    Protocol("appendExactlyOnce", Map.empty, threeAppends,
      _.appendExactlyOnce(rows(7L, 8L), "w", 1L)),
    Protocol("deleteWhereEqualExactlyOnce", Map.empty, threeAppends,
      _.deleteWhereEqualExactlyOnce(Seq(2L, 5L).toDF("id"), Seq("id"),
        "w", 1L)),
    Protocol("upsertMorExactlyOnce", Map.empty, threeAppends,
      _.upsertMorExactlyOnce(Seq((2L, "x"), (9L, "y")).toDF("id", "v"),
        Seq("id"), "w", 1L)),
    Protocol("compactSorted", Map.empty, { t =>
      threeAppends(t)
      t.deleteWhereEqual(Seq(3L).toDF("id"), Seq("id"))
    }, _.compactSorted(1, Seq("id"))),
    Protocol("rollbackTo", Map.empty, { t =>
      threeAppends(t)
      t.deleteWhereEqual(Seq(1L).toDF("id"), Seq("id"))
    }, _.rollbackTo(2)),
    // the tier merge commits, then retention deletes three snapshots
    Protocol("autoCompactIfNeeded", Map("compaction.auto.maxFiles" -> "2",
        "snapshots.auto.keepLast" -> "2", "vacuum.auto.minAgeMs" -> "0"),
      threeAppends, _.autoCompactIfNeeded()))

  private def content(t: LakeTable): Seq[(Long, String)] =
    t.read().select("id", "v").as[(Long, String)].collect().toSeq.sorted

  /** A fresh table with `p`'s history, `p.op` run on it with the store
    * armed at `crash`; returns the store and the table root. */
  private def runTo(p: Protocol, crash: Option[CrashPoint])
      : (FaultyCommitStore, String) = {
    val store = new FaultyCommitStore(new RacyCommitStore(maxDelayMs = 0))
    val root = tmpDir(s"crash-${p.name}")
    val t = LakeTable.create(spark, root, schema, properties = p.props,
      store = store)
    p.setup(t)
    store.arm(crash)
    crash match {
      case None    => p.op(t)
      case Some(_) => intercept[InjectedCrash](p.op(t))
    }
    (store, root)
  }

  private def checkTable(t: LakeTable, store: CommitStore,
                         expected: Seq[(Long, String)], at: String): Unit = {
    assert(content(t) == expected, at)
    val head = t.latest()
    (head.files.map(_.path) ++ head.deletes.map(_.path)).foreach(p =>
      assert(Files.isRegularFile(Paths.get(t.root, p)), s"$at: $p missing"))
    (head.manifests ++ head.deleteManifests).foreach(m =>
      assert(store.read(t.metaDir.resolve(m.path)).isDefined,
        s"$at: manifest ${m.path} missing"))
  }

  protocols.foreach { p =>
    test(s"${p.name} replays to the crash-free table from every crash " +
      "point") {
      val (clean, cleanRoot) = runTo(p, None)
      val expected = content(LakeTable.load(spark, cleanRoot, clean.objects))
      val points = for {
        kind <- FaultyCommitStore.Kinds
        k <- 1 to clean.calls(kind)
        after <- Seq(false, true)
      } yield CrashPoint(kind, k, after)
      info(s"crash points: " + FaultyCommitStore.Kinds
        .map(k => s"$k ${clean.calls(k)}").mkString(", ") +
        s" -> ${points.size} crashed runs")
      assert(clean.calls("putHint") == 1, "the protocol made no commit")
      points.foreach { at =>
        val (store, root) = runTo(p, Some(at))
        val t = LakeTable.load(spark, root, store.objects)
        p.op(t)
        checkTable(t, store.objects, expected, s"$at, replayed")
        t.vacuum()
        checkTable(t, store.objects, expected, s"$at, vacuumed")
        val referenced = t.snapshots.flatMap { s =>
          val (files, deletes) = t.snapshotWithDeletes(s.version)
          files.map(_.path) ++ deletes.map(_.path)
        }.map(p => Paths.get(root, p).normalize()).toSet
        val onDisk = Seq("data", "deletes").flatMap(d =>
          LakeTable.walkDir(Paths.get(root, d)))
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(_.normalize()).toSet
        assert(onDisk == referenced, s"$at: vacuum left " +
          s"${(onDisk -- referenced).size} orphan(s), lost " +
          s"${(referenced -- onDisk).size} referenced file(s)")
      }
    }
  }
}
