package graft.lake

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.sources.LakeLogSource

/** A [[PosixCommitStore]] that counts reads of snapshot objects
  * (`vNNNNNNNN.json`), present or not. */
class SnapshotCountingStore extends CommitStore {
  val snapshotReads = new AtomicInteger
  def putIfAbsent(path: Path, content: String): Boolean =
    PosixCommitStore.putIfAbsent(path, content)
  override def read(path: Path): Option[String] = {
    if (path.getFileName.toString.matches("v\\d{8}\\.json"))
      snapshotReads.incrementAndGet()
    PosixCommitStore.read(path)
  }
  /** Snapshot reads made by `body`. */
  def counting(body: => Any): Int = {
    val before = snapshotReads.get
    body
    snapshotReads.get - before
  }
}

/** Operations read the snapshot log through the table's store, a
  * bounded number of times: one snapshot per operation (plus one per
  * commit attempt), never one per key, per live file or per retained
  * version. Every count must be positive — a read the store does not
  * see bypassed the seam. */
class SnapshotReadSpec extends SparkSuite {
  import spark.implicits._

  test("probe reads as many snapshots for 1,000 keys as for one") {
    val store = new SnapshotCountingStore
    val t = LakeTable.create(spark, tmpDir("probe-reads"),
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))),
      bucketBy = Some(("k", 8)), store = store)
    t.append((0L until 50L).map(k => (k, s"v$k")).toDF("k", "v"))
    val one = store.counting(t.probe("k", Seq(7L)))
    val many = store.counting(t.probe("k", (0L until 1000L).toSeq))
    assert(one > 0 && one == many,
      s"1 key: $one snapshot reads, 1000 keys: $many")
    assert(t.probe("k", Seq(7L)).select("k", "v").as[(Long, String)]
      .collect().toSeq == Seq((7L, "v7")))
  }

  test("autoCompactIfNeeded reads as many snapshots over 100 live " +
    "files as over 10") {
    def reads(dirs: Int): Int = {
      val store = new SnapshotCountingStore
      val t = LakeTable.create(spark, tmpDir("compact-reads"),
        StructType(Seq(StructField("id", LongType),
          StructField("p", IntegerType))),
        properties = Map("compaction.auto.maxFiles" -> "4"),
        partitionBy = Seq("p"), store = store)
      // two single-task appends: every partition dir holds two
      // one-row files, so the size ladder merges each dir
      (0 until 2).foreach(_ => t.append(
        (0 until dirs).map(i => (i.toLong, i)).toDF("id", "p").coalesce(1)))
      assert(t.dataFiles.size == 2 * dirs)
      var committed: Option[Int] = None
      val n = store.counting { committed = t.autoCompactIfNeeded() }
      assert(committed.isDefined && t.dataFiles.size == dirs)
      assert(t.read().count() == 2L * dirs)
      n
    }
    val (small, large) = (reads(5), reads(50))
    assert(small > 0 && small == large,
      s"10 files: $small snapshot reads, 100: $large")
  }

  test("a commit-log batch over the last 2 of 40 versions reads 2 " +
    "snapshots plus a constant") {
    val store = new SnapshotCountingStore
    val t = LakeTable.create(spark, tmpDir("log-reads"),
      StructType(Seq(StructField("a", LongType))), store = store)
    t.append(Seq(1L).toDF("a"))
    (2 to 39).foreach(i => t.updateProperties(Map("step" -> i.toString)))
    t.appendExactlyOnce(Seq(2L).toDF("a"), "w", 7L)
    assert(t.currentVersion == 40)
    var rows: Seq[(Int, Long, Int, Long, String)] = Nil
    val n = store.counting { rows = LakeLogSource.logRows(t, 38, 40) }
    assert(n >= 2 && n <= 2 + 2, s"$n snapshot reads for a 2-version batch")
    assert(rows.map(r => (r._1, r._3, r._4, r._5)) ==
      Seq((39, 1, 1L, null), (40, 2, 2L, "7")))
  }
}
