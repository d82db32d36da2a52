package graft.lake

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Drives the commit protocol's concurrency suite through a
  * deliberately-racy NON-POSIX [[CommitStore]]: slots arbitrated by an
  * in-memory CAS (the object-store conditional-put model), winner
  * content visible only after a random delay, and every published
  * object held in the store's memory — never on local disk. If the
  * protocol silently depended on any POSIX incidental beyond the
  * store's documented contract (conditional create, all-or-nothing
  * visibility, reads/lists/deletes through the same store), these
  * scenarios — the same ones LakeTableSpec/RowLevelOpsSpec run against
  * [[PosixCommitStore]] — would lose commits, duplicate rows, or read
  * torn snapshots here. */
class CommitStoreContractSpec extends SparkSuite {
  import spark.implicits._

  private val abSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType)))

  private def racyTable(name: String, schema: StructType): LakeTable =
    LakeTable.create(spark, tmpDir(name), schema,
      store = new RacyCommitStore())

  test("putIfAbsent primitive: exactly one winner among racing " +
    "callers, content complete once visible") {
    val store = new RacyCommitStore(maxDelayMs = 3)
    val dir = java.nio.file.Paths.get(tmpDir("prim"))
    java.nio.file.Files.createDirectories(dir)
    val path = dir.resolve("v00000001.json")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val payload = (w: Int) => s"""{"writer":$w,"pad":"${"x" * 4096}"}"""
    val wins = Await.result(Future.sequence((1 to 8).map(w =>
      Future(store.putIfAbsent(path, payload(w))))), 60.seconds)
    pool.shutdown()
    assert(wins.count(identity) == 1, s"expected one winner, got $wins")
    val content = store.read(path).get
    assert((1 to 8).exists(w => content == payload(w)),
      "published content must be exactly one writer's full payload")
  }

  test("read primitive: None when absent, full content once published; " +
    "frozen IVF model round-trips through the same store it was " +
    "saved through") {
    val store = new RacyCommitStore(maxDelayMs = 0)
    val dir = java.nio.file.Paths.get(tmpDir("read-prim"))
    java.nio.file.Files.createDirectories(dir)
    assert(store.read(dir.resolve("nope.json")).isEmpty)
    assert(store.putIfAbsent(dir.resolve("obj.json"), "payload"))
    assert(store.read(dir.resolve("obj.json")).contains("payload"))
    // the bug class this kills: save through one store, load through
    // another abstraction — model persistence must honor ONE seam
    val root = tmpDir("model-store")
    val m = graft.operators.IvfIndex.Model(
      Array(Array(1.5, -2.25), Array(0.125, 3.0)))
    graft.operators.IvfIndex.saveModel(root, m, store)
    val back = graft.operators.IvfIndex.loadModel(root, store)
    assert(back.exists(_.centroids.map(_.toSeq).toSeq ==
      m.centroids.map(_.toSeq).toSeq))
    assert(graft.operators.IvfIndex.loadModel(tmpDir("model-none"),
      store).isEmpty)
  }

  test("concurrent appends all commit through the racy store " +
    "(optimistic retry against conditional-put arbitration)") {
    val t = racyTable("conc", abSchema)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = (1 to 8).map { i =>
      Future(t.append(Seq((i.toLong, s"w$i")).toDF("a", "b")))
    }
    Await.result(Future.sequence(futures), 120.seconds)
    pool.shutdown()
    assert(t.currentVersion == 8)
    assert(t.read().count() == 8)
    assert(t.read().agg(sum("a")).as[Long].head() == 36L)
  }

  test("concurrent same-file upserts through the racy store: strict " +
    "replace never duplicates or resurrects rows") {
    val t = racyTable("merge-race", StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    t.append((0L until 200L).map(k => (k, "base", 0.0))
      .toDF("id", "grp", "v"))
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
    assert(rows.map(_._2).toSet.forall(Set("w1", "w2", "w3", "w4")))
    assert(t.read().count() == 200)
  }

  test("exactly-once guard holds through the racy store: a replayed " +
    "batch id never lands twice even when racing a plain append") {
    val t = racyTable("eo", abSchema)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // 4 replays of the same (writer, batch) race 4 plain appends
    val replays = (1 to 4).map { _ =>
      Future(t.appendExactlyOnce(
        Seq((100L, "once")).toDF("a", "b"), "w", 0L))
    }
    val appends = (1 to 4).map { i =>
      Future(t.append(Seq((i.toLong, s"p$i")).toDF("a", "b")))
    }
    Await.result(Future.sequence(replays ++ appends), 120.seconds)
    pool.shutdown()
    assert(t.read().filter($"a" === 100L).count() == 1,
      "the guarded batch must land exactly once")
    assert(t.read().count() == 5)
    assert(t.lastBatchId("w") == 0L)
  }

  test("rollback racing an append through the racy store: restore " +
    "wins, the racer's rows stay recoverable") {
    val t = racyTable("rb-race", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    t.append(Seq((1L, 1.0)).toDF("id", "v"))
    val good = t.currentVersion
    t.append(Seq((2L, 2.0)).toDF("id", "v"))
    val racer = t.currentVersion
    t.rollbackTo(good)
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    assert(t.readVersion(racer).count() == 2)
    t.rollbackTo(racer)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("compaction racing appends through the racy store loses " +
    "neither the rewrite nor the racers") {
    val t = racyTable("compact-race", abSchema)
    (1 to 6).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("a", "b")))
    val base = t.currentVersion
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val work = Seq(
      Future(t.compactFrom(base, numFiles = 2)),
      Future(t.append(Seq((100L, "r1")).toDF("a", "b"))),
      Future(t.append(Seq((200L, "r2")).toDF("a", "b"))))
    Await.result(Future.sequence(work), 120.seconds)
    pool.shutdown()
    assert(t.read().count() == 8)
    assert(t.read().agg(sum("a")).as[Long].head() == 321L)
  }

  test("a table lifecycle runs entirely through the store's seam: " +
    "reads, time travel, changes, retention and the version hint " +
    "touch no local metadata file") {
    val t = racyTable("seam", abSchema)
    val metaDir = java.nio.file.Paths.get(t.root, "metadata")
    val hint = metaDir.resolve(LakeTable.LatestHint)
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("a", "b")))
    assert(t.currentVersion == 3)
    assert(t.appendExactlyOnce(Seq((10L, "eo")).toDF("a", "b"), "w", 0L) == 4)
    // a replay of the same (writer, batch) is a no-op
    assert(t.appendExactlyOnce(Seq((10L, "eo")).toDF("a", "b"), "w", 0L) == 4)
    assert(t.currentVersion == 4 && t.lastBatchId("w") == 0L)
    assert(t.read().agg(sum("a")).as[Long].head() == 16L)
    assert(t.readVersion(2).select("a").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(t.changesBetween(2, 4).select("a").as[Long].collect().sorted
      .toSeq == Seq(3L, 10L))
    // missing hint: the listing fallback finds the frontier
    assert(t.store.delete(hint))
    assert(t.currentVersion == 4)
    // stale hint: the forward probe recovers the frontier
    t.store.putHint(hint, "1")
    assert(t.currentVersion == 4)
    assert(t.meta("snapshots").count() == 5)
    val (expired, _) = t.expireSnapshots(keepLast = 2)
    assert(expired == 3)
    assert(t.snapshots.map(_.version) == Seq(3, 4))
    assert(t.meta("snapshots").select("version").as[Int].collect().toSeq ==
      Seq(3, 4))
    intercept[IllegalStateException](t.changesBetween(1, 4))
    t.append(Seq((5L, "v5")).toDF("a", "b"))
    assert(t.currentVersion == 5 && t.read().count() == 5)
    assert(LakeTable.listDir(metaDir).isEmpty,
      s"local metadata files: ${LakeTable.listDir(metaDir)}")
  }

  test("a catalog on a racy store threads the seam to every table it " +
    "creates and loads") {
    val cat = new LakeCatalog(spark, tmpDir("racy-cat"),
      new RacyCommitStore())
    val t = cat.createTable("ns", "t", abSchema)
    assert(t.commitStore.isInstanceOf[RacyCommitStore])
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    Await.result(Future.sequence((1 to 6).map(i =>
      Future(t.append(Seq((i.toLong, s"w$i")).toDF("a", "b"))))),
      120.seconds)
    pool.shutdown()
    assert(cat.table("ns", "t").commitStore.isInstanceOf[RacyCommitStore])
    assert(cat.table("ns", "t").read().count() == 6)
  }
}
