package graft.lake

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** Pins the rename-free write path: every data file is born at its
  * final UUID-named location, the manifest's file list comes from the
  * write tasks' commit messages (never from listing), and concurrent
  * writers' files are attributed to exactly one commit each. */
class DirectWriteSpec extends SparkSuite {
  import spark.implicits._

  private def diskParquet(root: String): Set[String] = {
    val data = Paths.get(root, "data")
    if (!Files.exists(data)) Set.empty
    else Files.walk(data).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => Paths.get(root).relativize(p).toString).toSet
  }

  test("partitioned append: no staging dir is ever created, files are " +
    "born final, manifest attribution matches disk exactly") {
    val ev = Tables.load(spark, sf, "events")
      .select($"event_id", $"event_type", $"value")
    val root = tmpDir("direct-part")
    val t = LakeTable.create(spark, root, ev.schema,
      partitionBy = Seq("event_type"))
    t.append(ev)

    // no write-path side artifacts of any kind
    val rootEntries = Files.list(Paths.get(root)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(rootEntries == Set("data", "metadata"), s"got $rootEntries")
    assert(!Files.walk(Paths.get(root)).iterator().asScala.exists { p =>
      val n = p.getFileName.toString
      n.startsWith(".staging-") || n.startsWith(".write-") ||
        n == "_temporary" || n == "_SUCCESS"
    })

    // the manifest's file set IS the disk file set (task-commit
    // attribution, not listing, produced it — they must agree)
    assert(t.dataFiles.map(_.path).toSet == diskParquet(root))
    // partition-value stats rode in (manifest pruning needs them)
    assert(t.dataFiles.forall(_.stats.contains("event_type")))
    assert(t.read().count() == ev.count())
  }

  test("unpartitioned append: files born directly under data/, " +
    "footer metadata intact") {
    val root = tmpDir("direct-flat")
    val df = spark.range(1000).select($"id", ($"id" % 7).as("k"))
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    val files = t.dataFiles
    assert(files.nonEmpty)
    assert(files.forall(f => f.path.startsWith("data/") &&
      !f.path.stripPrefix("data/").contains("/")), s"flat layout: $files")
    assert(files.map(_.rows).sum == 1000L)
    assert(files.forall(_.sizeBytes > 0))
    assert(t.dataFiles.map(_.path).toSet == diskParquet(root))
  }

  test("4 concurrent partitioned writers: every commit owns exactly " +
    "its own files, no file double-claimed, no rows lost") {
    val ev = Tables.load(spark, sf, "events")
      .select($"event_id", $"event_type", $"value")
    val root = tmpDir("direct-race")
    val t = LakeTable.create(spark, root, ev.schema,
      partitionBy = Seq("event_type"))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    val versions = Await.result(Future.sequence((0 until 4).map { i =>
      Future(t.append(ev.filter($"event_id" % 4 === i)))
    }), 3.minutes)
    pool.shutdown()
    assert(versions.toSet.size == 4, "each append got its own version")

    // per-commit file ownership: the files a version ADDED over its
    // parent must be disjoint across commits and cover the disk set
    val added = versions.sorted.map { v =>
      val cur = t.filesAt(v).map(_.path).toSet
      val prev = t.filesAt(v - 1).map(_.path).toSet
      cur -- prev
    }
    added.combinations(2).foreach { case Seq(a, b) =>
      assert((a & b).isEmpty, s"file claimed by two commits: ${a & b}")
    }
    assert(added.reduce(_ ++ _) == diskParquet(root))
    assert(t.read().count() == ev.count())
  }

  test("a write whose task fails commits nothing: no manifest change, " +
    "no deposited file list, orphans reclaimed by vacuum") {
    val root = tmpDir("direct-abort")
    val df = spark.range(100).toDF("id")
    val t = LakeTable.create(spark, root, df.schema)
    t.append(df)
    val v = t.currentVersion
    val boom = udf((x: Long) =>
      if (x > 50) throw new RuntimeException("boom") else x)
    intercept[Exception] {
      t.append(spark.range(100).select(boom($"id").as("id")))
    }
    assert(t.currentVersion == v, "failed write must not commit")
    assert(t.read().count() == 100)
    // whatever partial files the dead attempt left are unreferenced;
    // an age-0 vacuum reclaims them and the live set still reads
    t.vacuum(minAgeMs = 0)
    assert(t.dataFiles.map(_.path).toSet == diskParquet(root))
    assert(t.read().count() == 100)
  }

  test("task-commit footer metas equal an independent driver-side " +
    "footer read, partitioned and flat, including nulls and escapes") {
    // the manifest is built from metas parsed by the COMMITTING TASKS
    // (DirectWrite.parquetWithMetas) — this pins them bit-equal to the
    // former driver read-back, so stats pruning and meta tables see
    // exactly what a re-read of the file would produce
    val df = spark.range(500)
      .select($"id",
        when($"id" % 5 === 0, lit(null)).otherwise($"id" % 97)
          .cast("double").as("v"),
        concat(lit("g="), ($"id" % 3).cast("string")).as("s"),
        // '+'-bearing group value: exercises hive-escaped partition
        // dirs through the task-side read-back path
        concat(lit("+grp"), ($"id" % 2).cast("string")).as("grp"))
    for (partitionBy <- Seq(Seq.empty[String], Seq("grp"))) {
      val root = tmpDir(s"dw-metas-${partitionBy.length}")
      val written = df
      val fb0 = org.apache.spark.sql.graft.DirectWrite.metaFallbackCount
      val relsMetas = org.apache.spark.sql.graft.DirectWrite
        .parquetWithMetas(written.repartition(4), root, partitionBy)
      assert(relsMetas.nonEmpty)
      assert(org.apache.spark.sql.graft.DirectWrite.metaFallbackCount
        == fb0, "metas must come from the task-commit messages, not " +
        "the driver fallback")
      val conf = spark.sessionState.newHadoopConf()
      relsMetas.foreach { case (rel, taskMeta) =>
        val driverMeta = LakeTable.footerMeta(
          Paths.get(root, "data", rel).toUri.toString, written.schema,
          conf)
        assert(taskMeta == driverMeta,
          s"task-commit meta for $rel diverges from a driver read: " +
            s"$taskMeta vs $driverMeta")
      }
      assert(relsMetas.map(_._2._1).sum == 500L, "row counts complete")
      // stats present for the data columns (pruning depends on them)
      assert(relsMetas.forall { case (_, (_, st, nc, size, _)) =>
        st.contains("id") && nc.contains("v") && size > 0 })
    }
  }

  test("concurrent output writers: pipelined footer-parse misses are " +
    "parsed again on the pool, and the metas equal the default mode's") {
    import org.apache.spark.sql.graft.DirectWrite
    // concurrent writers keep several files open per task, so the
    // parse pipelined at the next file's creation finds its file still
    // open (planned writes would sort first and use one writer)
    val concurrent = spark.newSession()
    concurrent.conf.set("spark.sql.maxConcurrentOutputFileWriters", "8")
    concurrent.conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
    def write(session: org.apache.spark.sql.SparkSession, tag: String) = {
      val df = session.range(3000).select(col("id"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 97)
          .cast("double").as("v"),
        (col("id") % 5).as("grp")).repartition(4)
      val root = tmpDir(tag)
      val relsMetas = DirectWrite.parquetWithMetas(df, root, Seq("grp"))
      val conf = spark.sessionState.newHadoopConf()
      relsMetas.foreach { case (rel, taskMeta) =>
        assert(taskMeta == LakeTable.footerMeta(
          Paths.get(root, "data", rel).toUri.toString, df.schema, conf),
          s"task-commit meta for $rel diverges from a driver read")
      }
      relsMetas.map { case (rel, (rows, st, nc, _, _)) =>
        (rel.split("/").init.mkString("/"), rows, st, nc)
      }.sortBy(m => (m._1, m._2, m._3.toString))
    }
    val (fb0, miss0) = (DirectWrite.metaFallbackCount,
      DirectWrite.pipelinedMissCount)
    val default = write(spark, "dw-default")
    assert(DirectWrite.pipelinedMissCount == miss0)
    val withMisses = write(concurrent, "dw-concurrent")
    assert(DirectWrite.pipelinedMissCount > miss0,
      "concurrent writers must leave pipelined parses missing")
    assert(DirectWrite.metaFallbackCount == fb0,
      "metas must come from the task-commit messages, not the driver " +
        "fallback")
    assert(withMisses == default)
  }

  test("footer-pool sizing by JVM role: local mode, driver-only JVM, " +
    "executor with and without spark.executor.cores") {
    import LakeTable.footerPoolSize
    // local mode: max(8, processors), whatever executor.cores says
    assert(footerPoolSize(4, "local[4]", isDriver = true, None) == 8)
    assert(footerPoolSize(32, "local[*]", isDriver = true, Some(4)) == 32)
    assert(footerPoolSize(2, "local", isDriver = true, None) == 8)
    // a driver-only JVM: its own processors, not the executors' cores
    assert(footerPoolSize(16, "spark://m:7077", isDriver = true, Some(4)) == 16)
    assert(footerPoolSize(2, "yarn", isDriver = true, Some(8)) == 2)
    // an executor: min(processors, executor.cores) when set
    assert(footerPoolSize(64, "spark://m:7077", isDriver = false, Some(4)) == 4)
    assert(footerPoolSize(8, "yarn", isDriver = false, Some(16)) == 8)
    assert(footerPoolSize(12, "local-cluster[2,1,1024]", isDriver = false,
      None) == 12)
  }

  test("cached writer session: a temp view registered AFTER the first " +
    "write still resolves, and toggled shuffle partitions get their " +
    "own clone") {
    val root = tmpDir("dw-view")
    val t = LakeTable.create(spark, root,
      spark.range(1).select($"id").schema)
    t.append(spark.range(10).select($"id")) // primes the cached clone
    // the view does not exist in the clone's catalog snapshot — the
    // analyzed-plan planting must make that irrelevant
    spark.range(50).select(($"id" + 100).as("id"))
      .createOrReplaceTempView("dw_late_view")
    t.append(spark.sql("SELECT id FROM dw_late_view WHERE id < 110"))
    assert(t.read().count() == 20)

    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      t.append(spark.range(5).select(($"id" + 1000).as("id")))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(t.read().count() == 25)
  }
}
