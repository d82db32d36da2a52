package graft.lake

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

class LakeTableSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(name: String, schema: StructType): LakeTable =
    LakeTable.create(spark, tmpDir(name), schema)

  private val abSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType)))

  test("CHECK constraints: violating appends and upserts fail atomically " +
    "before any commit, NULL passes, rewrites stay exempt") {
    val t = LakeTable.create(spark, tmpDir("constraints"), abSchema,
      properties = Map(
        "constraint.a_positive" -> "a > 0",
        "constraint.b_present" -> "b IS NOT NULL"))
    t.append(Seq((1L, "x"), (2L, "y")).toDF("a", "b"))
    assert(t.read().count() == 2)
    // a violating batch fails with the constraint named, commits NOTHING
    val before = t.currentVersion
    val bad = intercept[Exception] {
      t.append(Seq((3L, "ok"), (-1L, "bad")).toDF("a", "b"))
    }
    assert(bad.getMessage.contains("a_positive"),
      s"message was ${bad.getMessage}")
    assert(t.currentVersion == before, "a violating append committed")
    assert(t.read().count() == 2)
    // NULL check result passes (SQL CHECK semantics): a > 0 over a
    // null a is UNKNOWN, not a violation
    t.append(Seq(Tuple2[java.lang.Long, String](null, "z")).toDF("a", "b"))
    assert(t.read().count() == 3)
    // but an explicit IS NOT NULL constraint rejects nulls
    val nb = intercept[Exception] {
      t.append(Seq((4L, null.asInstanceOf[String])).toDF("a", "b"))
    }
    assert(nb.getMessage.contains("b_present"))
    // upsert enforces on the incoming source rows
    val ub = intercept[Exception] {
      t.upsert(Seq((-5L, "u")).toDF("a", "b"), Seq("a"))
    }
    assert(ub.getMessage.contains("a_positive"))
    t.upsert(Seq((1L, "x2")).toDF("a", "b"), Seq("a"))
    assert(t.read().filter($"a" === 1L).select("b").as[String]
      .head() == "x2")
    // exactly-once append enforces too
    val eb = intercept[Exception] {
      t.appendExactlyOnce(Seq((-9L, "e")).toDF("a", "b"), "w1", 0L)
    }
    assert(eb.getMessage.contains("a_positive"))
    // a constraint ADDED LATER (updateProperties = ALTER TABLE SET
    // TBLPROPERTIES) binds new writes but grandfathers legacy rows:
    // compaction must keep moving them
    val t2 = LakeTable.create(spark, tmpDir("constraints2"), abSchema)
    t2.append(Seq(Tuple2[java.lang.Long, String](null, "legacy"))
      .toDF("a", "b"))
    t2.append(Seq((1L, "x")).toDF("a", "b"))
    t2.updateProperties(Map("constraint.a_set" -> "a IS NOT NULL"))
    assert(t2.properties.get("constraint.a_set").contains("a IS NOT NULL"))
    val lb = intercept[Exception] {
      t2.append(Seq(Tuple2[java.lang.Long, String](null, "new"))
        .toDF("a", "b"))
    }
    assert(lb.getMessage.contains("a_set"))
    t2.compact(1) // must not throw: maintenance moves existing rows
    assert(t2.read().count() == 2)
    // and UNSET lifts the constraint again
    t2.updateProperties(Map.empty, removals = Set("constraint.a_set"))
    t2.append(Seq(Tuple2[java.lang.Long, String](null, "ok"))
      .toDF("a", "b"))
    assert(t2.read().count() == 3)
  }

  test("create + append + read roundtrip") {
    val t = freshTable("rt", abSchema)
    assert(t.currentVersion == 0)
    t.append(Seq((1L, "x"), (2L, "y")).toDF("a", "b"))
    t.append(Seq((3L, "z")).toDF("a", "b"))
    assert(t.currentVersion == 2)
    assert(t.read().count() == 3)
    assert(t.read().agg(sum("a")).as[Long].head() == 6L)
    assert(t.fieldIds == Map("a" -> 1, "b" -> 2))
  }

  test("time travel reads historical snapshots") {
    val t = freshTable("tt", abSchema)
    t.append(Seq((1L, "x")).toDF("a", "b"))
    Thread.sleep(5) // distinct commit timestamps for the as-of checks
    t.append(Seq((2L, "y")).toDF("a", "b"))
    assert(t.readVersion(0).count() == 0)
    assert(t.readVersion(1).count() == 1)
    assert(t.readVersion(2).count() == 2)
    assert(t.snapshots.map(_.version) == Seq(0, 1, 2))

    // timestamp time travel: as-of each commit's time sees that state
    val snaps = t.snapshots
    assert(t.readAsOf(snaps(1).committedAtMs).count() == 1)
    assert(t.readAsOf(System.currentTimeMillis() + 1000).count() == 2)
    intercept[IllegalArgumentException] {
      t.readAsOf(snaps.head.committedAtMs - 1)
    }
  }

  test("additive schema evolution: new column gets fresh field id, " +
    "old files read as null") {
    val t = freshTable("evo", abSchema)
    t.append(Seq((1L, "x")).toDF("a", "b"))
    t.append(Seq((2L, "y", 3.5)).toDF("a", "b", "c"))
    val got = t.read().orderBy("a").select("a", "b", "c").collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "y")))
    assert(got(0).isNullAt(2) && got(1).getDouble(2) == 3.5)
    assert(t.fieldIds == Map("a" -> 1, "b" -> 2, "c" -> 3))
    assert(t.schema("c").nullable)
  }

  test("type change on append is rejected") {
    val t = freshTable("tymis", abSchema)
    t.append(Seq((1L, "x")).toDF("a", "b"))
    val e = intercept[IllegalArgumentException] {
      t.append(Seq(("oops", "x")).toDF("a", "b"))
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("appendExactlyOnce is idempotent per batch id") {
    val t = freshTable("eo", abSchema)
    t.appendExactlyOnce(Seq((1L, "x")).toDF("a", "b"), batchId = 0)
    t.appendExactlyOnce(Seq((1L, "dup")).toDF("a", "b"), batchId = 0)
    t.appendExactlyOnce(Seq((2L, "y")).toDF("a", "b"), batchId = 1)
    assert(t.read().count() == 2)
  }

  test("exactly-once survives interleaved plain appends and compaction") {
    val t = freshTable("eo-mix", abSchema)
    t.appendExactlyOnce(Seq((1L, "b0")).toDF("a", "b"), batchId = 0)
    t.append(Seq((50L, "manual")).toDF("a", "b")) // latest appMeta now empty
    t.compact(numFiles = 1)                        // and again after compact
    // replaying an old batch id must STILL be a no-op
    val v = t.currentVersion
    t.appendExactlyOnce(Seq((1L, "dup")).toDF("a", "b"), batchId = 0)
    assert(t.currentVersion == v && t.read().count() == 2)
    assert(t.lastBatchId == 0L)
    // and the next batch id commits normally
    t.appendExactlyOnce(Seq((2L, "b1")).toDF("a", "b"), batchId = 1)
    assert(t.read().count() == 3 && t.lastBatchId == 1L)
  }

  test("exactly-once is per writer: two writers' batch ids are independent") {
    val t = freshTable("eo-writers", abSchema)
    t.appendExactlyOnce(Seq((1L, "w1b0")).toDF("a", "b"), "writerA", 0)
    // a DIFFERENT writer's batch 0 must commit, not be suppressed
    t.appendExactlyOnce(Seq((2L, "w2b0")).toDF("a", "b"), "writerB", 0)
    assert(t.read().count() == 2)
    // each writer's own replay is still a no-op
    t.appendExactlyOnce(Seq((1L, "dup")).toDF("a", "b"), "writerA", 0)
    t.appendExactlyOnce(Seq((2L, "dup")).toDF("a", "b"), "writerB", 0)
    assert(t.read().count() == 2)
    assert(t.lastBatchId("writerA") == 0 && t.lastBatchId("writerB") == 0)
    // a restarted-from-fresh-checkpoint query = new writer id: its
    // batch 0 is NOT dropped against the old writer's high-water mark
    t.appendExactlyOnce(Seq((3L, "restart")).toDF("a", "b"), "writerA2", 0)
    assert(t.read().count() == 3)
  }

  test("type widening on append: int->long and float->double, " +
    "old narrow files stay readable") {
    val t = freshTable("widen", StructType(Seq(
      StructField("k", IntegerType), StructField("x", FloatType))))
    t.append(Seq((1, 1.5f)).toDF("k", "x"))
    // wider append widens the table schema, keeps field ids
    t.append(Seq((2L, 2.5d)).toDF("k", "x"))
    assert(t.schema("k").dataType == LongType)
    assert(t.schema("x").dataType == DoubleType)
    assert(t.fieldIds == Map("k" -> 1, "x" -> 2))
    // both the pre-widening int32/float file and the new long/double
    // file read back under the widened schema
    val got = t.read().orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5))
    // a later NARROW append is also fine (reader upcasts its file)
    t.append(Seq((3, 3.5f)).toDF("k", "x"))
    assert(t.read().count() == 3)
    assert(t.read().agg(sum("k")).as[Long].head() == 6L)
    // incompatible change still rejected
    intercept[IllegalArgumentException] {
      t.append(Seq(("oops", 1.0)).toDF("k", "x"))
    }
  }

  test("rollbackTo restores an old snapshot's state as a NEW commit: " +
    "history preserved, exactly-once marks carried forward, restored " +
    "files safe from vacuum") {
    val t = freshTable("rollback", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    t.appendExactlyOnce(Seq((1L, 1.0)).toDF("id", "v"), "w", 0L)
    val vGood = t.currentVersion
    t.appendExactlyOnce(Seq((2L, 2.0)).toDF("id", "v"), "w", 1L)
    val vBad = t.currentVersion
    val rolled = t.rollbackTo(vGood)
    assert(rolled > vBad, "rollback is a NEW commit, not a reset")
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    // history preserved: the undone snapshot still time-travels
    assert(t.readVersion(vBad).count() == 2)
    // delivery-dedup state carries FORWARD: a replay of the rolled-
    // back batch stays suppressed (rollback undoes data, not dedup)
    val v = t.currentVersion
    t.appendExactlyOnce(Seq((2L, 2.0)).toDF("id", "v"), "w", 1L)
    assert(t.currentVersion == v)
    assert(t.read().count() == 1)
    // the table keeps moving forward on the restored state
    t.appendExactlyOnce(Seq((3L, 3.0)).toDF("id", "v"), "w", 2L)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // vacuum keeps every retained-snapshot reference, restored or not
    assert(t.vacuum() == 0)
    assert(t.readVersion(vBad).count() == 2)
    // rolling back to an EXPIRED snapshot fails with the retention
    // contract
    (1 to 6).foreach(i =>
      t.append(Seq((100L + i, 0.0)).toDF("id", "v")))
    t.expireSnapshots(keepLast = 2)
    intercept[IllegalStateException](t.rollbackTo(vGood))
  }

  test("rollback racing an append: restore-wins semantics, the racer's " +
    "rows stay recoverable through its retained snapshot") {
    val t = freshTable("rollback-race", StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    t.append(Seq((1L, 1.0)).toDF("id", "v"))
    val good = t.currentVersion
    // the racer lands BETWEEN the rollback decision and its commit
    t.append(Seq((2L, 2.0)).toDF("id", "v"))
    val racer = t.currentVersion
    t.rollbackTo(good)
    // restore wins: the racer's rows are out of the live set...
    assert(t.read().select("id").as[Long].collect().toSeq == Seq(1L))
    // ...but nothing is lost: its snapshot still time-travels, and
    // rolling FORWARD to it restores its rows
    assert(t.readVersion(racer).count() == 2)
    t.rollbackTo(racer)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("array-column nullability is a lattice, not a mismatch: " +
    "non-null-element appends land in nullable-element tables and " +
    "vice versa (the DataFrame-literal vs parquet-read-back impedance)") {
    val t = freshTable("arr-nullability", StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false)))))
    // toDF/Encoder arrays are containsNull=false; a parquet read-back
    // is containsNull=true — both must append into the same table
    t.append(Seq((1L, Seq(1f, 2f))).toDF("id", "v"))
    val nullable = Seq((2L, Seq(3f, 4f))).toDF("id", "v")
      .select(col("id"),
        col("v").cast(ArrayType(FloatType, containsNull = true)).as("v"))
    t.append(nullable) // widens the table's element nullability
    assert(t.schema("v").dataType ==
      ArrayType(FloatType, containsNull = true))
    t.append(Seq((3L, Seq(5f))).toDF("id", "v")) // narrow again: fine
    assert(t.read().count() == 3)
    // element TYPE widening composes with the nullability lattice
    val doubles = Seq((4L, Seq(6.5d))).toDF("id", "v")
    t.append(doubles)
    assert(t.schema("v").dataType ==
      ArrayType(DoubleType, containsNull = true))
    assert(t.read().selectExpr("sum(v[0])").as[Double].head() == 15.5)
  }

  test("rename keeps the field ID: old files serve data under the " +
    "new name") {
    val t = freshTable("rename", abSchema)
    t.append(Seq((1L, "one"), (2L, "two")).toDF("a", "b"))
    val idsBefore = t.fieldIds
    t.renameColumn("b", "label")
    assert(t.schema.fieldNames.toSeq == Seq("a", "label"))
    // identity preserved: same ID under the new name — NOT drop+add
    assert(t.fieldIds("label") == idsBefore("b"))
    // the pre-rename file's data surfaces under the new name
    assert(t.read().orderBy("a").select("label").as[String].collect().toSeq
      == Seq("one", "two"))
    // appends under the new name coexist with old files
    t.append(Seq((3L, "three")).toDF("a", "label"))
    assert(t.read().orderBy("a").select("label").as[String].collect().toSeq
      == Seq("one", "two", "three"))
    // time travel to the pre-rename snapshot still shows the old name
    assert(t.readVersion(1).schema.fieldNames.toSeq == Seq("a", "b"))
    assert(t.readVersion(1).select("b").as[String].collect().sorted.toSeq
      == Seq("one", "two"))
    // guard rails
    intercept[IllegalArgumentException] { t.renameColumn("missing", "x") }
    intercept[IllegalArgumentException] { t.renameColumn("a", "label") }
  }

  test("drop retires the field ID: re-added same-named column never " +
    "resurfaces old data") {
    val t = freshTable("drop-readd", abSchema)
    t.append(Seq((1L, "secret1"), (2L, "secret2")).toDF("a", "b"))
    val droppedId = t.fieldIds("b")
    t.dropColumn("b")
    assert(t.schema.fieldNames.toSeq == Seq("a"))
    assert(t.read().columns.toSeq == Seq("a"))
    // re-add b: fresh ID (never reuses the retired one)
    t.append(Seq((3L, "fresh")).toDF("a", "b"))
    assert(t.fieldIds("b") > droppedId, s"${t.fieldIds("b")} vs $droppedId")
    // old files must read b as NULL — their physical 'b' belongs to the
    // retired ID, not the re-added column
    val got = t.read().orderBy("a").select("b").as[Option[String]]
      .collect().toSeq
    assert(got == Seq(None, None, Some("fresh")))
    intercept[IllegalArgumentException] { t.dropColumn("missing") }
  }

  test("rename after widening, then compaction migrates files to " +
    "current naming") {
    val t = freshTable("rename-widen", StructType(Seq(
      StructField("k", IntegerType), StructField("v", FloatType))))
    t.append(Seq((1, 1.5f)).toDF("k", "v"))
    t.append(Seq((2L, 2.5d)).toDF("k", "v")) // widen int->long float->double
    t.renameColumn("v", "value")
    // old narrow file upcast AND renamed by ID in one read
    assert(t.read().orderBy("k").select("value").as[Double].collect().toSeq
      == Seq(1.5, 2.5))
    t.compact(numFiles = 1)
    assert(t.read().orderBy("k").select("value").as[Double].collect().toSeq
      == Seq(1.5, 2.5))
    // compaction rewrote data under the current name: a subsequent
    // rename back still resolves correctly by ID
    t.renameColumn("value", "v2")
    assert(t.read().agg(sum("v2")).as[Double].head() == 4.0)
  }

  test("append evaluates its input exactly once (no count double-pass)") {
    val evals = spark.sparkContext.longAccumulator("evals")
    val df = spark.range(100).mapPartitions { it =>
      it.map { i => evals.add(1); i }
    }.toDF("a").withColumn("b", lit("x"))
    val t = freshTable("once", abSchema)
    t.append(df)
    assert(evals.value == 100L, s"input evaluated ${evals.value / 100.0}x")
    // and the footer-derived per-file row counts are exact
    assert(t.dataFiles.map(_.rows).sum == 100L)
    assert(t.snapshots.last.rows == 100L)
  }

  test("concurrent appends all commit (optimistic retry)") {
    val t = freshTable("conc", abSchema)
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

  test("sorted compaction range-clusters files: per-file key ranges " +
    "are disjoint, content preserved") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val t = freshTable("sorted-compact", abSchema)
    // shuffled appends: every file initially spans the whole key range
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1L to 4000L).toVector)
    ids.grouped(1000).foreach { chunk =>
      t.append(chunk.map(i => (i, s"v$i")).toDF("a", "b").repartition(2))
    }
    t.compactSorted(numFiles = 4, sortBy = Seq("a"))
    assert(t.read().count() == 4000)
    assert(t.read().agg(sum("a")).as[Long].head() == 4000L * 4001 / 2)

    val conf = spark.sessionState.newHadoopConf()
    val ranges = t.dataFiles.map { f =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"${t.root}/${f.path}"), conf)
      val r = ParquetFileReader.open(in)
      try {
        val stats = r.getFooter.getBlocks.asScala.map(
          _.getColumns.asScala.find(_.getPath.toDotString == "a").get
            .getStatistics)
        (stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].toLong).min,
         stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].toLong).max)
      } finally r.close()
    }.sortBy(_._1)
    assert(ranges.size == 4)
    // range clustering: files cover disjoint key ranges, so stats-based
    // skipping prunes selective filters to one file
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: $ranges")
    }
    assert(t.read().filter($"a" === 2026L).select("b").as[String].head()
      == "v2026")
  }

  test("z-order compaction prunes on BOTH dimensions where " +
    "lexicographic sort only serves its leading column") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val schema2 = StructType(Seq(
      StructField("x", LongType), StructField("y", LongType)))
    def grid(): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(11)
      rnd.shuffle(for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
    }
    def colRange(t: LakeTable, f: LakeTable.FileEntry, name: String)
        : (Long, Long) = {
      val conf = spark.sessionState.newHadoopConf()
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"${t.root}/${f.path}"), conf)
      val r = ParquetFileReader.open(in)
      try {
        val st = r.getFooter.getBlocks.asScala.map(
          _.getColumns.asScala.find(_.getPath.toDotString == name).get
            .getStatistics)
        (st.map(_.genericGetMin.asInstanceOf[java.lang.Long].toLong).min,
         st.map(_.genericGetMax.asInstanceOf[java.lang.Long].toLong).max)
      } finally r.close()
    }
    def filesMatching(t: LakeTable, name: String, lo: Long, hi: Long): Int =
      t.dataFiles.count { f =>
        val (mn, mx) = colRange(t, f, name); mx >= lo && mn <= hi
      }

    val lex = LakeTable.create(spark, tmpDir("lex-compact"), schema2)
    lex.append(grid().toDF("x", "y").repartition(4))
    lex.compactSorted(numFiles = 4, sortBy = Seq("x"))

    val zo = LakeTable.create(spark, tmpDir("zo-compact"), schema2)
    zo.append(grid().toDF("x", "y").repartition(4))
    zo.compactZOrder(numFiles = 4, cols = Seq("x", "y"))
    assert(zo.read().count() == 64 * 64)
    assert(zo.read().distinct().count() == 64 * 64)

    // a selective filter on the NON-leading dimension: every lex file
    // spans the full y range, so none can be skipped; z-ordered files
    // cover y sub-ranges, so stats skip at least one
    assert(filesMatching(lex, "y", 0L, 7L) == 4)
    assert(filesMatching(zo, "y", 0L, 7L) < 4)
    // and both layouts still prune on x
    assert(filesMatching(zo, "x", 0L, 7L) < 4)
  }

  test("rename racing concurrent appends loses neither rows nor the " +
    "alter (optimistic re-application)") {
    val t = freshTable("alter-race", abSchema)
    t.append(Seq((0L, "seed")).toDF("a", "b"))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val appends = (1 to 6).map { i =>
      Future(t.append(Seq((i.toLong, s"w$i")).toDF("a", "b")))
    }
    val alter = Future(t.renameColumn("b", "label"))
    Await.result(Future.sequence(appends :+ alter), 120.seconds)
    pool.shutdown()
    assert(t.currentVersion == 8) // seed + 6 appends + 1 alter: none lost
    // the alter survived the race regardless of interleaving...
    assert(t.schema.fieldNames.contains("label"))
    // ...and no append's rows or values were lost. Appends that
    // serialized AFTER the rename legitimately re-introduce 'b' as a
    // fresh-id column (name-based evolution), so each row's payload is
    // in exactly one of label/b — never dropped, never duplicated.
    val payload =
      if (t.schema.fieldNames.contains("b")) "coalesce(label, b)"
      else "label"
    val got = t.read().selectExpr(s"$payload AS v").as[String].collect()
    assert(got.sorted.toSeq ==
      Seq("seed", "w1", "w2", "w3", "w4", "w5", "w6"))
  }

  test("append racing a compaction survives the replace commit") {
    val t = freshTable("race", abSchema)
    (1 to 3).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("a", "b")))
    val base = t.currentVersion
    // the race: a new append lands between compaction's read and commit
    t.append(Seq((99L, "racer")).toDF("a", "b"))
    t.compactFrom(base, numFiles = 1)
    val got = t.read().select("a").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 99L)) // racer NOT lost by the replace
    assert(t.dataFiles.size == 2)       // compacted file + racer's file
  }

  test("compaction rewrites files, preserves content") {
    val t = freshTable("compact", abSchema)
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("a", "b")))
    val before = t.read().orderBy("a").collect().toSeq
    val filesBefore = t.dataFiles.size
    t.compact(numFiles = 1)
    assert(t.dataFiles.size == 1 && filesBefore > 1)
    assert(t.read().orderBy("a").collect().toSeq == before)
  }

  test("edge cases: empty append, evolution mid-pipe, empty-table read") {
    val t = freshTable("edge", abSchema)
    assert(t.read().count() == 0) // empty table reads as empty df
    t.append(Seq.empty[(Long, String)].toDF("a", "b")) // 0-row commit ok
    assert(t.currentVersion == 1 && t.read().count() == 0)
    // evolution through the incremental pipe: new column appears upstream
    val dst = freshTable("edge-dst", abSchema)
    t.append(Seq((1L, "x")).toDF("a", "b"))
    IncrementalPipe.step(t, dst, identity)
    t.append(Seq((2L, "y", 9.0)).toDF("a", "b", "c"))
    IncrementalPipe.step(t, dst, identity)
    assert(dst.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(dst.read().count() == 2)
  }

  test("vacuum removes orphaned files, keeps all snapshot-referenced ones") {
    val t = freshTable("vac", abSchema)
    t.append(Seq((1L, "x")).toDF("a", "b"))
    t.append(Seq((2L, "y")).toDF("a", "b"))
    // simulate a crashed writer: data written, commit never happened
    val orphanDir = java.nio.file.Paths.get(t.root, "data", "batch-orphan")
    java.nio.file.Files.createDirectories(orphanDir)
    java.nio.file.Files.writeString(
      orphanDir.resolve("part-00000-dead.parquet"), "not really parquet")
    val before = t.read().orderBy("a").collect().toSeq
    assert(t.vacuum() == 1)
    assert(t.read().orderBy("a").collect().toSeq == before)
    assert(t.readVersion(1).count() == 1) // time travel still intact
    assert(t.vacuum() == 0) // idempotent
  }

  test("expireSnapshots drops old metadata + newly-orphaned files only") {
    val t = freshTable("expire", abSchema)
    (1 to 4).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("a", "b")))
    t.compact(numFiles = 1) // v5 references ONLY the compacted file
    val (expired, removed) = t.expireSnapshots(keepLast = 1)
    assert(expired == 5)  // v0..v4 gone, only the compacted v5 retained
    assert(removed == 4)  // the 4 pre-compaction batch files orphaned
    assert(t.read().count() == 4) // current data intact
    assert(t.snapshots.map(_.version) == Seq(5))
    intercept[Exception](t.readVersion(1)) // expired version unreadable
    // a further append still commits with contiguous versions
    t.append(Seq((9L, "x")).toDF("a", "b"))
    assert(t.currentVersion == 6 && t.read().count() == 5)
  }

  test("create fails when table exists; load sees committed state") {
    val dir = tmpDir("dup")
    LakeTable.create(spark, dir, abSchema)
      .append(Seq((1L, "x")).toDF("a", "b"))
    intercept[IllegalArgumentException] {
      LakeTable.create(spark, dir, abSchema)
    }
    assert(LakeTable.load(spark, dir).read().count() == 1)
    // a snapshot without a manifest list is not a format this engine
    // reads: loading its files fails, naming the table and the version
    val snapPath = java.nio.file.Paths.get(dir, "metadata", "v00000001.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val snap = om.readTree(java.nio.file.Files.readString(snapPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    snap.remove("manifests")
    java.nio.file.Files.writeString(snapPath, om.writeValueAsString(snap))
    val err = intercept[IllegalStateException](
      LakeTable.load(spark, dir).dataFiles)
    assert(err.getMessage.contains(dir) && err.getMessage.contains("v1 "),
      err.getMessage)
  }

  test("partition types manifest planning does not decode (date) fall " +
    "back to listing-based planning and read identically") {
    val df = Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-02"))
      .toDF("a", "ds").select($"a", to_date($"ds").as("d"))
    val t = LakeTable.create(spark, tmpDir("date-part"), df.schema,
      partitionBy = Seq("d"))
    t.append(df)
    assert(t.dataFiles.nonEmpty && t.dataFiles.forall(_.sizeBytes > 0L))
    import org.apache.spark.sql.execution.FileSourceScanExec
    val read = t.read()
    assert(read.as[(Long, java.sql.Date)].collect().toSet ==
      df.as[(Long, java.sql.Date)].collect().toSet)
    val locs = read.queryExecution.executedPlan.collect {
      case sc: FileSourceScanExec => sc.relation.location.getClass.getName
    }
    assert(locs.nonEmpty && !locs.exists(_.contains("ManifestScan")),
      s"expected listing-based fallback, got $locs")
  }

  test("many-file commits collect footer stats on executors: a " +
    "40-file append carries the same manifest metadata as small " +
    "driver-side commits") {
    val t = freshTable("dist-footer", abSchema)
    t.append((0L until 400L).map(i => (i, s"v$i")).toDF("a", "b")
      .repartition(40))
    val files = t.dataFiles
    assert(files.size >= 32, s"need the distributed path: ${files.size}")
    // every entry carries exact rows, sizes, and prunable stats
    assert(files.map(_.rows).sum == 400L)
    assert(files.forall(_.sizeBytes > 0L))
    assert(files.forall(_.modTimeMs > 0L))
    assert(files.forall(_.stats.contains("a")))
    // the stats actually prune: a selective read touches fewer files
    val probed = t.readWhere(col("a") === 7L)
    assert(probed.select("a").as[Long].collect().toSeq == Seq(7L))
    assert(probed.inputFiles.length < files.size)
  }
}
