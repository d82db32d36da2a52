package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Metadata tables (`LakeTable.meta`): the lake's own state as
  * DataFrames, served entirely from snapshot metadata — partition
  * row counts from manifest stats, derived per-snapshot operations,
  * refs, manifests, and metadata time travel. */
class MetaTablesSpec extends SparkSuite {
  import spark.implicits._

  test("partitions: per-partition file/row totals from manifest stats " +
    "match the data exactly") {
    val df = (0 until 300).map(i => (i.toLong, s"d-$i", Seq("a", "b", "c")(i % 3)))
      .toDF("id", "payload", "grp")
    val t = LakeTable.create(spark, tmpDir("meta-part"), df.schema,
      partitionBy = Seq("grp"))
    t.append(df.repartition(4))
    t.append(df.filter($"grp" =!= "c").withColumn("id", $"id" + 1000L))

    val parts = t.meta("partitions")
      .select($"partition", $"row_count").as[(String, Long)]
      .collect().toMap
    assert(parts == Map("grp=a" -> 200L, "grp=b" -> 200L, "grp=c" -> 100L))

    // files roll up to the same totals, and every path sits in its dir
    val files = t.meta("files").collect()
    assert(files.map(_.getAs[Long]("rows")).sum == 500L)
    files.foreach { r =>
      assert(r.getAs[String]("path")
        .contains(r.getAs[String]("partition") + "/"))
    }
    // metadata only: no partition dir is listed, no data file opened —
    // the plan is a LocalRelation-backed frame, not a scan
    assert(!t.meta("partitions").queryExecution.executedPlan.toString
      .contains("FileScan"))
  }

  test("snapshots: operation derived per retained version across the " +
    "whole commit vocabulary") {
    val df = (0 until 200).map(i => (i.toLong, s"p-$i", i % 5))
      .toDF("id", "payload", "grp")
    val t = LakeTable.create(spark, tmpDir("meta-snap"), df.schema)
    t.append(df.repartition(4)) // v1 append
    t.append(df.withColumn("id", $"id" + 1000L)) // v2 append
    t.compact(1) // v3 replace
    t.deleteWhere($"grp" === 4) // v4 copy-on-write delete
    t.deleteWhereEqual(Seq(3L).toDF("id"), Seq("id")) // v5 MOR delete
    t.upsertMor(df.filter($"grp" === 1).withColumn("payload", lit("u")),
      Seq("id")) // v6 MOR overwrite
    t.updateProperties(Map("commit.retries" -> "5")) // v7 alter

    val ops = t.meta("snapshots")
      .select($"version", $"operation").as[(Int, String)]
      .collect().toMap
    assert(ops(0) == "create")
    assert(ops(1) == "append" && ops(2) == "append")
    assert(ops(3) == "replace")
    assert(ops(4) == "delete")
    assert(ops(5) == "delete")
    assert(ops(6) == "overwrite")
    assert(ops(7) == "alter")

    // row/file counters agree with SnapshotInfo's referenced totals
    val s = t.meta("snapshots").filter($"version" === 2).head()
    assert(s.getAs[Long]("rows") == 400L)
    assert(s.getAs[Int]("num_delete_files") == 0)
    val s6 = t.meta("snapshots").filter($"version" === 6).head()
    assert(s6.getAs[Int]("num_delete_files") > 0)
  }

  test("snapshots: operation is STAMPED at commit, not re-derived — " +
    "labels stay precise after the predecessor is expired, and a " +
    "rollback is named as such") {
    val df = (0 until 100).map(i => (i.toLong, s"p-$i")).toDF("id", "payload")
    val t = LakeTable.create(spark, tmpDir("meta-stamp"), df.schema)
    t.append(df) // v1
    t.append(df.withColumn("id", $"id" + 1000L)) // v2
    t.deleteWhere($"id" < 10L) // v3 CoW delete
    t.rollbackTo(2) // v4
    // expire everything below the delete: v3's predecessor is gone,
    // and the commit-time stamp still answers exactly — proving
    // meta("snapshots") reads the stamp and never opens the
    // predecessor's file list
    t.expireSnapshots(keepLast = 2)
    val ops = t.meta("snapshots")
      .select($"version", $"operation").as[(Int, String)]
      .collect().toMap
    assert(ops == Map(3 -> "delete", 4 -> "rollback"))
  }

  test("refs lists main, tags, and a staging WAP branch; delete_files " +
    "and manifests reflect merge-on-read state") {
    val df = (0 until 100).map(i => (i.toLong, i % 5)).toDF("id", "grp")
    val t = LakeTable.create(spark, tmpDir("meta-refs"), df.schema)
    t.append(df)
    t.createTag("run-1")
    t.deleteWhereEqual(Seq(7L, 8L).toDF("id"), Seq("id"))
    t.createBranch("audit")

    val refs = t.meta("refs")
      .select($"name", $"type", $"version").as[(String, String, Int)]
      .collect().toSet
    assert(refs.contains(("run-1", "tag", 1)))
    assert(refs.exists { case (n, ty, _) => n == "audit" && ty == "wap-branch" })
    assert(refs.exists(_._2 == "branch")) // main
    t.publishBranch("audit")

    val dels = t.meta("delete_files").collect()
    assert(dels.length == 1)
    assert(dels.head.getAs[String]("kind") == "eq")
    assert(dels.head.getAs[String]("key_cols") == "id")
    assert(dels.head.getAs[Long]("rows") == 2L)

    val mans = t.meta("manifests")
      .select($"kind").as[String].collect()
    assert(mans.contains("data") && mans.contains("delete"))
  }

  test("metadata time travel: meta(kind, version) answers as of that " +
    "snapshot; unknown kinds are loud") {
    val df = (0 until 60).map(i => (i.toLong, i % 3)).toDF("id", "grp")
    val t = LakeTable.create(spark, tmpDir("meta-tt"), df.schema)
    t.append(df) // v1
    t.append(df.withColumn("id", $"id" + 100L)) // v2
    assert(t.meta("files", 1).count() < t.meta("files", 2).count() ||
      t.meta("files", 1).agg(sum($"rows")).head().getLong(0) == 60L)
    assert(t.meta("files", 1).agg(sum($"rows")).head().getLong(0) == 60L)
    assert(t.meta("files", 2).agg(sum($"rows")).head().getLong(0) == 120L)
    val e = intercept[IllegalArgumentException](t.meta("nope"))
    assert(e.getMessage.contains("unknown metadata table"))
  }
}
