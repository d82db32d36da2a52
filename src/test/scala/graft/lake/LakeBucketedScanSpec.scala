package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSuite, Tables}

/** The lake's hash-bucket layout surfaced to Catalyst as a REAL V1
  * `BucketSpec`: new bucketed tables stamp Spark's own bucket hash
  * (`pmod(murmur3(cols, 42), n)` — `HashPartitioning
  * .partitionIdExpression`) and name each data file with the
  * `_NNNNN` bucket suffix `FileSourceScanExec` trusts, so co-bucketed
  * joins and bucket-key aggregations plan with ZERO exchange on the
  * bucketed side(s) — the storage-co-located join, delivered by stock
  * Spark with no custom physical operator. At 100 TB this removes the
  * dominant cost of fact-fact joins (shuffling both sides) whenever
  * the tables were bucketed on the join key at write time. */
class LakeBucketedScanSpec extends SparkSuite {
  import spark.implicits._

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case o                        => o.children
    }
    p +: kids.flatMap(flatten)
  }

  private def executedFlat(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    flatten(df.queryExecution.executedPlan)
  }

  private def shuffles(df: DataFrame): Int =
    executedFlat(df).count(_.isInstanceOf[ShuffleExchangeLike])

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("co-bucketed lake tables join with zero shuffle and match the " +
    "plain join; the layout survives appends and minor compaction") {
    val orders = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val to = LakeTable.create(spark, tmpDir("spj-orders"), orders.schema,
      bucketBy = Some(("o_orderkey", 4)))
    val tl = LakeTable.create(spark, tmpDir("spj-lineitem"),
      lineitem.schema, bucketBy = Some(("l_orderkey", 4)))
    // two appends + a minor compaction on one side: every write path
    // must preserve the name-encoded bucket ids the scan trusts
    to.append(orders)
    tl.append(lineitem.filter($"l_orderkey" % 2 === 0))
    tl.append(lineitem.filter($"l_orderkey" % 2 === 1))
    tl.compact(1)

    // manifest-level invariant: every live file's name-encoded bucket
    // id equals its _bucket dir value (what makes the claim sound)
    Seq(to, tl).foreach(_.dataFiles.foreach { f =>
      val segs = f.path.split("/")
      val dirId = segs.collectFirst {
        case s if s.startsWith("_bucket=") => s.split("=")(1).toInt
      }
      assert(org.apache.spark.sql.graft.ManifestScan
        .fileBucketId(segs.last) == dirId, s"name/dir mismatch: ${f.path}")
    })

    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val joined = tl.read()
        .join(to.read(), $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_quantity", $"o_totalprice")
      val nodes = executedFlat(joined)
      assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
        "expected a sort-merge join over the co-bucketed scans")
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "co-bucketed lake join must not shuffle either side:\n" +
          joined.queryExecution.executedPlan)
      // both scans carry the bucket layout
      val scans = nodes.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 2 &&
        scans.forall(_.relation.bucketSpec.exists(_.numBuckets == 4)))
      // and the shuffle-free plan computes exactly the plain result
      val expected = lineitem
        .join(orders, $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"l_quantity", $"o_totalprice")
      assert(joined.collect().toSet == expected.collect().toSet)
    }
  }

  test("bucket-key aggregation over a lake table plans without an " +
    "exchange; a non-key aggregation still shuffles (sanity)") {
    val docs = Tables.load(spark, sf, "orders")
      .select($"o_custkey", $"o_totalprice")
    val t = LakeTable.create(spark, tmpDir("spj-agg"), docs.schema,
      bucketBy = Some(("o_custkey", 4)))
    t.append(docs)
    withConfs(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val agg = t.read().groupBy($"o_custkey")
        .agg(sum($"o_totalprice").as("spend"))
      assert(shuffles(agg) == 0,
        "bucket-key aggregation must reuse the storage partitioning")
      assert(agg.collect().toSet ==
        docs.groupBy($"o_custkey").agg(sum($"o_totalprice").as("spend"))
          .collect().toSet)
      // different grouping key: the layout must NOT be claimed for it
      val other = t.read().groupBy($"o_totalprice").count()
      assert(shuffles(other) > 0)
    }
  }

  test("bucketed vs unbucketed join shuffles exactly the unbucketed " +
    "side into the table's layout") {
    val orders = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    val t = LakeTable.create(spark, tmpDir("spj-one-side"), orders.schema,
      bucketBy = Some(("o_orderkey", 4)))
    t.append(orders)
    val lineitem = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val joined = t.read()
        .join(lineitem, $"o_orderkey" === $"l_orderkey")
      assert(shuffles(joined) == 1,
        "exactly the unbucketed side should shuffle:\n" +
          joined.queryExecution.executedPlan)
    }
  }

  test("driver-side bucketIdOf equals Spark's partitioning for the " +
    "default stamp, single and composite keys, including nulls") {
    val t = LakeTable.create(spark, tmpDir("spj-ids"), StructType(Seq(
      StructField("fp", StringType), StructField("doc_id", LongType))),
      bucketBy = Some(("fp", 16)))
    t.append(((0 until 100).map(i => (s"fp-$i", i.toLong)) :+
      (null.asInstanceOf[String], -1L)).toDF("fp", "doc_id"))
    t.read().select("fp", "_bucket").as[(String, Int)].collect()
      .foreach { case (fp, b) =>
        assert(t.bucketIdOf(fp) == b, s"fp=$fp")
      }
    val c = LakeTable.create(spark, tmpDir("spj-ids2"), StructType(Seq(
      StructField("ty", StringType), StructField("uid", LongType),
      StructField("n", LongType))),
      bucketBy = Some(("ty,uid", 8)))
    c.append((for (ty <- Seq("a", "b", "c"); u <- 0L until 20L)
      yield (ty, u, 1L)).toDF("ty", "uid", "n"))
    c.read().select("ty", "uid", "_bucket").as[(String, Long, Int)]
      .collect().foreach { case (ty, u, b) =>
        assert(c.bucketIdOfKey(Seq(ty, u)) == b, s"key=($ty,$u)")
      }
    // Spark's bucket hash is the only family: any other is rejected
    val err = intercept[IllegalArgumentException](LakeTable.create(spark,
      tmpDir("spj-xx"), StructType(Seq(StructField("fp", StringType))),
      properties = Map(LakeTable.BucketHashProp -> "xxhash64"),
      bucketBy = Some(("fp", 8))))
    assert(err.getMessage.contains("xxhash64"), err.getMessage)
  }
}
