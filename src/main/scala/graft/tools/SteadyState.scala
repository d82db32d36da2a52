package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{LocalSpark, Tables}
import graft.lake.LakeTable
import graft.streaming.MVManager

/** Steady-state marginal cost of the continuous loops (VERDICT r06
  * item 5): the graded one-shots (q85/q87/q92/q90) are startup-
  * dominated — 2 streaming-query startups + exactly-once commits per
  * run — while the production claim is about batch N at large N. This
  * harness starts each loop ONCE (ProcessingTime trigger) and feeds it
  * ~20 micro-batches in a single session, recording per-batch
  * append-to-commit latency; flat batch-10..20 vs batch-2 cost (on a
  * growing index/out/MV table) is the steady-state proof, and any
  * superlinear trend is the thing to root-cause. Per-batch latency
  * includes up to one trigger interval of polling slack — constant
  * across batches, so the TREND is unaffected. */
object SteadyState {
  private val Batches = 20

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val dir = java.nio.file.Files.createTempDirectory("steady")
    val trigger = Trigger.ProcessingTime("100 milliseconds")

    def report(tag: String, secs: Seq[Double]): Unit = {
      val s = secs.map(x => f"$x%5.2f").mkString(" ")
      val early = secs(1)
      val late = secs.drop(9).sorted.apply(secs.drop(9).length / 2)
      println(f"[steady] $tag%-12s per-batch: $s")
      println(f"[steady] $tag%-12s batch2 $early%5.2f s  " +
        f"median(b10..b${Batches}) $late%5.2f s  ratio ${late / early}%4.2f")
    }

    /** Feed `slices` one at a time into `src`, waiting for `donePoll`
      * to reach each batch's commit before the next append. */
    def drive(tag: String, src: LakeTable, slices: Seq[DataFrame],
              donePoll: () => Int): Seq[Double] = {
      val secs = slices.zipWithIndex.map { case (slice, i) =>
        val before = donePoll()
        val t0 = System.nanoTime()
        src.append(slice)
        while (donePoll() <= before) Thread.sleep(10)
        (System.nanoTime() - t0) / 1e9
      }
      report(tag, secs)
      secs
    }

    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    def docSlices: Seq[DataFrame] =
      (0 until Batches).map(i => docs.filter(col("doc_id") % Batches === i))

    // ---- q85 shape: exact-dedup curation loop -----------------------
    locally {
      val src = LakeTable.create(spark, s"$dir/ex-src", docs.schema)
      val index = LakeTable.create(spark, s"$dir/ex-idx",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType))),
        properties = LakeTable.autoCompactProps(32, Some("fp")),
        bucketBy = Some(("fp", 32)))
      val out = LakeTable.create(spark, s"$dir/ex-out", docs.schema)
      val mv = new MVManager(spark, s"$dir/ex-ckpt")
      val q = mv.startCurationFromLake("ex", src, index, out,
        trigger = trigger)
      drive("exact", src, docSlices, () => index.dataCommitCount)
      q.stop()
    }

    // ---- q87 shape: near-dup curation loop with postings ------------
    locally {
      import graft.operators.DedupOps
      val src = LakeTable.create(spark, s"$dir/nd-src", docs.schema)
      val index = LakeTable.create(spark, s"$dir/nd-idx",
        MVManager.curationIndexSchema,
        properties = LakeTable.autoCompactProps(32, Some("fp")),
        bucketBy = Some(("fp", 32)))
      val postings = LakeTable.create(spark, s"$dir/nd-post",
        DedupOps.bandPostingsSchema,
        properties = LakeTable.autoCompactProps(32, Some("pbh")) ++
          DedupOps.bandPostingsProps(),
        bucketBy = Some(("pbh", 32)))
      val out = LakeTable.create(spark, s"$dir/nd-out", docs.schema)
      val mv = new MVManager(spark, s"$dir/nd-ckpt")
      val q = mv.startCurationFromLake("nd", src, index, out,
        nearDupMinJaccard = Some(0.5), trigger = trigger,
        postings = Some(postings))
      drive("neardup", src, docSlices, () => index.dataCommitCount)
      q.stop()
    }

    // ---- q92 shape: embedding curation loop with postings -----------
    locally {
      import graft.operators.SimilarityOps
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding").localCheckpoint()
      val src = LakeTable.create(spark, s"$dir/em-src", emb.schema)
      val index = LakeTable.create(spark, s"$dir/em-idx", emb.schema,
        properties = LakeTable.autoCompactProps(32, Some("vec_id")),
        bucketBy = Some(("vec_id", 32)))
      val postings = LakeTable.create(spark, s"$dir/em-post",
        SimilarityOps.srpPostingsSchema,
        properties = LakeTable.autoCompactProps(32, Some("pbh")) ++
          SimilarityOps.srpPostingsProps(),
        bucketBy = Some(("pbh", 32)))
      val out = LakeTable.create(spark, s"$dir/em-out", emb.schema)
      val mv = new MVManager(spark, s"$dir/em-ckpt")
      val q = mv.startEmbeddingCurationFromLake("em", src, index, out,
        threshold = 0.35, trigger = trigger, postings = Some(postings))
      val slices = (0 until Batches).map(i =>
        emb.filter(col("vec_id") % Batches === i))
      drive("embedding", src, slices, () => index.dataCommitCount)
      q.stop()
    }

    // ---- q90 shape: incrementally-maintained aggregate MV -----------
    locally {
      import org.apache.spark.sql.types._
      val ev = Tables.load(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .localCheckpoint()
      val srcDir = s"$dir/ag-src"
      // the file source requires the path to exist at plan time: seed
      // it with batch 0 before starting the query
      ev.filter(col("event_id") % Batches === 0).coalesce(1)
        .write.mode("append").parquet(srcDir)
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .groupBy(col("event_type"),
          pmod(col("user_id"), lit(10)).as("uid_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      val table = LakeTable.create(spark, s"$dir/ag-mv", StructType(Seq(
        StructField("event_type", StringType),
        StructField("uid_bucket", LongType),
        StructField("n", LongType),
        StructField("sum_value", DoubleType))),
        bucketBy = Some(("event_type,uid_bucket", 8)))
      val mv = new MVManager(spark, s"$dir/ag-ckpt")
      val q = mv.startAggregateToLake("ag", stream, table,
        Seq("event_type", "uid_bucket"), trigger = trigger)
      while (table.dataCommitCount < 2) Thread.sleep(10) // batch 0 lands
      val secs = (1 until Batches).map { i =>
        val before = table.dataCommitCount
        val t0 = System.nanoTime()
        ev.filter(col("event_id") % Batches === i).coalesce(1)
          .write.mode("append").parquet(srcDir)
        while (table.dataCommitCount <= before) Thread.sleep(10)
        (System.nanoTime() - t0) / 1e9
      }
      report("agg-mv", secs)
      q.stop()
    }
    spark.stop()
  }
}
