package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{LocalSpark, Tables}
import graft.lake.{LakeCatalog, LakeTable}

/** Scale evidence for the r15 streaming changelog
  * (`readStream.table("cat.ns.t.changes")`): the 100 TB claim is that
  * a DELTA batch costs O(the commit's own delta), not O(table) — the
  * per-commit decomposition plans reads only of files the commits
  * touched, and the manifest-stats key prune keeps an equality-delete
  * batch to the files that can hold the keys.
  *
  * Method: tables at 1x/4x/16x growth built from DISJOINT id-shifted
  * copies of the events corpus (growth adds NEW id ranges — the 100 TB
  * axis: history accumulates elsewhere, the forget stays local),
  * range-clustered on the forget key (`compactSorted(event_id)`;
  * file count grows 16 -> 256 with size). At each size a changes
  * stream consumes the snapshot once (reported — the honest term
  * that grows with data), then three rounds of a CONSTANT delta: an
  * equality-delete of 500 range-local event ids (from copy 0, present
  * at every size) plus a 2,000-row append land on the source, and one
  * AvailableNow trigger mirrors both commits (2,500 delta rows per
  * round at every size). Also probed: the planner's GROWTH-file count
  * for the delete commit (planInputPartitions, the prune's direct
  * observable). Claim: delta seconds AND growth files stay FLAT
  * across the 16x table growth; only the snapshot batch grows. */
object ChangesScale {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val wh = java.nio.file.Files.createTempDirectory("chscale").toString
    spark.conf.set("spark.sql.catalog.chs", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.chs.warehouse", wh)
    val lakeCat = new LakeCatalog(spark, wh)

    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .localCheckpoint()
    println(s"[chscale] events ${ev.count()} rows, $sfDir")
    // the forget rosters: 500 RANGE-LOCAL ids per round, from the 1x
    // subset (event_id % 16 == 0 nests inside every frac subset)
    val rosterPool = ev.select("event_id").orderBy("event_id")
      .limit(2000).collect().map(_.getLong(0))
    val maxId = 17000000L // above every shifted copy's range
    println("[chscale] size  rows      files  snapshot(s)  " +
      "delta(s)min3  deltaRows/round  grewFiles")

    for (frac <- Seq(16, 4, 1)) {
      val copies = 16 / frac
      val rows = (0 until copies).map(k =>
        ev.withColumn("event_id", col("event_id") + lit(k * 1000000L)))
        .reduce(_ unionByName _)
      val t = lakeCat.createTable("s", s"t$frac", ev.schema,
        Map.empty)
      t.append(rows)
      t.compactSorted(16 * copies, Seq("event_id"))
      val n = t.read().count()
      val files0 = t.dataFiles.size

      val ckpt = java.nio.file.Files
        .createTempDirectory(s"chscale-ckpt$frac").toString
      val batchRows = new java.util.concurrent.atomic.AtomicLong
      val fn: (DataFrame, Long) => Unit =
        (b, _) => { batchRows.addAndGet(b.count()); () }
      def run(): Double = {
        val t0 = System.nanoTime()
        val q = spark.readStream.table(s"chs.s.t$frac.changes")
          .writeStream.foreachBatch(fn)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      val snapshotS = run()
      val sp = spark
      import sp.implicits._
      var grewFiles = -1
      val deltas = (0 until 3).map { r =>
        batchRows.set(0L)
        val roster = rosterPool.slice(500 * r, 500 * (r + 1))
        t.deleteWhereEqual(roster.toSeq.toDF("event_id"),
          Seq("event_id"))
        val vDel = t.currentVersion
        // planner probe: how many growth files does the delete
        // commit's batch actually read?
        val probe = new graft.sources.GraftLakeChangesMicroBatchStream(
          t, graft.sources.GraftLakeChangesMicroBatchStream
            .schemaFor(t.schema), Map.empty, None)
        grewFiles = probe.planInputPartitions(
          graft.sources.LakeLogOffset(vDel - 1),
          graft.sources.LakeLogOffset(vDel)).length
        t.append((0 until 2000).map(i =>
          (maxId + 1 + r * 10000L + i, 7L, "replay", 1.0))
          .toDF("event_id", "user_id", "event_type", "value"))
        run()
      }
      println(f"[chscale] 1/$frac%-4d $n%-9d $files0%-6d " +
        f"$snapshotS%-12.2f ${deltas.min}%-13.2f " +
        f"${batchRows.get()}%-16d $grewFiles")

      // OVER-BOUND round (r16): the same constant delta consumed by a
      // stream whose maxMorRowsPerBatch is below the delete size, so
      // the batch plans through the DISTRIBUTED per-commit changelog
      // into checkpoint scratch instead of the broadcast fast path —
      // the wide-purge shape. Claim: it completes at every size, rows
      // exact, and its seconds stay O(delta) across the 16x growth.
      if (frac >= 0) {
        val ckptOb = java.nio.file.Files
          .createTempDirectory(s"chscale-ob$frac").toString
        val obRows = new java.util.concurrent.atomic.AtomicLong
        val obTypes = new java.util.concurrent.atomic.AtomicLong
        val obFn: (DataFrame, Long) => Unit = (b, _) => {
          obRows.addAndGet(b.count())
          obTypes.addAndGet(b.filter(col("_change_type")
            .isin("delete", "update_preimage")).count()); ()
        }
        def runOb(opts: Map[String, String]): Double = {
          val t0 = System.nanoTime()
          var r = spark.readStream
          opts.foreach { case (k, v) => r = r.option(k, v) }
          val q = r.table(s"chs.s.t$frac.changes")
            .writeStream.foreachBatch(obFn)
            .option("checkpointLocation", ckptOb)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          (System.nanoTime() - t0) / 1e9
        }
        runOb(Map.empty) // snapshot (broadcast path, already measured)
        obRows.set(0L); obTypes.set(0L)
        val roster2 = rosterPool.slice(1500, 2000)
        t.deleteWhereEqual(roster2.toSeq.toDF("event_id"),
          Seq("event_id"))
        t.append((0 until 2000).map(i =>
          (maxId + 500000L + i, 7L, "ob", 1.0))
          .toDF("event_id", "user_id", "event_type", "value"))
        val obS = runOb(Map("maxMorRowsPerBatch" -> "1"))
        println(f"[chscale]   over-bound delta 1/$frac%-4d " +
          f"$obS%-8.2f s  rows ${obRows.get()}%-6d " +
          f"deletes ${obTypes.get()}")
      }
    }
    spark.stop()
  }
}
