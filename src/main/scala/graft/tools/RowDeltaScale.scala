package graft.tools

import org.apache.spark.sql.functions._

import graft.{LocalSpark, Tables}
import graft.lake.LakeTable

/** Scale evidence for the r13 row-level delta path (SQL UPDATE /
  * MERGE): the 100 TB claim is that a MERGE-ON-READ update of K rows
  * costs O(K) — independent of TABLE size — while COPY-ON-WRITE cost
  * tracks the affected files, and the read-side anti-join debt of one
  * outstanding delta is bounded.
  *
  * Method: lineitem subsets at 1x/4x/16x growth (same file-size
  * policy), a FIXED ~1k-row keyed slice updated at each size through
  * `readWithRowCoords` + `applyRowDelta` (exactly the SQL path's
  * machinery, minus parser noise), min-of-3 within one JVM. Reported
  * per size: MOR update seconds, post-update full-scan aggregate
  * seconds (the anti-join debt), CoW update seconds + files rewritten.
  * Claims: the MOR column stays FLAT across the 16x growth (scan
  * pruning finds the slice's files by manifest range stats; the
  * commit is O(slice)); CoW grows only with the affected file count.
  */
object RowDeltaScale {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val dir = java.nio.file.Files.createTempDirectory("rdscale")

    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice")
      .localCheckpoint()
    val total = li.count()
    println(s"[rdscale] lineitem $total rows, $sfDir")
    println("[rdscale] size  rows     files  morUpd(s)  scanAfter(s)  " +
      "cowUpd(s)  cowFiles")

    def minOf3(f: () => Unit): Double =
      (0 until 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min

    for (frac <- Seq(16, 4, 1)) {
      val rows = li.filter(col("l_orderkey") % frac === 0L)
      val n = rows.count()
      // several appends -> a multi-file layout with disjoint ranges
      val t = LakeTable.create(spark, s"$dir/t$frac", rows.schema)
      (0 until 8).foreach(b =>
        t.append(rows.filter(col("l_orderkey") % 8 === b)))
      val files0 = t.dataFiles.size
      // the FIXED slice: ~1k rows by a key range, same at every size
      val lo = 1L
      val hi = 1600L
      def slice = col("l_orderkey").between(lo, hi)

      // MOR update, min-of-3 (each run re-scans + commits; version
      // grows, positions re-resolve — the steady-state CDC shape)
      val morS = minOf3 { () =>
        val c = t.readWithRowCoords(Some(slice)).localCheckpoint()
        t.applyRowDelta(
          c.select(LakeTable.RowFileCol, LakeTable.RowPosCol),
          c.select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), (col("l_extendedprice") * 1.0)
              .as("l_extendedprice")))
      }
      // read-side anti-join debt with the outstanding deltas live
      val scanS = minOf3 { () =>
        t.read().agg(sum("l_quantity")).collect(); ()
      }
      // CoW update of the same slice
      var cowFiles = 0
      val cowS = minOf3 { () =>
        val c = t.readWithRowCoords(Some(slice)).localCheckpoint()
        val d = c.select(LakeTable.RowFileCol, LakeTable.RowPosCol)
        cowFiles = d.select(LakeTable.RowFileCol).distinct()
          .collect().length
        t.applyRowDelta(d,
          c.select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), (col("l_extendedprice") * 1.0)
              .as("l_extendedprice")), copyOnWrite = true)
      }
      println(f"[rdscale] 1/$frac%-3d  $n%7d  $files0%5d  $morS%9.2f  " +
        f"$scanS%12.2f  $cowS%9.2f  $cowFiles%8d")
    }
    println("[rdscale] claim: morUpd flat across 16x table growth " +
      "(O(slice) scan via manifest pruning + O(slice) commit); cowUpd " +
      "tracks the affected file count, not the table")
    spark.stop()
  }
}
