package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{LocalSpark, Tables}
import graft.lake.LakeTable
import graft.streaming.MVManager

/** Long-haul steady state for the WORST-case continuous loop (the
  * near-dup curation MV): `SPARK_GRAFT_BATCHES` (default 100)
  * micro-batches at `SPARK_GRAFT_SF_DIR` (default sf0.1) through ONE
  * started query, logging per batch
  *
  *   - append-to-commit latency,
  *   - live file counts of the two probed tables (postings + index) —
  *     the quantity the probe cost is linear in, and
  *   - cumulative bytes written by COMPACTION commits per table.
  *
  * The claims under test (BENCH_NOTES r7 derived them; this measures
  * them past the toy regime of 20 batches at sf0.01):
  *
  *   1. per-batch cost is flat-or-bounded in N — the probed file
  *      counts plateau at the policy bound instead of growing one
  *      file per bucket dir per batch;
  *   2. cumulative compaction rewrite is LOGARITHMIC, not quadratic:
  *      tiered merging rewrites each row <= log_k(N) times, so
  *      (compaction bytes ever written) / (live table bytes) must
  *      stay <= ~log_k(total rows / batch rows) + 1, nowhere near
  *      the O(N) a rewrite-per-batch policy would produce.
  *
  * Runs in ONE session (the box throttles ~3x across sessions); the
  * per-batch table prints absolute numbers, the verdict line prints
  * the bound check. */
object LongHaul {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "100").toInt
    val dir = java.nio.file.Files.createTempDirectory("longhaul")
    import graft.operators.DedupOps

    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    val total = docs.count()

    val src = LakeTable.create(spark, s"$dir/src", docs.schema)
    val index = LakeTable.create(spark, s"$dir/idx",
      MVManager.curationIndexSchema,
      properties = LakeTable.autoCompactProps(32, Some("fp")),
      bucketBy = Some(("fp", 32)))
    val postings = LakeTable.create(spark, s"$dir/post",
      DedupOps.bandPostingsSchema,
      properties = LakeTable.autoCompactProps(32, Some("pbh")) ++
        DedupOps.bandPostingsProps(),
      bucketBy = Some(("pbh", 32)))
    val out = LakeTable.create(spark, s"$dir/out", docs.schema)
    val mv = new MVManager(spark, s"$dir/ckpt")
    val q = mv.startCurationFromLake("lh", src, index, out,
      nearDupMinJaccard = Some(0.5),
      trigger = Trigger.ProcessingTime("100 milliseconds"),
      postings = Some(postings))

    /** Bytes AND rows added by compaction commits in versions
      * (seen, current]. Rows are the faithful form of the tiered
      * policy's claim (each ROW rewritten <= log4(N) times): at
      * toy batch sizes every bucket file is footer-overhead-
      * dominated (~35 KB for 1-2 rows), so bytes measure file-count
      * churn, not row rewrites. */
    final class CompactionMeter(t: LakeTable) {
      private var seen = t.currentVersion
      var bytes = 0L
      var rows = 0L
      def poll(): Long = {
        val cur = t.currentVersion
        for (v <- (seen + 1) to cur) {
          if (t.appMetaAt(v, "compaction").contains("true")) {
            val prev = t.filesAt(v - 1).map(_.path).toSet
            val fresh = t.filesAt(v).filterNot(f => prev.contains(f.path))
            bytes += fresh.map(_.sizeBytes).sum
            rows += fresh.map(_.rows).sum
          }
        }
        seen = cur
        bytes
      }
      def liveBytes: Long = t.dataFiles.map(_.sizeBytes).sum
      def liveRows: Long = t.dataFiles.map(_.rows).sum
    }
    val meters = Seq("index" -> new CompactionMeter(index),
      "postings" -> new CompactionMeter(postings),
      "out" -> new CompactionMeter(out))

    println("[longhaul] batch  secs  idxFiles  postFiles  " +
      "rewriteMB(idx/post/out)")
    val secs = (0 until batches).map { i =>
      val before = index.dataCommitCount
      val t0 = System.nanoTime()
      src.append(docs.filter(col("doc_id") % batches === i))
      while (index.dataCommitCount <= before) Thread.sleep(10)
      val s = (System.nanoTime() - t0) / 1e9
      val mb = meters.map(m => f"${m._2.poll() / 1e6}%.1f").mkString("/")
      println(f"[longhaul] ${i + 1}%5d  $s%5.2f  " +
        f"${index.dataFiles.size}%8d  ${postings.dataFiles.size}%9d  $mb")
      s
    }
    q.stop()

    val half = secs.drop(batches / 2)
    val median = half.sorted.apply(half.length / 2)
    val early = secs(1)
    println(f"[longhaul] batch2 $early%5.2f s  " +
      f"median(b${batches / 2}..b$batches) $median%5.2f s  " +
      f"ratio ${median / early}%4.2f")
    // bound check: rewrite amplification vs the ladder policy's
    // doubling claim — each merged row's file at least doubles, so
    // per-row rewrites <= log2(total rows / batch rows) + 1.
    val growthSteps = math.max(2.0, batches.toDouble)
    val logBound = math.log(growthSteps) / math.log(2.0) + 1.0
    meters.foreach { case (name, m) =>
      val live = m.liveBytes
      val amp = if (live == 0) 0.0 else m.bytes.toDouble / live
      val lr = m.liveRows
      val rowAmp = if (lr == 0) 0.0 else m.rows.toDouble / lr
      println(f"[longhaul] $name%-8s live ${live / 1e6}%8.1f MB / " +
        f"$lr%d rows  compaction-rewrote ${m.bytes / 1e6}%8.1f MB / " +
        f"${m.rows}%d rows  rowAmp $rowAmp%5.2f  byteAmp $amp%5.2f  " +
        f"(log4 bound ~$logBound%4.1f)")
    }
    println(s"[longhaul] rows: src=$total out=${out.read().count()} " +
      s"index=${index.read().count()}")

    // ---- changelog consumer under compaction interleaving -----------
    // The CDC loops consume readChangelog one version at a time; this
    // phase measures that consumption across `batches` commits on a
    // table that mixes appends, GDPR equality deletes (every 10th
    // batch), and ladder compaction (autoCompact absorbs the growing
    // file count mid-run). The claim: per-version changelog cost is
    // O(that version's delta) — the pure-append fast path scans only
    // the new files, the eq-delete fast path runs one key semi-join
    // over covered files, and a compaction step proves its zero via
    // the `compaction=true` marker without diffing — so the
    // second-half median must stay flat while the table grows ~2x.
    locally {
      val ev = Tables.load(spark, sfDir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .localCheckpoint()
      val t = LakeTable.create(spark, s"$dir/cdcsrc", ev.schema,
        properties = LakeTable.autoCompactProps(16))
      println("[longhaul] cdc batch  kind      secs  changeRows  files")
      val clSecs = (0 until batches).map { i =>
        val v0 = t.currentVersion
        val kind = if (i % 10 == 9) "forget" else "append"
        if (i % 10 == 9)
          t.deleteWhereEqual(ev.filter(col("user_id") % 97 === i % 97)
            .select(col("user_id")).distinct(), Seq("user_id"))
        else t.append(ev.filter(col("event_id") % batches === i))
        val v1 = t.currentVersion // may include an autoCompact commit
        val t0 = System.nanoTime()
        val rows = (v0 + 1 to v1).map(v =>
          t.readChangelog(v - 1, v).count()).sum
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[longhaul] cdc ${i + 1}%5d  $kind%-8s $s%5.2f  " +
          f"$rows%10d  ${t.dataFiles.size}%5d")
        s
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
      val (h1, h2) = clSecs.splitAt(batches / 2)
      println(f"[longhaul] changelog median firstHalf ${med(h1)}%5.2f s  " +
        f"secondHalf ${med(h2)}%5.2f s  ratio ${med(h2) / med(h1)}%4.2f  " +
        f"(flat = O(delta), not O(table))")
    }

    // Manifest-split verdict: per-commit METADATA bytes must track
    // the batch, not the table. For every retained version, the
    // metadata this commit wrote = its snapshot json + the manifests
    // it references that its parent did not (new-batch manifests and
    // ladder merges). If commits embedded the live-file list, the
    // second-half mean would exceed the first-half mean by roughly
    // the table-growth factor; under the split both halves must sit
    // at the same batch-scale figure.
    for ((name, t) <- Seq("index" -> index, "postings" -> postings,
        "out" -> out)) {
      val metaDir = java.nio.file.Paths.get(t.root, "metadata")
      def vpath(v: Int) = metaDir.resolve(f"v$v%08d.json")
      val snaps = t.snapshotsBetween(-1, t.currentVersion)
      val refs = snaps.map(s => s.version -> s.manifests.map(_.path).toSet)
        .toMap
      val vs = snaps.map(_.version)
      val perCommit = vs.map { v =>
        val fresh = refs(v) -- refs.getOrElse(v - 1, Set.empty[String])
        java.nio.file.Files.size(vpath(v)) +
          fresh.toSeq.map { m =>
            val p = metaDir.resolve(m)
            if (java.nio.file.Files.exists(p))
              java.nio.file.Files.size(p) else 0L
          }.sum
      }
      val (a, b) = perCommit.splitAt(perCommit.length / 2)
      def mean(xs: Seq[Long]) =
        if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.length
      val snapMax = vs.map(v => java.nio.file.Files.size(vpath(v))).max
      println(f"[longhaul] meta $name%-8s perCommitKB " +
        f"firstHalf ${mean(a) / 1e3}%6.1f  secondHalf " +
        f"${mean(b) / 1e3}%6.1f  ratio ${mean(b) / math.max(1.0, mean(a))}%4.2f  " +
        f"maxSnapshotKB ${snapMax / 1e3}%6.1f  " +
        f"manifests ${refs(vs.last).size}%d  " +
        f"liveFiles ${t.dataFiles.size}%d")
    }
    spark.stop()
  }
}
