package perfbench

import graft.lake.LakeTable

/** Per-layer figures the workloads share, from the progress events, the
  * commit store and the job log of a run's traced windows. */
object Layers {
  def streaming(r: Report, batches: Seq[Progress]): Unit = {
    // Spark reports phases in whole milliseconds; a mean keeps the
    // sub-millisecond part that a median of integers would drop
    def phase(name: String, keys: String*) = {
      val xs = batches.map(p => keys.map(p.durations.getOrElse(_, 0L)).sum.toDouble)
      r.add(name, Stats.mean(xs), "ms", xs.size)
    }
    phase("streaming.trigger_ms", "triggerExecution")
    phase("streaming.add_batch_ms", "addBatch")
    phase("streaming.log_ms", "walCommit", "commitOffsets")
    phase("streaming.planning_ms", "queryPlanning")
    phase("sources.latest_offset_ms", "latestOffset")
    phase("sources.get_batch_ms", "getBatch")
    // idle: from one batch's end to the next batch's start
    val sorted = batches.sortBy(_.receivedNs)
    val idle = sorted.sliding(2).collect { case Seq(a, b) =>
      val bStart = b.receivedNs - b.durations.getOrElse("triggerExecution", 0L) * 1000000L
      math.max(0L, bStart - a.receivedNs) / 1e6
    }.toSeq
    r.add("streaming.idle_ms", Stats.median(idle), "ms", idle.size)
    r.add("sources.versions_per_batch",
      Stats.mean(batches.map(p => (p.endOffset - p.startOffset).toDouble)), "versions", batches.size)
    r.add("sources.rows_per_batch", Stats.mean(batches.map(_.rows.toDouble)), "rows", batches.size)
  }

  /** Commit-store and metadata-read counters of the traced windows, per
    * commit and per step. */
  def store(r: Report, ctx: Ctx, steps: Long): Unit = {
    val s = ctx.store
    val commits = math.max(1L, s.commitAttempts.get - s.commitConflicts.get)
    val (metaReads, metaMs) = ctx.metaReads.map(_.totals).getOrElse((0L, 0.0))
    r.add("lake.commits_per_step", commits.toDouble / math.max(1L, steps), "commits", steps)
    r.add("lake.put_ms", s.putNs.get / 1e6 / math.max(1L, s.puts.get), "ms", s.puts.get)
    r.add("lake.commit_attempts", s.commitAttempts.get, "count", steps)
    r.add("lake.commit_conflicts", s.commitConflicts.get, "count", steps)
    r.add("lake.meta_reads_per_commit", metaReads.toDouble / commits, "reads", commits)
    r.add("lake.meta_read_ms", metaMs / math.max(1L, steps), "ms", steps)
  }

  /** The data files version `v` of `t` added. */
  private def added(t: LakeTable, v: Int): Seq[LakeTable.FileEntry] = {
    val prev = t.filesAt(v - 1).map(_.path).toSet
    t.filesAt(v).filterNot(f => prev(f.path))
  }

  /** Bytes of the data files `t` gained after version `from`. */
  def bytesAdded(t: LakeTable, from: Int): Long =
    ((from + 1) to t.currentVersion).map(v => added(t, v).map(_.sizeBytes).sum).sum

  /** Files and bytes the tables gained over versions (from, to], against
    * `inputBytes` of source data, plus live files at the end. */
  def layout(r: Report, tables: Seq[(LakeTable, Int)], inputBytes: Long): Unit = {
    var dataCommits, files, bytes, compactBytes = 0L
    tables.foreach { case (t, from) =>
      ((from + 1) to t.currentVersion).foreach { v =>
        val fs = added(t, v)
        if (t.appMetaAt(v, "compaction").contains("true")) compactBytes += fs.map(_.sizeBytes).sum
        else if (fs.nonEmpty) {
          dataCommits += 1; files += fs.size; bytes += fs.map(_.sizeBytes).sum
        }
      }
    }
    val in = math.max(1L, inputBytes).toDouble
    r.add("lake.files_per_commit", files.toDouble / math.max(1L, dataCommits), "files", dataCommits)
    r.add("lake.bytes_written_per_input_byte", bytes / in, "ratio", inputBytes)
    r.add("lake.compaction_bytes_per_input_byte", compactBytes / in, "ratio", inputBytes)
    r.add("lake.live_files", tables.map(_._1.dataFiles.size).sum, "files")
    r.add("lake.live_delete_files", tables.map(_._1.deleteEntries.size).sum, "files")
  }

  def batchIntervals(batches: Seq[Progress]): Seq[(Long, Long)] =
    batches.map(p => (p.receivedNs - p.durations.getOrElse("triggerExecution", 0L) * 1000000L,
      p.receivedNs))

  /** Length of the union of `iv`. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    if (hi > lo) total += hi - lo
    total
  }

  /** Spark totals of the traced windows per step; `steps` are the traced
    * steps' (start, end) nanoTimes: micro-batches or client steps. */
  def spark(r: Report, ctx: Ctx, steps: Seq[(Long, Long)]): Unit = {
    val j = ctx.jobs
    val jobs = j.jobs.toArray(Array.empty[JobLog.Job]).filter(_.endNs > 0).toSeq
    val per = math.max(1, steps.size).toDouble
    // time between jobs: step wall time that no Spark job covers
    val between = steps.map { case (a, b) =>
      (b - a) - covered(jobs.map(x => (math.max(a, x.startNs), math.min(b, x.endNs))))
    }.sum
    val n = steps.size.toLong
    r.add("spark.jobs_per_step", jobs.size / per, "jobs", n)
    r.add("spark.stages_per_step", j.stages.get / per, "stages", n)
    r.add("spark.tasks_per_step", j.tasks.get / per, "tasks", n)
    r.add("spark.between_jobs_ms_per_step", between / 1e6 / per, "ms", n)
    r.add("spark.task_s_per_step", j.taskRunMs.get / 1e3 / per, "s", n)
    r.add("spark.shuffle_bytes_per_step", j.shuffleBytes.get / per, "bytes", n)
    r.add("spark.spill_bytes", j.spillBytes.get, "bytes", n)
    r.add("spark.gc_ms_per_step", j.gcMs.get / per, "ms", n)
  }

  /** Percentile figures of a latency sample, as the guide asks: the p90
    * only where at least ten samples lie beyond it. */
  def latency(r: Report, prefix: String, xs: Seq[Double]): Unit = {
    r.add(s"${prefix}_p50_ms", Stats.median(xs), "ms", xs.size)
    if (xs.size >= 100) r.add(s"${prefix}_p90_ms", Stats.quantile(xs, 0.9), "ms", xs.size)
  }
}
