package org.apache.spark.sql.graft

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.executor.CommitDeniedException
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame

/** Rename-free parquet writes for the lake: tasks write their files
  * DIRECTLY at their final, immutable, UUID-named locations under the
  * table's `data/` tree, and the committed file list is collected from
  * the task-commit messages — the Iceberg task-manifest pattern
  * (collect what each successful task wrote) instead of the
  * staging-dir pattern (list a temp dir, rename every file into
  * place).
  *
  * Why: on a POSIX filesystem a rename is an O(1) metadata op, but on
  * the object stores the lake's [[graft.lake.CommitStore]] seam
  * targets, "rename" is copy+delete per part file — a real cost and
  * failure surface on the hottest write path. Direct final-location
  * writes need no atomicity from the store because data files are
  * immutable and UUID-named (they never contend); write ATTRIBUTION —
  * knowing which files THIS job wrote among concurrent writers' — is
  * exactly what the task-commit messages provide, with zero listing.
  * A task that dies after creating a file leaves an unreferenced
  * orphan that the age-guarded vacuum reclaims; it can never appear
  * in a manifest because only files from SUCCESSFULLY COMMITTED tasks
  * of a SUCCESSFULLY COMMITTED job reach the caller.
  *
  * Supersedes the staging+rename form of crest's write path feeding
  * its committer (/root/reference/pkg/ingestor/iceberg_committer.go:
  * 122-147 takes pre-existing final paths; the writer upstream stages)
  * with the committer-native form Iceberg itself uses.
  */
object DirectWrite {

  /** Written (file, footer-meta) lists by write token, deposited by
    * [[GraftDirectCommitProtocol.commitJob]] on the driver. The meta
    * is parsed by the COMMITTING TASK itself (page-cache-warm, in
    * parallel across tasks, zero driver round trips); None means the
    * task could not parse it and the driver must fall back to its own
    * footer read. */
  private[graft] val results = new ConcurrentHashMap[String,
    Seq[(String, Option[graft.lake.LakeTable.FooterMeta])]]()

  /** Count of files whose footer meta did NOT arrive from its writing
    * task and had to be re-read on the driver — expected zero; exposed
    * so tests can pin the task-side path as the one actually taken. */
  private val metaFallbacks =
    new java.util.concurrent.atomic.AtomicLong()
  def metaFallbackCount: Long = metaFallbacks.get()

  /** Count of pipelined footer parses that missed (the file was still
    * open when its parse ran) and were parsed again at task commit —
    * counted in the writing JVM (the driver's only in local mode);
    * exposed so tests can pin that the retry path ran. */
  private[graft] val pipelinedMisses =
    new java.util.concurrent.atomic.AtomicLong()
  def pipelinedMissCount: Long = pipelinedMisses.get()

  /** Writer clones per parent session, reused across writes: cloning
    * copies the whole session state (conf, catalog, registry), a
    * driver-side cost that an MV loop would otherwise pay three times
    * per micro-batch. The inner map is keyed by the parent's
    * shuffle-partitions value at write time — the one conf our own
    * code toggles at runtime (StreamingQueries.withShufflePartitions)
    * — so concurrent writers at different parallelism each get a
    * matching clone instead of racing a shared conf; the handful of
    * distinct values bounds the map. Per-write state rides in the
    * write token, never in a session.
    *
    * Reference shape matters here: a clone retains its parent's
    * session state, so holding clones STRONGLY as map values would
    * keep every weak KEY reachable through its own value and the
    * entries would never collect. Clones are therefore held via
    * SoftReference: between writes a clone is reachable only softly,
    * so under memory pressure the GC clears it, the parent loses its
    * last value-side strong path, the weak key follows, and a
    * discarded parent session genuinely frees its clones. A cleared
    * clone just gets rebuilt on the next write (cloneSession is
    * driver-side milliseconds) — cache semantics, not correctness. */
  private val writerSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.classic.SparkSession,
      ConcurrentHashMap[String,
        java.lang.ref.SoftReference[
          org.apache.spark.sql.classic.SparkSession]]]()

  private def writerSessionFor(
      classic: org.apache.spark.sql.classic.SparkSession)
      : org.apache.spark.sql.classic.SparkSession = {
    val byConf = writerSessions.synchronized {
      var m = writerSessions.get(classic)
      if (m == null) {
        m = new ConcurrentHashMap[String,
          java.lang.ref.SoftReference[
            org.apache.spark.sql.classic.SparkSession]]()
        writerSessions.put(classic, m)
      }
      m
    }
    val sp = classic.conf.get("spark.sql.shuffle.partitions")
    // compute (not computeIfAbsent): the existing entry may be a
    // GC-cleared SoftReference that must be replaced. The strong
    // `result` var (not ref.get() after the fact) closes the race
    // where the GC clears a just-created reference before we return.
    var result: org.apache.spark.sql.classic.SparkSession = null
    byConf.compute(sp, (_, old) => {
      val cur = if (old == null) null else old.get()
      if (cur != null) { result = cur; old }
      else {
        val s = classic.cloneSession()
        s.conf.set("spark.sql.sources.commitProtocolClass",
          classOf[GraftDirectCommitProtocol].getName)
        s.conf.set("spark.sql.shuffle.partitions", sp)
        result = s
        new java.lang.ref.SoftReference(s)
      }
    })
    result
  }

  private[graft] def tokenOf(destPath: String): String =
    new Path(destPath).getName.stripPrefix(".write-")

  /** Write `df` as parquet with files landing directly in
    * `<tableRoot>/data/[<partition dirs>/]<uuid>.parquet` and return
    * the written paths RELATIVE to `data/`, sorted. `partitionBy`
    * columns become hive-style dirs exactly as `df.write.partitionBy`
    * lays them out. No staging dir is created and no file is renamed.
    *
    * The committer override rides on a CLONED session (shared
    * SparkContext, copied session state) so the caller's session conf
    * is never mutated — concurrent writers in other threads of the
    * same session keep their own committer untouched.
    */
  def parquet(df: DataFrame, tableRoot: String,
              partitionBy: Seq[String]): Seq[String] =
    parquetWithMetas(df, tableRoot, partitionBy).map(_._1)

  /** [[parquet]] returning, per written file, its parquet FOOTER
    * METADATA (rows, column stats, null counts, size, mtime) alongside
    * the relative path. The metas come from the task-commit messages:
    * each task parses the footers of the files IT wrote, right after
    * closing them (page-cache-warm, overlapped across tasks), so the
    * driver never re-opens a fresh file — on an object store that is
    * two HTTP round trips per file saved, and the manifest build
    * needs no extra Spark job at any commit size. A task-side parse
    * failure degrades to a driver-side [[graft.lake.LakeTable
    * .footerMeta]] fallback for that file (never silently absent). */
  def parquetWithMetas(df: DataFrame, tableRoot: String,
                       partitionBy: Seq[String])
      : Seq[(String, graft.lake.LakeTable.FooterMeta)] = {
    val classic =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sess = writerSessionFor(classic)
    // plant the ANALYZED plan: its relations are already resolved, so
    // the cached clone's catalog snapshot (taken at clone time) can
    // never miss a temp view the caller registered later
    val wdf = org.apache.spark.sql.classic.Dataset.ofRows(
      sess, df.queryExecution.analyzed)
    val token = UUID.randomUUID().toString
    // the dest is a NEVER-CREATED sibling of data/: it exists only to
    // carry the table root + a unique token through Spark's write path
    // into the protocol (which derives data/ from it and keys its
    // result deposit by the token)
    val dest = s"$tableRoot/.write-$token"
    // the write schema rides the write OPTIONS into the job's hadoop
    // conf (newHadoopConfWithOptions copies every option), which is
    // what the committing tasks parse footers against — per-write
    // isolation for free, no session state touched
    val schemaJson = df.schema.json
    try {
      val w = wdf.write.mode("errorifexists")
        .option(GraftDirectCommitProtocol.SchemaKey, schemaJson)
      if (partitionBy.isEmpty) w.parquet(dest)
      else w.partitionBy(partitionBy: _*).parquet(dest)
      val pairs = Option(results.remove(token)).getOrElse(
        throw new IllegalStateException(
          s"direct write at $tableRoot: job committed but no task " +
            "manifest was deposited")).sortBy(_._1)
      pairs.map {
        case (rel, Some(meta)) => rel -> meta
        case (rel, None) =>
          // task-side parse failed (or an out-of-band writer lacked
          // the schema option): read the footer here, as before
          metaFallbacks.incrementAndGet()
          rel -> graft.lake.LakeTable.footerMetaAt(
            new Path(new Path(tableRoot, "data"), rel), df.schema,
            classic.sessionState.newHadoopConf())
      }
    } finally results.remove(token)
  }
}

/** The [[FileCommitProtocol]] behind [[DirectWrite.parquet]].
  * Selected via `spark.sql.sources.commitProtocolClass` on the cloned
  * write session; Spark instantiates it reflectively with
  * `(jobId, outputPath, dynamicPartitionOverwrite)`.
  *
  * `outputPath` is `<tableRoot>/.write-<token>`: files actually land
  * under the sibling `<tableRoot>/data/`, and `commitJob` deposits the
  * collected relative paths into [[DirectWrite.results]] under the
  * token. Task commits are guarded by the `OutputCommitCoordinator`,
  * so a speculative twin attempt can never double-report (or orphan
  * into the manifest) the same logical task's files.
  */
object GraftDirectCommitProtocol {
  /** Write-option key carrying the caller's schema JSON into the
    * job's hadoop conf (newHadoopConfWithOptions copies every write
    * option) — what committing tasks parse footers against. */
  val SchemaKey = "graft.write.schema"
}

class GraftDirectCommitProtocol(jobId: String, destPath: String,
                                dynamicPartitionOverwrite: Boolean)
    extends FileCommitProtocol with Serializable {
  require(!dynamicPartitionOverwrite,
    "graft direct writes are append-only; dynamic partition overwrite " +
      "is handled at the manifest layer (replacedFiles), not the writer")

  private val dataRoot = {
    val d = new Path(destPath)
    new Path(d.getParent, "data")
  }

  /** Paths written by THIS task, relative to `data/`. Rebuilt per task
    * attempt by `setupTask`; only ever non-empty on executors. */
  @transient private var taskFiles: ArrayBuffer[String] = _

  /** Footer parses PIPELINED with the write (guide §6 I/O overlap):
    * keyed by relative path, submitted the moment the writer closes a
    * file and asks for the next one. Wide dynamic-partition tasks
    * (hundreds of serial create/write/close cycles) thereby finish
    * their footer work DURING the write instead of as a tail after the
    * last close; commitTask only drains futures plus parses the final
    * file. A pipelined parse that fails (e.g. a future writer mode
    * keeping several files open — the default single-open-file writer
    * never does) is retried synchronously at commit before degrading
    * to the driver fallback, so pipelining can only save time, never
    * change what the manifest sees. */
  @transient private var pipelined: java.util.HashMap[String,
    java.util.concurrent.Future[Option[graft.lake.LakeTable.FooterMeta]]] = _

  /** The write schema, decoded from the task conf once per task. */
  @transient private var taskSchema:
    Option[Option[org.apache.spark.sql.types.StructType]] = _

  private def schemaFor(conf: org.apache.hadoop.conf.Configuration)
      : Option[org.apache.spark.sql.types.StructType] = {
    if (taskSchema == null)
      taskSchema = Some(
        Option(conf.get(GraftDirectCommitProtocol.SchemaKey))
          .map(graft.lake.DataTypeBridge.fromJson))
    taskSchema.get
  }

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(jobContext: JobContext,
                         taskCommits: Seq[TaskCommitMessage]): Unit =
    DirectWrite.results.put(DirectWrite.tokenOf(destPath),
      taskCommits.flatMap(_.obj.asInstanceOf[
        Seq[(String, Option[graft.lake.LakeTable.FooterMeta])]]))

  override def abortJob(jobContext: JobContext): Unit =
    DirectWrite.results.remove(DirectWrite.tokenOf(destPath))

  override def setupTask(taskContext: TaskAttemptContext): Unit = {
    taskFiles = ArrayBuffer.empty[String]
    pipelined = null
    taskSchema = null
  }

  /** Submit `rel`'s footer parse on the shared pool. Called from
    * `newTaskTempFile` for the file the writer JUST closed (Spark's
    * file writers hold one open file and close it before asking for
    * the next), so the parse of file N overlaps the write of file
    * N+1 — its bytes are page-cache-warm and the write stage runs far
    * below full CPU on latency-bound create/close cycles. */
  private def pipelineParse(conf: org.apache.hadoop.conf.Configuration,
                            rel: String): Unit =
    schemaFor(conf).foreach { s =>
      if (pipelined == null)
        pipelined = new java.util.HashMap[String,
          java.util.concurrent.Future[
            Option[graft.lake.LakeTable.FooterMeta]]]()
      if (!pipelined.containsKey(rel))
        pipelined.put(rel, parseOnPool(conf, s, rel))
    }

  /** `rel`'s footer meta, parsed on the shared footer pool; None when
    * the parse fails. */
  private def parseOnPool(conf: org.apache.hadoop.conf.Configuration,
                          schema: org.apache.spark.sql.types.StructType,
                          rel: String)
      : java.util.concurrent.Future[Option[graft.lake.LakeTable.FooterMeta]] =
    graft.lake.LakeTable.footerPool.submit(
      new java.util.concurrent.Callable[
          Option[graft.lake.LakeTable.FooterMeta]] {
        override def call() =
          try Some(graft.lake.LakeTable.footerMetaAt(
            new Path(dataRoot, rel), schema, conf))
          catch { case scala.util.control.NonFatal(_) => None }
      })

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String],
                               spec: FileNameSpec): String = {
    if (taskFiles.nonEmpty)
      pipelineParse(taskContext.getConfiguration, taskFiles.last)
    // files landing in a bucket dir carry Spark's bucket-id suffix
    // (`_00003`, BucketingUtils' format): the name is what lets a
    // manifest-served read expose the layout as a real BucketSpec —
    // FileSourceScanExec maps file -> bucket BY NAME. The UUID body
    // contains no `_<digits>` run, so the suffix parses unambiguously.
    val bucketTag = dir.flatMap(_.split("/").last match {
      case s if s.startsWith(s"${graft.lake.LakeTable.BucketCol}=") =>
        s.split("=", 2)(1).toIntOption.map(id => f"_$id%05d")
      case _ => None
    }).getOrElse("")
    val name = s"${spec.prefix}${UUID.randomUUID()}$bucketTag${spec.suffix}"
    val rel = dir.map(d => s"$d/$name").getOrElse(name)
    taskFiles += rel
    new Path(dataRoot, rel).toString
  }

  override def newTaskTempFile(taskContext: TaskAttemptContext,
                               dir: Option[String], ext: String): String =
    newTaskTempFile(taskContext, dir, FileNameSpec("", ext))

  override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
                                      absoluteDir: String,
                                      ext: String): String =
    throw new UnsupportedOperationException(
      "graft lake tables have no custom partition locations")

  override def commitTask(taskContext: TaskAttemptContext)
      : TaskCommitMessage = {
    // files are already at their final paths — the only remaining
    // question is authorization: with speculation, exactly one attempt
    // of a logical task may report its files (the loser's become
    // vacuum-reclaimable orphans)
    val tc = TaskContext.get()
    if (tc != null && SparkEnv.get != null &&
        !SparkEnv.get.outputCommitCoordinator.canCommit(
          tc.stageId(), tc.stageAttemptNumber(), tc.partitionId(),
          tc.attemptNumber())) {
      abortTask(taskContext)
      throw new CommitDeniedException(
        s"task commit denied by coordinator: ${tc.partitionId()}." +
          s"${tc.attemptNumber()}",
        tc.stageId(), tc.partitionId(), tc.attemptNumber())
    }
    // footer metas for the files THIS task wrote: all but the final
    // file were already submitted to the shared pool DURING the write
    // (pipelineParse — the parse of file N overlapped the write of
    // file N+1, page-cache-warm), so this drain plus one parse of the
    // final file leaves no parse tail after the last close. A
    // pipelined parse MISSES when its file was still open at submit
    // time (a writer mode that keeps several files open, e.g.
    // spark.sql.maxConcurrentOutputFileWriters > 0): the misses and
    // the final file are submitted to the pool together, where every
    // file is certainly closed, then drained — a wide task's misses
    // parse in parallel, not one after another on the task thread.
    // The driver's manifest build needs no fresh-file reads (on an
    // object store: two HTTP round trips per file saved) and no extra
    // Spark job at any commit size. Failures degrade to None — the
    // driver falls back to its own footer read rather than failing a
    // task whose write already succeeded — but a task KILL
    // (InterruptedException) propagates: NonFatal never converts it
    // into a silent fallback. Speculative twin attempts may pipeline
    // parses of their own (soon-orphaned) files — wasted I/O bounded
    // by the losing attempt's files, never a correctness issue.
    val conf = taskContext.getConfiguration
    val metas: List[(String,
        Option[graft.lake.LakeTable.FooterMeta])] = schemaFor(conf) match {
      case None => taskFiles.toList.map(_ -> None)
      case Some(s) =>
        def await(f: java.util.concurrent.Future[
            Option[graft.lake.LakeTable.FooterMeta]]) =
          try f.get() catch { case scala.util.control.NonFatal(_) => None }
        val rels = taskFiles.toList
        // None: the final file, never pipelined; Some(None): a miss
        val piped = rels.map(r =>
          Option(if (pipelined == null) null else pipelined.get(r))
            .map(await))
        piped.foreach(p => if (p.contains(None))
          DirectWrite.pipelinedMisses.incrementAndGet())
        val retried = rels.zip(piped).map { case (r, p) =>
          if (p.flatten.isDefined) None else Some(parseOnPool(conf, s, r))
        }
        rels.zip(piped).zip(retried).map { case ((r, p), f) =>
          r -> p.flatten.orElse(f.flatMap(await))
        }
    }
    new TaskCommitMessage(metas)
  }

  override def abortTask(taskContext: TaskAttemptContext): Unit = {
    if (pipelined != null) {
      pipelined.values.forEach(f => f.cancel(true))
      pipelined = null
    }
    val fs = dataRoot.getFileSystem(
      taskContext.getConfiguration)
    taskFiles.foreach { rel =>
      try fs.delete(new Path(dataRoot, rel), false)
      catch { case _: java.io.IOException => () } // orphan → vacuum
    }
    taskFiles.clear()
  }
}
