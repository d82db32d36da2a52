package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.StructType

import LakeTable._

/** The changelog: what each commit did to the table's rows, worked out
  * in one place. Crest reads change data from upstream (RisingWave
  * MVs emit it, Iceberg records it); this lake says it itself. Every
  * version walk goes through [[walk]], one [[Changes.ChangeStep]] per
  * version, and both changelog faces read that step: the batch face
  * ([[readChangelog]], anti-joins over the changed files) and the
  * stream face ([[graft.sources.GraftLakeChangesMicroBatchStream]],
  * per-file partitions plus broadcast merge-on-read state). The
  * insert-only feed ([[changesBetween]]) and the append stream read
  * the steps' added files. */
private[lake] trait Changes { self: LakeTable =>
  import Changes._

  /** The step from `before` (None: the empty table before v0) to
    * `after`, a compaction when `compaction` says so. */
  private def step(before: Option[Snapshot], after: Snapshot,
                   compaction: Boolean): ChangeStep =
    ChangeStep(after.version, after.committedAtMs, compaction,
      after.appMeta.get("cdf.op"),
      before.fold(Seq.empty[FileEntry])(_.files),
      before.fold(Seq.empty[DeleteEntry])(_.deletes),
      after.files, after.deletes)

  /** Each version in (from, to], oldest first, read once through
    * `read`: its step and the snapshots on both sides. None when `read`
    * finds a version missing. Snapshot `from` must be retained
    * ([[retained]]); below v0 it is the empty table. */
  private def walk(from: Int, to: Int)(read: Int => Option[Snapshot])
      : Option[Seq[(ChangeStep, Option[Snapshot], Snapshot)]] = {
    val base = if (from < 0) None else Some(retained(from))
    val snaps = (math.max(0, from + 1) to to).map(read)
    if (snaps.contains(None)) None
    else Some((base +: snaps).zip(snaps.flatten).map { case (b, a) =>
      (step(b, a, a.isCompaction), b, a)
    })
  }

  /** [[walk]] over retained versions: an expired one fails. */
  private def retainedWalk(from: Int, to: Int)
      : Seq[(ChangeStep, Option[Snapshot], Snapshot)] =
    walk(from, to)(v => Some(retained(v))).get

  /** The step of each version in (from, to], oldest first: one
    * snapshot read per version, no data file opened. Fails on an
    * expired version — a checkpoint that fell behind the retention
    * window must restart rather than silently skip history. */
  private[graft] def steps(from: Int, to: Int): Seq[ChangeStep] =
    retainedWalk(from, to).map(_._1)

  /** Each version in (from, to] with its net row changes (what
    * [[readChangelog]] gives over (v-1, v]), from one walk: one
    * snapshot read per version. Every frame is aligned by field id
    * onto snapshot `to`'s columns, so a range spanning a rename reads
    * as one schema. */
  private[graft] def perCommitChanges(from: Int, to: Int)
      : Seq[(ChangeStep, DataFrame)] = {
    val walked = retainedWalk(from, to)
    // the empty table before v0 has no file to read: its schema is
    // never consulted
    walked.map { case (st, b, a) =>
      (st, netChanges(st, b.getOrElse(a), a, walked.last._3))
    }
  }

  /** Incremental read: only rows in files committed AFTER `fromVersion`
    * (CDC-style append diff — the snapshot log makes this a file-list
    * set difference, no data diffing). */
  def changesSince(fromVersion: Int): DataFrame =
    changesBetween(fromVersion, mainVersion) // WAP: staged commits
                                             // are not deltas yet

  /** Rows in files committed in versions (from, to] — the bounded form
    * of [[changesSince]] for consumers that must not read past an
    * already-announced offset (e.g. a streaming curation MV whose
    * micro-batch covers an exact version range; commits racing in
    * after `to` belong to the NEXT batch, not this one).
    *
    * The rows are the steps' added files. A compaction adds none (the
    * step's compaction rule), so re-presenting its output cannot turn
    * a continuous curation loop quadratic once auto-compaction kicks
    * in. The pre-compaction originals stay readable: retention keeps
    * every file referenced by any retained snapshot, and the version
    * they were added at is retained by [[retained]]'s guard.
    * When a step in the range removed a file (delete/upsert), or an
    * intermediate snapshot is missing, per-version attribution is
    * ambiguous, and the read falls back to the plain set-difference
    * superset (re-emission of rewritten survivors; an
    * idempotent/fp-frontier consumer absorbs it). */
  def changesBetween(fromVersion: Int, toVersion: Int): DataFrame = {
    val walked = walk(fromVersion, toVersion)(readSnapshot)
    val to = walked.flatMap(_.lastOption).fold(snapshotAt(toVersion))(_._3)
    val added = walked.map(_.map(_._1)) match {
      case Some(ss) if ss.forall(_.removed.isEmpty) => ss.flatMap(_.added)
      case _ => // the superset: every file of `to` that `from` lacks
        step(if (fromVersion < 0) None else Some(retained(fromVersion)), to,
          compaction = false).added
    }
    readEntries(added, to)
  }

  // ---- ROW-LEVEL CHANGELOG (Iceberg changelog scan / Delta CDF) ------
  //
  // [[changesBetween]] is the INSERT-ONLY incremental feed (what a
  // curation MV consumes; re-emission allowed, deletes invisible).
  // This is the full-fidelity sibling: NET row-level changes between
  // two retained snapshots, each row tagged `_change_type` `insert` or
  // `delete` — what a downstream index, replica, or audit needs to
  // stay exactly in sync with a table that takes merge-on-read
  // deletes and upserts (a GDPR forget MUST propagate as deletes; the
  // insert-only feed structurally cannot carry it).
  //
  // Cost is the whole design: the diff runs over CHANGED FILES ONLY,
  // the range's step over its two ends. A file the step neither
  // removed, added nor re-scoped contributes identically to both
  // snapshots, so it cancels out of the multiset difference BY
  // METADATA and is never read. Pure appends therefore cost O(new
  // files) with no shuffle at all (fast path below); a merge-on-read
  // delete costs O(files it covers). A compaction in range nets to
  // ZERO rows — an all-compaction range is a compaction step, empty by
  // metadata; a mixed range pays a diff of the rewritten files to
  // prove the zero (cost O(rewritten in range), correctness
  // unconditional — rewrites rename files, so path identity cannot
  // cancel them by metadata). At 100 TB the changelog for a daily
  // delta touches the delta, never the table.
  //
  // Net semantics: a row inserted then deleted INSIDE the range emits
  // nothing; an upsert emits the old version as `delete` and the new
  // as `insert`. Schema changes in range are aligned by FIELD ID onto
  // the `to` snapshot's column set (renamed columns diff as one
  // column; columns added in range surface `from`-side rows as null,
  // exactly how a reader of the new schema sees them).
  def readChangelog(fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion <= toVersion,
      s"changelog range is [from <= to], got ($fromVersion, $toVersion)")
    val nF = retained(fromVersion)
    val nT = retained(toVersion)
    // all-compaction range: row-preserving by the strict-replace
    // commit contract, so the range is one compaction step
    val versions = (fromVersion + 1) to toVersion
    val compaction = versions.nonEmpty && versions.forall(v =>
      (if (v == toVersion) Some(nT) else readSnapshot(v))
        .exists(_.isCompaction))
    netChanges(step(Some(nF), nT, compaction), nF, nT, nT)
  }

  /** The net row changes of `st`, whose sides are snapshots `nF` and
    * `nT`, under snapshot `out`'s columns: anti-joins over the files
    * the step changed. */
  private def netChanges(st: ChangeStep, nF: Snapshot, nT: Snapshot,
                         out: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val ct = "_change_type"
    val shrank = st.shrank.map(_.path).toSet
    // GDPR fast path: a survivor whose scope grew ONLY by equality
    // deletes sharing one key-column set can only have LOST rows, and
    // exactly those matching the entries' committed keys — so its
    // deletes come from one key semi-join (broadcast-sized right side)
    // instead of a two-sided multiset diff. A "forget these users"
    // commit on a large table thus produces its changelog with ZERO
    // exceptAll shuffles: one scan of the covered files, key-filtered
    // map-side. Excluding these files from the general diff preserves
    // it exactly: they appear on both sides with identical
    // surviving-row multisets, which cancel regardless.
    // The fast path semi-joins under the FROM schema, so it only
    // applies when every key column already exists there — an
    // equality delete keying on a column ADDED inside the range falls
    // through to the general multiset diff (which reads both sides and
    // needs no key projection).
    val grewByEq: Map[Seq[DeleteEntry], Seq[FileEntry]] = st.grew
      .filterNot(f => shrank(f.path))
      .flatMap { f =>
        val es = st.newDeletes.filter(_.appliesTo(f)).sortBy(_.path)
        if (es.forall(e =>
              e.kind == "eq" && e.keyCols == es.head.keyCols) &&
            es.head.keyCols.forall(nF.schema.fieldNames.contains))
          Some(es -> f)
        else None
      }.groupMap(_._1)(_._2)
    val fast = grewByEq.values.flatten.map(_.path).toSet
    val rescoped =
      (st.grew ++ st.shrank).distinct.filterNot(f => fast(f.path))
    val chF = st.removed ++ rescoped
    val chT = st.added ++ rescoped
    val fastDeletes: Option[DataFrame] =
      if (grewByEq.isEmpty) None
      else Some(grewByEq.map { case (es, fs) =>
        val keyCols = es.head.keyCols
        val keySchema = StructType(keyCols.map(c => nF.schema(c)))
        val keys = spark.read.schema(keySchema)
          .parquet(es.map(e => s"$root/${e.path}"): _*)
        // manifest-stats prune before any file read: a covered file
        // whose [lo, hi] ranges cannot hold ANY committed key emits
        // nothing — so the forget's changelog reads O(files that can
        // hold the keys), not O(files predating the delete), exactly
        // like the streaming face's growth prune. One tiny
        // distributed agg over the key files buys the bounds.
        val base = readEntries(pruneByKeyBounds(fs, keys, keyCols),
          nF, deletes = st.beforeDeletes)
        // null-safe equality on the key tuple — Iceberg eq-delete
        // semantics, identical to the read path's anti-join
        val cond = keyCols.map(c => base(c) <=> keys(c)).reduce(_ && _)
        alignByFieldId(base.join(keys, cond, "left_semi"), nF, out)
      }.reduce(_ unionByName _))
    def withFast(df: DataFrame): DataFrame = fastDeletes match {
      case Some(fd) => df.unionByName(fd.withColumn(ct, lit("delete")))
      case None => df
    }
    // deletes visible on changed from-files still apply (covers /
    // seq-scoped inside readEntries, restricted to the subset read)
    def side(entries: Seq[FileEntry], n: Snapshot,
             dels: Seq[DeleteEntry]): DataFrame =
      alignByFieldId(readEntries(entries, n, deletes = dels), n, out)
    if (chF.isEmpty && chT.isEmpty)
      return withFast(side(Nil, nT, Nil).withColumn(ct, lit("insert")))
    if (chF.isEmpty) // pure append(s): no diff shuffle, scan new files
      return withFast(side(chT, nT, st.afterDeletes)
        .withColumn(ct, lit("insert")))
    val before = side(chF, nF, st.beforeDeletes)
    val after = side(chT, nT, st.afterDeletes)
    if (chT.isEmpty)
      return withFast(before.withColumn(ct, lit("delete")))
    withFast(after.exceptAll(before).withColumn(ct, lit("insert"))
      .unionByName(before.exceptAll(after).withColumn(ct, lit("delete"))))
  }

  /** Files of `fs` whose per-column [lo, hi] footer stats can hold at
    * least one of `keys`' tuples, by PER-COLUMN BOUNDS of the key set
    * (one small agg job over the key files — min, max, any-null per
    * column), tested by [[Prune.KeyBound]]. The bounds are read as
    * catalyst values (a date as epoch days, a timestamp as micros),
    * the stats' own domain. */
  private def pruneByKeyBounds(fs: Seq[FileEntry], keys: DataFrame,
                               keyCols: Seq[String]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{col => fcol, max => fmax, min => fmin, sum => fsum, when}
    if (fs.isEmpty) return fs
    val aggs = keyCols.flatMap(c => Seq(
      fmin(fcol(s"`$c`")).as(s"lo_$c"),
      fmax(fcol(s"`$c`")).as(s"hi_$c"),
      fsum(when(fcol(s"`$c`").isNull, 1L).otherwise(0L)).as(s"n_$c")))
    val row = keys.agg(aggs.head, aggs.tail: _*).head
    def at(name: String): Any =
      CatalystTypeConverters.convertToCatalyst(row.getAs[Any](name))
    val bounds = keyCols.map(c => Prune.KeyBound.of(c, at(s"lo_$c"),
      at(s"hi_$c"),
      Option(row.getAs[Any](s"n_$c")).exists(_.asInstanceOf[Long] > 0L)))
    fs.filter(f => bounds.forall(_.mayHold(f)))
  }

  /** Project `df` (read under snapshot `from`) onto snapshot `to`'s
    * column set, matching columns BY FIELD ID — the changelog's two
    * sides must diff under one schema even when a rename/add/widen
    * landed inside the range. Columns added after `from` surface as
    * null; columns dropped before `to` drop out of the diff (their
    * retired values are unobservable under the `to` schema, which is
    * the changelog's contract). */
  private def alignByFieldId(df: DataFrame, from: Snapshot,
                             to: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol, lit}
    val (fromSchema, fromIds) = (from.schema, from.fieldIds)
    val (toSchema, toIds) = (to.schema, to.fieldIds)
    if (fromSchema == toSchema && fromIds == toIds) return df
    val nameById = fromIds.map(_.swap)
    df.select(toSchema.fields.toIndexedSeq.map { f =>
      toIds.get(f.name).flatMap(nameById.get)
        .filter(n => fromSchema.fieldNames.contains(n)) match {
        case Some(fromName) =>
          fcol(s"`$fromName`").cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }
}

private[graft] object Changes {

  /** What one commit did to the table's rows, derived from the data
    * files and merge-on-read delete entries live before and after it
    * (`before`, `afterDeletes`, ...) and its app-meta: the version, its
    * commit time, its compaction marker and its `cdf.op` stamp. The
    * batch changelog builds the same value over a range's two ends.
    * Metadata only: no file is opened.
    *
    * The compaction rule: a compaction rewrites live rows into fewer
    * files and, by the commit contract, changes no row — so its step
    * removes, adds, deletes and re-scopes nothing. */
  final case class ChangeStep(version: Int, committedAtMs: Long,
                              isCompaction: Boolean, op: Option[String],
                              before: Seq[FileEntry],
                              beforeDeletes: Seq[DeleteEntry],
                              after: Seq[FileEntry],
                              afterDeletes: Seq[DeleteEntry]) {
    private lazy val beforePaths = before.map(_.path).toSet
    private lazy val afterPaths = after.map(_.path).toSet
    private def changing[A](as: => Seq[A]): Seq[A] =
      if (isCompaction) Nil else as

    /** Files whose rows left with the step (overwrite, copy-on-write
      * rewrite). */
    lazy val removed: Seq[FileEntry] =
      changing(before.filterNot(f => afterPaths(f.path)))
    /** Files whose rows entered with it. */
    lazy val added: Seq[FileEntry] =
      changing(after.filterNot(f => beforePaths(f.path)))
    /** Files live on both sides. */
    lazy val survivors: Seq[FileEntry] =
      after.filter(f => beforePaths(f.path))
    lazy val newDeletes: Seq[DeleteEntry] = changing {
      val was = beforeDeletes.map(_.path).toSet
      afterDeletes.filterNot(e => was(e.path))
    }
    lazy val droppedDeletes: Seq[DeleteEntry] = changing {
      val is = afterDeletes.map(_.path).toSet
      beforeDeletes.filterNot(e => is(e.path))
    }
    /** Survivors whose delete scope ([[DeleteEntry.appliesTo]]) grew:
      * they lost exactly the rows the new deletes match. */
    lazy val grew: Seq[FileEntry] =
      survivors.filter(f => newDeletes.exists(_.appliesTo(f)))
    /** Survivors whose delete scope shrank: rows a dropped delete
      * covered are live again. */
    lazy val shrank: Seq[FileEntry] =
      survivors.filter(f => droppedDeletes.exists(_.appliesTo(f)))

    /** The writer stamped the commit a pure-update row delta. */
    def isUpdate: Boolean = op.contains("update")
    /** The step removed a file or added a delete. */
    def removesRows: Boolean = removed.nonEmpty || newDeletes.nonEmpty

    /** The shrink test: a delete entry may drop only when every row it
      * still covered left the live set with this step — otherwise rows
      * RESURRECT, which no insert/delete event stream can express. */
    def requireNoShrink(where: String): Unit =
      droppedDeletes.find(e => shrank.exists(e.appliesTo)).foreach { e =>
        throw new IllegalStateException(
          s"$where: version $version dropped delete entry ${e.path} " +
            "while rows it covered remain live — a delete-scope " +
            "shrink cannot be represented as row-level changes")
      }
  }
}
