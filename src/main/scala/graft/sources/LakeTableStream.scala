package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** Offset/limit plumbing shared by the catalog table's two streaming
  * faces — the APPEND stream ([[GraftLakeMicroBatchStream]]) and the
  * CHANGELOG stream ([[GraftLakeChangesMicroBatchStream]]). Offsets
  * are SNAPSHOT VERSIONS (the same currency as [[LakeLogSource]] and
  * the engine's own MV loops): checkpointed version ranges give
  * exactly-once delivery of each commit across restarts, and
  * `Trigger.AvailableNow` freezes the target version so backfills
  * terminate.
  *
  * Offsets resolve against [[LakeTable.mainVersion]] — the WAP-PINNED
  * head, never the staged one: while a write-audit-publish branch
  * stages commits (every audited MV batch does), a streaming reader
  * must not deliver rows that were never published — an abandoned
  * branch would have already leaked them downstream. Same pin
  * contract as `read()`/`readAsOf`; `publishBranch` moves the pin and
  * the stream advances over the published commits on its next
  * trigger.
  *
  * Starting-point options, Delta parity, both streams:
  *  - `startingVersion=n` (n >= 1): a FRESH checkpoint skips the
  *    initial snapshot and begins at a commit boundary — every commit
  *    with version >= n streams, nothing earlier. Version 0 is not
  *    accepted (that IS the snapshot — omit the option); an expired
  *    startingVersion fails at planning with the retention error,
  *    never silently skips.
  *  - `startingTimestamp=ts` (epoch millis, `yyyy-MM-dd HH:mm:ss`,
  *    or ISO-8601 instant): begins at the FIRST commit whose commit
  *    time is at or after `ts` — resolved through the same snapshot
  *    clock as `TIMESTAMP AS OF` ([[LakeTable.versionAt]]'s data).
  *    A timestamp predating the initial snapshot refuses (omit the
  *    option to stream the snapshot); a timestamp whose first
  *    qualifying commit cannot be PROVEN first because its
  *    predecessor expired refuses with the retention error (never a
  *    silent skip); a timestamp after the last commit starts empty at
  *    the current head (only future commits stream).
  */
private[sources] abstract class GraftVersionedStreamBase(
    lake: LakeTable, options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val maxRows = options.get("maxrowsperbatch").map(_.toLong)

  @volatile private var frozen: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    frozen = Some(lake.mainVersion)

  override def latestOffset(): Offset =
    LakeLogOffset(frozen.getOrElse(lake.mainVersion))

  override def getDefaultReadLimit: ReadLimit =
    maxRows.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** (version, rows this stream would emit for that commit), for
    * versions in (from, target] — the admission currency. Metadata
    * only (manifest row counts), no file opened. */
  protected def emittedRowsBetween(from: Int, target: Int)
      : Seq[(Int, Long)]

  /** Version-granular admission: advance until the accumulated
    * emitted rows of the admitted commits reach the cap (always at
    * least one version — a single commit larger than the cap still
    * ships whole; the initial snapshot batch is likewise
    * indivisible). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = latestOffset().asInstanceOf[LakeLogOffset].version
    val from = start.asInstanceOf[LakeLogOffset].version
    limit match {
      case mr: ReadMaxRows if from >= 0 && target > from =>
        var acc = 0L
        var v = from
        val it = emittedRowsBetween(from, target).iterator
        var done = false
        while (it.hasNext && !done) {
          val (ver, rows) = it.next()
          acc += rows
          v = ver
          if (acc >= mr.maxRows() && v > from) done = true
        }
        LakeLogOffset(v)
      case _ => LakeLogOffset(target)
    }
  }

  require(!(options.contains("startingversion") &&
      options.contains("startingtimestamp")),
    "startingVersion and startingTimestamp are mutually exclusive")

  private val startingVersion = options.get("startingversion").map { v =>
    val n = v.toInt
    require(n >= 1,
      s"startingVersion must be >= 1 (got $n): version 0 is the " +
        "initial snapshot — omit the option to stream it")
    n
  }

  /** Resolved initial-offset version for `startingTimestamp` (the
    * version BEFORE the first streamed commit) — see the class doc
    * for the contract. LAZY on purpose: Spark only consults
    * `initialOffset()` on a FRESH checkpoint, and a restart of a
    * long-running stream must not re-resolve the timestamp — its
    * predecessor version may have aged past retention by then
    * (`firstCommitAtOrAfter`'s proven-first refusal would brick the
    * restart even though the checkpoint never needs the value). Same
    * contract as Delta: starting options resolve for fresh
    * checkpoints only. */
  private lazy val startingTimestamp: Option[Int] =
    options.get("startingtimestamp").map(raw =>
      GraftVersionedStreamBase
        .firstCommitAtOrAfter(lake, raw)
        .map(_ - 1)
        .getOrElse(lake.mainVersion)) // only future commits qualify

  override def initialOffset(): Offset =
    LakeLogOffset(startingVersion.map(_ - 1)
      .orElse(startingTimestamp).getOrElse(-1))
  override def deserializeOffset(json: String): Offset =
    LakeLogOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[graft] object GraftVersionedStreamBase {
  /** Epoch millis, `yyyy-MM-dd HH:mm:ss[.f]` or date-only
    * `yyyy-MM-dd` (JVM timezone, the `java.sql.Timestamp`/`Date`
    * contract — Delta accepts the date-only form too), or an
    * ISO-8601 instant with either `Z` or an explicit zone offset
    * (`2024-01-01T00:00:00+02:00`). */
  def parseTimestampMs(raw: String): Long = {
    val t = raw.trim
    t.toLongOption.getOrElse {
      if (t.contains("T"))
        try java.time.Instant.parse(t).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            java.time.OffsetDateTime.parse(t).toInstant.toEpochMilli
        }
      else if (t.contains(":")) java.sql.Timestamp.valueOf(t).getTime
      else java.sql.Date.valueOf(t).getTime
    }
  }

  /** The FIRST commit whose commit time is at or after `raw`, capped
    * at the WAP pin; None when no commit qualifies (only future
    * commits would). Commit times are monotone non-decreasing, so
    * "first at or after" is PROVEN exactly when the predecessor is
    * retained and committed earlier — an expired predecessor refuses
    * (never a silent skip), and a timestamp predating the initial
    * snapshot refuses (version 0 is the snapshot, not a change).
    * Shared by both streams' `startingTimestamp` and the batch
    * change-feed face. */
  def firstCommitAtOrAfter(lake: LakeTable, raw: String): Option[Int] = {
    val ts = parseTimestampMs(raw)
    val cap = lake.mainVersion
    val snaps = lake.snapshots.filter(_.version <= cap)
    val atOrAfter = snaps.filter(_.committedAtMs >= ts)
    if (atOrAfter.isEmpty) None
    else {
      val v = atOrAfter.map(_.version).min
      require(v >= 1,
        s"startingTimestamp $raw predates the initial snapshot at " +
          s"${lake.root} — omit the option (a fresh checkpoint " +
          "streams the snapshot)")
      require(snaps.exists(_.version == v - 1),
        s"startingTimestamp $raw falls behind the retention window " +
          s"at ${lake.root}: version ${v - 1} has expired, so the " +
          "first commit at or after the timestamp cannot be proven " +
          "— restart from a fresh checkpoint or use startingVersion")
      Some(v)
    }
  }
}

/** `spark.readStream.table("graft.ns.t")` — MICRO_BATCH_READ on the
  * SQL catalog's lake tables; offsets per [[GraftVersionedStreamBase]],
  * `maxRowsPerBatch` paces admission by ACTUAL added rows per commit
  * (manifest row counts — no file opened for planning).
  *
  * Execution reuses Spark's OWN DSv2 parquet reader
  * ([[ParquetPartitionReaderFactory]]) over the manifest's file
  * entries — one [[FilePartition]] per data file, partition-dir values
  * recovered from the manifest's per-file constants, columns
  * re-projected to the table's visible order. Nothing is rebuilt: the
  * planning half is the lake's metadata
  * ([[LakeTable.addedEntriesBetween]]), the reading half is stock
  * Spark.
  *
  * SEMANTICS — append-stream, the Delta contract:
  *  - the INITIAL batch (fresh checkpoint) is the current snapshot's
  *    content WITH live merge-on-read deletes applied — below
  *    `maxMorRowsInitialBatch` delete rows, at the reader (position
  *    skip-lists + equality key maps, broadcast once); ABOVE it, the
  *    batch is served through the engine's DISTRIBUTED merge-on-read
  *    batch read (the executors' anti-join), materialized once under
  *    the stream's own checkpoint scratch dir — zero driver-side
  *    delete state at any delete volume, so a table that just ran a
  *    SQL DELETE/UPDATE/MERGE streams immediately and never serves a
  *    deleted row;
  *  - each later batch is the files ADDED by commits in (lo, hi];
  *    compactions are skipped (rewrites, no new rows); a commit that
  *    REMOVES rows (row-level DELETE/UPDATE/MERGE, overwrite) FAILS
  *    the stream by default — `skipChangeCommits=true` skips such
  *    commits wholesale instead (their appended half too, matching
  *    Delta's option of the same name), and the CHANGELOG stream
  *    (`readStream.table("cat.ns.t.changes")`) mirrors them as
  *    row-level (op, row) events;
  *  - schema stability is guarded by FIELD IDS: every streamed file's
  *    (name, id) pairs must match the current schema (files from
  *    before an ADD COLUMN pass — the reader serves nulls; files from
  *    before a RENAME fail loudly with restart guidance, never serve
  *    stale names as nulls).
  */
class GraftLakeMicroBatchStream(lake: LakeTable, pruned: StructType,
                                options: Map[String, String],
                                checkpointLocation: Option[String] = None)
    extends GraftVersionedStreamBase(lake, options) {

  private val skipChangeCommits =
    options.get("skipchangecommits").exists(_.toBoolean)

  // schema split, pinned at stream construction (one per run):
  // partition-dir columns come back from manifest constants, the rest
  // from the files; hidden physical columns never stream
  private val snapSchema = lake.schema
  private val partCols = lake.partitionBy.toSet
  private val readPartSchema =
    StructType(pruned.fields.filter(f => partCols.contains(f.name)))
  private val readDataSchema =
    StructType(pruned.fields.filterNot(f => partCols.contains(f.name)))
  private val fileSchema =
    StructType(snapSchema.fields.filterNot(f => partCols.contains(f.name)))
  private val currentIds = lake.fieldIds

  override protected def emittedRowsBetween(from: Int, target: Int)
      : Seq[(Int, Long)] =
    lake.addedEntriesBetween(from, target).map {
      case (v, added, _) => (v, added.map(_.rows).sum)
    }

  /** Driver-side bound on the merge-on-read state the INITIAL batch
    * may broadcast (delete positions + equality keys): beyond it, the
    * batch is served through the engine's distributed merge-on-read
    * read instead (see [[LakeStreamPlanning.scratchSnapshot]]). */
  private val maxMorRows = options.get("maxmorrowsinitialbatch")
    .map(_.toLong).getOrElse(4_000_000L)

  /** Scratch dir of the over-bound initial batch, for best-effort
    * cleanup once the batch's offset commits. A terminating
    * AvailableNow run may end before Spark calls `commit`, so the
    * next stream instance over the same checkpoint also sweeps on its
    * first NON-initial planning call (start >= 0 proves batch 0
    * committed durably — its scratch can never be replayed). */
  @volatile private var scratchUsed: Option[(String, Int)] = None
  @volatile private var sweptScratch = false

  override def commit(end: Offset): Unit = scratchUsed match {
    case Some((dir, v))
        if end.asInstanceOf[LakeLogOffset].version >= v =>
      LakeStreamPlanning.bestEffortDelete(dir)
      scratchUsed = None
    case _ => ()
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[LakeLogOffset].version
    val hi = end.asInstanceOf[LakeLogOffset].version
    if (hi <= lo) return Array.empty
    if (lo >= 0 && !sweptScratch) {
      sweptScratch = true
      checkpointLocation.foreach(c =>
        LakeStreamPlanning.sweepScratch(c))
    }
    var mor: Option[(org.apache.spark.broadcast.Broadcast[MorState],
      Set[String], Long)] = None
    var scratch: Array[InputPartition] = null
    val entries: Seq[LakeTable.FileEntry] =
      if (lo < 0) {
        // the INITIAL snapshot batch applies live merge-on-read
        // deletes — broadcast state at the reader below the bound,
        // the engine's distributed anti-join read above it; either
        // way a table that just ran a SQL DELETE/UPDATE/MERGE streams
        // immediately, no compact-first speed bump, and never serves
        // a deleted row
        val (files, dels) = lake.snapshotWithDeletes(hi)
        if (MorPlanning.morRowCount(files, dels) > maxMorRows) {
          val dir = LakeStreamPlanning.scratchDir(checkpointLocation,
            lake, hi, maxMorRows, "maxMorRowsInitialBatch")
          scratchUsed = Some((dir, hi))
          scratch = LakeStreamPlanning.scratchSnapshot(lake, pruned,
            hi, dir).map(fp => GraftScratchInputPartition(fp)
              : InputPartition)
          Nil
        } else {
          if (dels.nonEmpty) {
            val state = MorPlanning.build(lake, files, dels,
              pruned, snapSchema,
              s"cannot start streaming ${lake.root}")
            val touched = state.posByName.keySet
            val maxEqSeq =
              if (state.eqGroups.isEmpty) Long.MinValue
              else state.eqGroups.flatMap(_.keys.values).max
            mor = Some((SparkSession.active.sparkContext.broadcast(state),
              touched, maxEqSeq))
          }
          files
        }
      } else {
        lake.addedEntriesBetween(lo, hi).flatMap {
          case (_, added, false) => added
          case (_, _, true) if skipChangeCommits => Nil
          case (v, _, true) => throw new IllegalStateException(
            s"streaming ${lake.root}: version $v removed or rewrote " +
              "rows (row-level DELETE/UPDATE/MERGE or overwrite) — an " +
              "append stream cannot represent it; set " +
              "skipChangeCommits=true to skip such commits, stream " +
              "the row-level changelog " +
              "(readStream.table(\"<cat>.<ns>.<t>.changes\")), or " +
              "consume LakeTable.readChangelog in batch")
        }
      }
    if (scratch != null) return scratch
    // field-ID stability: a renamed column's old files would otherwise
    // silently serve nulls under the new name
    LakeStreamPlanning.guardFieldIds(lake, currentIds, entries)
    entries.zipWithIndex.map { case (e, i) =>
      val fp = LakeStreamPlanning.filePartition(lake, e, i,
        readPartSchema)
      val name = e.path.split("/").last
      mor match {
        // wrap only files some delete can actually touch: position
        // skip-list present, or an equality delete newer than the file
        case Some((bc, posTouched, maxEqSeq))
            if posTouched.contains(name) || maxEqSeq > e.seq =>
          GraftMorInputPartition(fp, name, e.seq, bc): InputPartition
        case _ => fp: InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val session = SparkSession.active
    GraftLakeStreamReaderFactory(
      LakeStreamPlanning.parquetFactory(session, fileSchema,
        readDataSchema, readPartSchema),
      LakeStreamPlanning.parquetFactory(session, pruned, pruned,
        new StructType()),
      StructType(readDataSchema.fields ++ readPartSchema.fields), pruned)
  }
}

/** Merge-on-read state of a streamed batch, broadcast once: per-file
  * position skip-lists and per-keyset equality maps (key tuple ->
  * newest delete sequence). */
private[sources] case class MorEqGroup(keyCols: Vector[String],
                                       keys: Map[Vector[Any], Long])
private[sources] case class MorState(posByName: Map[String, Array[Long]],
                                     eqGroups: Seq[MorEqGroup]) {
  def isEmpty: Boolean = posByName.isEmpty && eqGroups.isEmpty
}
private[sources] object MorState {
  val empty: MorState = MorState(Map.empty, Nil)
}

/** Driver-side merge-on-read state construction for the streaming
  * reads, shared by the append stream's initial batch and the
  * changelog stream's per-commit deltas. */
private[sources] object MorPlanning {

  /** Normalize one equality-delete key value for CONTENT-based tuple
    * equality matching Spark SQL's null-safe join semantics: -0.0 and
    * +0.0 are the same key (normalized to +0.0 on build AND probe —
    * boxed-value equality would otherwise diverge from the batch
    * read's `<=>` anti-join and resurrect a deleted row). NaN == NaN
    * already holds under boxed equality (`java.lang.Double.equals`
    * semantics), which is exactly SQL's NaN grouping behavior. */
  def normKey(v: Any): Any = v match {
    case d: Double if d == 0.0d => 0.0d
    case f: Float if f == 0.0f  => 0.0f
    case other => other
  }

  /** Manifest-stats prune test over one batch's EQUALITY-delete keys
    * (already on the driver, bounded): can `entry` hold ANY row one of
    * `state`'s key tuples matches? Uses the same normalized [lo, hi]
    * footer stats and unsigned-UTF-8 comparator as the file pruner.
    * CONSERVATIVE throughout — a missing stat, unorderable type, or
    * unnormalizable value answers TRUE; a null key component matches
    * only files not proven null-free; float/double zeros test the
    * whole {-0.0, +0.0} class (Double.compare orders -0.0 < +0.0, and
    * SQL equality does not). This is what keeps a GDPR forget's
    * changelog batch O(files that can hold the keys) instead of
    * O(files predating the delete) on a clustered table — position
    * deletes are not consulted, they name files explicitly. */
  def eqTouchTest(state: MorState): LakeTable.FileEntry => Boolean = {
    def statNorm(v: Any): Option[Any] = v match {
      case x: Byte    => Some(x.toLong)
      case x: Short   => Some(x.toLong)
      case x: Int     => Some(x.toLong)
      case x: Long    => Some(x)
      case x: Float   => Some(x.toDouble)
      case x: Double  => Some(x)
      case x: Boolean => Some(x)
      case x: String  => Some(x)
      case x: UTF8String => Some(x.toString)
      case _ => None
    }
    // containment of one normalized key in one file's [lo, hi]
    def contains(st: LakeTable.ColStat, k: Any): Boolean = {
      val (loProbe, hiProbe) = k match {
        case d: Double if d == 0.0d => (0.0d: Any, -0.0d: Any)
        case other => (other, other)
      }
      LakeTable.cmpStat(st.lo, loProbe).forall(_ <= 0) &&
        LakeTable.cmpStat(hiProbe, st.hi).forall(_ <= 0)
    }
    def colMayHold(e: LakeTable.FileEntry, c: String, v: Any): Boolean =
      v match {
        case null => !e.nullCounts.get(c).contains(0L)
        case _ => statNorm(v) match {
          case None => true
          case Some(k) => e.stats.get(c) match {
            case None => true
            case Some(st) => contains(st, k)
          }
        }
      }
    // small rosters test exact tuples; large ones fall back to
    // per-column bounds (one pass over the keys, O(1) per file)
    val groups: Seq[LakeTable.FileEntry => Boolean] =
      state.eqGroups.filter(_.keys.nonEmpty).map { g =>
        if (g.keys.size <= 1024) { (e: LakeTable.FileEntry) =>
          g.keys.keysIterator.exists(t =>
            g.keyCols.indices.forall(i =>
              colMayHold(e, g.keyCols(i), t(i))))
        } else {
          // per-column (min, max, hasNull, unpruneable) over all tuples
          val bounds = g.keyCols.indices.map { i =>
            var lo: Any = null; var hi: Any = null
            var hasNull = false; var unpruneable = false
            g.keys.keysIterator.foreach { t =>
              statNorm(t(i)) match {
                case _ if t(i) == null => hasNull = true
                case None => unpruneable = true // never prune this col
                case Some(k0) =>
                  // a zero key spans the {-0.0, +0.0} class
                  val (kLo, kHi) = k0 match {
                    case d: Double if d == 0.0d => (-0.0d: Any, 0.0d: Any)
                    case o => (o, o)
                  }
                  if (lo == null ||
                      LakeTable.cmpStat(kLo, lo).forall(_ < 0)) lo = kLo
                  if (hi == null ||
                      LakeTable.cmpStat(kHi, hi).forall(_ > 0)) hi = kHi
              }
            }
            (lo, hi, hasNull, unpruneable)
          }
          (e: LakeTable.FileEntry) =>
            g.keyCols.indices.forall { i =>
              val (lo, hi, hasNull, unpruneable) = bounds(i)
              val c = g.keyCols(i)
              unpruneable ||
                (hasNull && !e.nullCounts.get(c).contains(0L)) ||
                (lo != null && e.stats.get(c).forall(st =>
                  LakeTable.cmpStat(st.lo, hi).forall(_ <= 0) &&
                    LakeTable.cmpStat(lo, st.hi).forall(_ <= 0)))
            }
        }
      }
    e => groups.exists(_(e))
  }

  /** Rows of merge-on-read delete state relevant to `files` —
    * metadata-only (manifest row counts), the bound check's input. */
  def morRowCount(files: Seq[LakeTable.FileEntry],
                  dels: Seq[LakeTable.DeleteEntry]): Long = {
    if (dels.isEmpty) return 0L
    val filePaths = files.map(_.path).toSet
    val minSeq = if (files.isEmpty) Long.MaxValue else files.map(_.seq).min
    dels.collect {
      case e if e.kind != "eq" && e.covers.exists(filePaths.contains) =>
        e.rows
      case e if e.kind == "eq" && e.seq > minSeq => e.rows
    }.sum
  }

  /** Load the delete state relevant to `files` onto the driver:
    * position deletes become per-file sorted skip-lists (keyed by
    * terminal UUID file name — the same encoding-invariant key the
    * batch read joins on), equality deletes become per-keyset maps of
    * key tuple -> newest delete sequence (null-SAFE tuple equality,
    * Iceberg semantics — exactly the `<=>` anti-join `readVersion`
    * runs; a row is deleted iff its file PREDATES the delete). The
    * caller owns the row-count bound ([[morRowCount]]); `errPrefix`
    * heads the refusal messages for non-streamable key shapes. */
  def build(lake: LakeTable, files: Seq[LakeTable.FileEntry],
            dels: Seq[LakeTable.DeleteEntry], pruned: StructType,
            snapSchema: StructType, errPrefix: String): MorState = {
    val session = SparkSession.active
    val filePaths = files.map(_.path).toSet
    val pos = dels.filter(e =>
      e.kind != "eq" && e.covers.exists(filePaths.contains))
    val minSeq = if (files.isEmpty) Long.MaxValue else files.map(_.seq).min
    val eq = dels.filter(e => e.kind == "eq" && e.seq > minSeq)
    eq.flatMap(_.keyCols).distinct.foreach { c =>
      require(pruned.fieldNames.contains(c),
        s"$errPrefix: live equality deletes key on column '$c', " +
          "which the streamed schema does not include — select it, " +
          "or compact() to absorb the deletes")
      // the reader matches key tuples by catalyst-value equality,
      // which is content-based only for atomic types (string/number/
      // boolean/date/time); nested keys would compare by identity and
      // silently resurrect rows — refuse instead
      val atomic = snapSchema(c).dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      }
      require(atomic,
        s"$errPrefix: live equality deletes key on non-atomic column " +
          s"'$c' (${snapSchema(c).dataType.sql}) — run compact() to " +
          "absorb the deletes first")
    }
    val posByName: Map[String, Array[Long]] =
      if (pos.isEmpty) Map.empty
      else session.read.schema(LakeTable.deleteSchema)
        .parquet(pos.map(e => s"${lake.root}/${e.path}"): _*)
        .collect()
        .groupBy(_.getString(0).split("/").last)
        .map { case (n, rows) => n -> rows.map(_.getLong(1)).sorted }
    val eqGroups = eq.groupBy(_.keyCols).toSeq.map { case (cols, es) =>
      val keySchema = StructType(cols.map(c => snapSchema(c)).toSeq)
      val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(keySchema)
      val m = scala.collection.mutable.HashMap[Vector[Any], Long]()
      es.foreach { e =>
        session.read.schema(keySchema)
          .parquet(s"${lake.root}/${e.path}").collect().foreach { r =>
            val ir = conv(r).asInstanceOf[InternalRow]
            val tuple = keySchema.fields.indices
              .map(i => normKey(ir.get(i, keySchema(i).dataType)))
              .toVector
            if (e.seq > m.getOrElse(tuple, Long.MinValue))
              m(tuple) = e.seq
          }
      }
      MorEqGroup(cols.toVector, m.toMap)
    }
    MorState(posByName, eqGroups)
  }
}

/** Shared planning helpers of the two streaming faces. */
private[sources] object LakeStreamPlanning {

  /** Stock-Spark parquet reader factory over the given schema split. */
  def parquetFactory(session: SparkSession, fileSchema: StructType,
                     readDataSchema: StructType,
                     readPartSchema: StructType)
      : ParquetPartitionReaderFactory = {
    val broadcast = org.apache.spark.sql.graft.SparkInternalBridge
      .broadcastParquetReadConf(session, readDataSchema)
    ParquetPartitionReaderFactory(
      session.sessionState.conf, broadcast, fileSchema, readDataSchema,
      readPartSchema, Array.empty,
      Option.empty[org.apache.spark.sql.connector.expressions.aggregate.Aggregation],
      new ParquetOptions(Map.empty[String, String],
        session.sessionState.conf))
  }

  /** One whole-file [[FilePartition]] for a manifest entry, partition
    * values recovered from the manifest's per-file constants. */
  def filePartition(lake: LakeTable, e: LakeTable.FileEntry, index: Int,
                    readPartSchema: StructType): FilePartition =
    FilePartition(index, Array(PartitionedFile(
      partitionValuesOf(lake, e, readPartSchema),
      org.apache.spark.paths.SparkPath.fromPathString(
        s"${lake.root}/${e.path}"),
      0L, e.sizeBytes,
      Array.empty, e.modTimeMs, e.sizeBytes, Map.empty)))

  /** Partition-dir values from the manifest's per-file constants
    * (recorded as [v, v] stats at write time) — no path parsing, no
    * file listing. */
  private def partitionValuesOf(lake: LakeTable, e: LakeTable.FileEntry,
                                readPartSchema: StructType)
      : InternalRow = {
    val values = readPartSchema.fields.map { f =>
      val isNull = e.nullCounts.get(f.name).exists(_ > 0L)
      if (isNull) null
      else {
        val stat = e.stats.getOrElse(f.name,
          throw new IllegalStateException(
            s"streaming ${lake.root}: file ${e.path} carries no " +
              s"recorded value for partition column '${f.name}' " +
              "(unsupported partition type)"))
        (f.dataType, stat.lo) match {
          case (LongType, v: Long)       => v
          case (IntegerType, v: Long)    => v.toInt
          case (ShortType, v: Long)      => v.toShort
          case (ByteType, v: Long)       => v.toByte
          case (DoubleType, v: Double)   => v
          case (FloatType, v: Double)    => v.toFloat
          case (StringType, v: String)   => UTF8String.fromString(v)
          case (BooleanType, v: Boolean) => v
          case (t, v) => throw new IllegalStateException(
            s"streaming ${lake.root}: partition column '${f.name}' " +
              s"of type $t cannot be served from recorded value $v")
        }
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  /** Field-ID stability guard: every streamed file's (name, id) pairs
    * must match the current schema — files from before an ADD COLUMN
    * pass (the reader serves nulls); files from before a RENAME fail
    * loudly, never serve stale names as nulls. */
  def guardFieldIds(lake: LakeTable, currentIds: Map[String, Int],
                    entries: Seq[LakeTable.FileEntry]): Unit =
    entries.foreach(e => e.cols.foreach { case (n, id) =>
      require(currentIds.get(n).contains(id),
        s"streaming ${lake.root}: file ${e.path} was written under a " +
          s"schema where '$n' had field id $id, which no longer " +
          "matches the current schema (a column was renamed/dropped). " +
          "Restart the stream from a fresh checkpoint.")
    })

  /** `boundOption` names the CALLER's knob in the refusal message —
    * the append stream reads `maxMorRowsInitialBatch`, the changelog
    * stream `maxMorRowsPerBatch`. */
  def scratchDir(checkpointLocation: Option[String], lake: LakeTable,
                 v: Int, bound: Long, boundOption: String): String = {
    require(checkpointLocation.isDefined,
      s"cannot start streaming ${lake.root}: the snapshot carries " +
        s"more than $bound live merge-on-read delete rows and no " +
        "checkpoint scratch location is available for the " +
        "distributed initial batch — run compact() to absorb the " +
        s"deletes, or raise the $boundOption stream option")
    s"${checkpointLocation.get}/graft-init-snapshot-v$v"
  }

  /** DISTRIBUTED initial batch for a snapshot whose live
    * merge-on-read delete state exceeds the driver broadcast bound:
    * materialize the engine's batch read of version `v` (deletes
    * applied by the executors' anti-join — O(0) driver state at any
    * delete volume) into the stream's own checkpoint scratch dir,
    * exactly once across restarts (the `_SUCCESS` marker makes a
    * replayed batch 0 reuse the files instead of rewriting), and
    * serve the written files as plain whole-file partitions. The
    * scratch dir lives under the CHECKPOINT (shared storage by the
    * streaming contract) and is deleted when the batch's offset
    * commits. */
  def scratchSnapshot(lake: LakeTable, visible: StructType, v: Int,
                      dir: String): Array[FilePartition] = {
    val session = SparkSession.active
    val hconf = session.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hconf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
      lake.readVersion(v)
        .select(visible.fieldNames.toIndexedSeq
          .map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").parquet(dir)
    listScratch(fs, path)
  }

  /** Whole-file partitions over a scratch dir's written parquet, in
    * a deterministic (name-sorted) order — replays plan the same
    * partitions. */
  def listScratch(fs: org.apache.hadoop.fs.FileSystem,
                  path: org.apache.hadoop.fs.Path)
      : Array[FilePartition] =
    fs.listStatus(path)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
      .zipWithIndex.map { case (st, i) =>
        FilePartition(i, Array(PartitionedFile(
          InternalRow.empty,
          org.apache.spark.paths.SparkPath.fromPath(st.getPath),
          0L, st.getLen, Array.empty, st.getModificationTime,
          st.getLen, Map.empty)))
      }

  def bestEffortDelete(dir: String): Unit =
    try {
      val hconf = SparkSession.active.sessionState.newHadoopConf()
      val path = new org.apache.hadoop.fs.Path(dir)
      path.getFileSystem(hconf).delete(path, true)
    } catch { case _: Exception => () }

  /** Remove leftover scratch under the source's checkpoint dir from a
    * prior run that terminated before its `commit` callback: the
    * initial-batch snapshot (only called once batch 0 is provably
    * committed), and — when `changesBound` carries the current
    * planning call's START version — over-bound delta scratch
    * (`graft-changes-scratch-<lo>-<hi>`) whose `hi` is at or below it
    * (any batch ending at or before the committed start can never
    * replay; the batch being replanned right now ends above it and is
    * kept for `_SUCCESS` reuse). */
  def sweepScratch(checkpointLocation: String,
                   changesBound: Option[Int] = None): Unit =
    try {
      val hconf = SparkSession.active.sessionState.newHadoopConf()
      val path = new org.apache.hadoop.fs.Path(checkpointLocation)
      val fs = path.getFileSystem(hconf)
      if (fs.exists(path))
        fs.listStatus(path).foreach { s =>
          val n = s.getPath.getName
          val sweep = n.startsWith("graft-init-snapshot") ||
            (n.startsWith("graft-changes-scratch-") &&
              changesBound.exists(b =>
                n.split("-").last.toIntOption.exists(_ <= b)))
          if (sweep) fs.delete(s.getPath, true)
        }
    } catch { case _: Exception => () }
}

/** A data file of the initial batch that live deletes may touch: the
  * stock [[FilePartition]] plus its UUID name, its data sequence
  * number, and the broadcast MOR state. */
case class GraftMorInputPartition(
    inner: FilePartition, fileName: String, fileSeq: Long,
    state: org.apache.spark.broadcast.Broadcast[MorState])
    extends InputPartition

/** A scratch file of the over-bound DISTRIBUTED initial batch: plain
  * parquet in the stream's visible column order, no partition-dir
  * values, no delete state (already applied by the batch read that
  * wrote it). */
case class GraftScratchInputPartition(inner: FilePartition)
    extends InputPartition

/** Per-file merge-on-read row filter, evaluated on the executor
  * against one broadcast [[MorState]]: the reader's sequential row
  * index within a whole-file partition IS the parquet `row_index`
  * position deletes name, and equality deletes match by null-safe
  * key-tuple lookup (keys [[MorPlanning.normKey normalized]] on both
  * sides) scoped to files older than the delete. */
private[sources] class MorRowFilter(state: MorState, fileName: String,
                                    fileSeq: Long,
                                    readerOrder: StructType) {
  private val positions =
    state.posByName.getOrElse(fileName, Array.empty[Long])
  private val eqFilters = state.eqGroups.map { g =>
    val ords = g.keyCols.map(c => readerOrder.fieldIndex(c)).toArray
    val dts = g.keyCols
      .map(c => readerOrder(readerOrder.fieldIndex(c)).dataType)
      .toArray
    (ords, dts, g.keys)
  }.filter(_._3.nonEmpty)

  def deleted(r: InternalRow, pos: Long): Boolean =
    (positions.length > 0 &&
      java.util.Arrays.binarySearch(positions, pos) >= 0) ||
    eqFilters.exists { case (ords, dts, keys) =>
      val tuple = ords.indices
        .map(i => MorPlanning.normKey(r.get(ords(i), dts(i)))).toVector
      keys.get(tuple).exists(_ > fileSeq)
    }
}

/** Wraps the stock parquet reader to re-project its (data ++
  * partition) column order back to the table's visible order — the
  * streaming relation's output is the TABLE schema, not the reader's
  * layout — and, for initial-batch partitions carrying MOR state, to
  * apply the deletes row-by-row BEFORE projection ([[MorRowFilter]]).
  * Scratch partitions (the distributed initial batch) read through
  * their own delegate: already in visible order, no filtering.
  * Projection built lazily on the executor. */
case class GraftLakeStreamReaderFactory(
    delegate: ParquetPartitionReaderFactory,
    scratchDelegate: ParquetPartitionReaderFactory,
    readerOrder: StructType, targetOrder: StructType)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    p match {
      case s: GraftScratchInputPartition =>
        return scratchDelegate.createReader(s.inner)
      case _ => ()
    }
    val (filePart, morFilter) = p match {
      case m: GraftMorInputPartition =>
        (m.inner,
          Some(new MorRowFilter(m.state.value, m.fileName, m.fileSeq,
            readerOrder)))
      case fp: FilePartition => (fp, None)
    }
    val base = delegate.createReader(filePart)
    val filtered = morFilter match {
      case None => base
      case Some(mf) =>
        new PartitionReader[InternalRow] {
          private var idx = -1L
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (base.next()) {
              idx += 1
              val r = base.get()
              if (!mf.deleted(r, idx)) { cur = r; return true }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = base.close()
        }
    }
    if (readerOrder == targetOrder) filtered
    else new PartitionReader[InternalRow] {
      private val attrs = DataTypeUtils.toAttributes(readerOrder)
      private val proj = UnsafeProjection.create(
        targetOrder.fieldNames.toSeq.map(n =>
          attrs.find(_.name == n).getOrElse(
            throw new IllegalStateException(
              s"stream projection lost column $n"))),
        attrs)
      override def next(): Boolean = filtered.next()
      override def get(): InternalRow = proj(filtered.get())
      override def close(): Unit = filtered.close()
    }
  }
}
