package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** `spark.readStream.table("graft.ns.t.changes")` — the streaming
  * ROW-LEVEL CHANGELOG (Delta's `readChangeFeed`, Iceberg's changelog
  * scan, as a MICRO_BATCH_READ): every commit a table takes — append,
  * merge-on-read DELETE/UPDATE/MERGE, overwrite — streams as (row,
  * `_change_type` insert|delete, `_commit_version`) events a
  * downstream consumer applies IN `_commit_version` ORDER to mirror
  * the table exactly across a session/engine boundary. This is the
  * read-side twin of `writeStream.toTable`: the engine's own index
  * MVs run this CDC-apply loop in-process; the changelog stream is
  * the same contract over the public streaming API.
  *
  * Offsets are snapshot versions ([[GraftVersionedStreamBase]]: WAP
  * pin, `startingVersion`/`startingTimestamp`, AvailableNow,
  * `maxRowsPerBatch` admission by per-commit emitted rows). A FRESH
  * checkpoint first serves the current snapshot as one batch of
  * `insert` events (merge-on-read deletes applied — below the bound
  * at the reader, above it through the engine's distributed batch
  * read, like the append stream's initial batch), then per-commit
  * deltas.
  *
  * EXECUTION — every batch is FILE-GRAINED, fully distributed, cost
  * O(files the commits touched), never O(table), planned from each
  * commit's [[graft.lake.Changes.ChangeStep]]:
  *  - files a commit ADDED serve their rows as `insert` (same-commit
  *    equality deletes never apply to them — Iceberg seq semantics);
  *  - files a commit REMOVED (overwrite, copy-on-write rewrite) serve
  *    their LIVE rows — prior merge-on-read scope applied at the
  *    reader — as `delete` (full-churn for rewrites, exactly Delta's
  *    CDF contract for non-CDC-aware overwrites: correct under
  *    in-order apply, net-exact per commit for the engine's own
  *    delete/overwrite shapes);
  *  - files whose merge-on-read delete SCOPE GREW serve exactly the
  *    newly-deleted rows (match the commit's new delete entries, and
  *    NOT the prior scope) as `delete` — a GDPR equality-delete
  *    commit on a 100 TB table streams O(covered files), zero
  *    shuffles;
  *  - compactions net to zero by the commit contract (their step
  *    changes no row); a delete-scope SHRINK on a live file (dead
  *    delete entries drop only when every covered row left the live
  *    set) is impossible under the contract and REFUSES loudly if
  *    ever observed rather than emitting a wrong changelog.
  *
  * The per-batch delete state is the COMMITS' OWN DELTA (plus the
  * prior scope of touched files), broadcast once and bounded by
  * `maxMorRowsPerBatch` (default 4M rows) — ABOVE the bound the batch
  * is served DISTRIBUTED instead ([[distributedDeltaPartitions]]: the
  * per-commit batch changelog algebra materialized into checkpoint
  * scratch, zero driver-side delete state), so a bulk GDPR purge or a
  * wide MERGE streams at any delete volume. Replays are
  * deterministic: the same version range plans the same partitions
  * (the scratch path via its `_SUCCESS` reuse), so a checkpoint
  * restart mid-delta re-serves its batch exactly.
  *
  * Event TYPES are Delta CDF parity: `insert` | `delete` |
  * `update_preimage` | `update_postimage` — the update pair emitted
  * exactly for commits the writer stamped `cdf.op=update` (pure-update
  * row deltas: SQL UPDATE, update-only MERGE, merge-on-read mode);
  * everything else keeps `insert`/`delete`, which a consumer applies
  * identically.
  */
class GraftLakeChangesMicroBatchStream(lake: LakeTable,
                                       target: StructType,
                                       options: Map[String, String],
                                       checkpointLocation: Option[String])
    extends GraftVersionedStreamBase(lake, options) {

  import GraftLakeChangesMicroBatchStream._

  /** The data half of the output (target minus the CDF columns). */
  private val visible = StructType(target.fields.filterNot(f =>
    f.name == ChangeTypeCol || f.name == CommitVersionCol ||
      f.name == CommitTimestampCol))

  private val snapSchema = lake.schema
  private val partCols = lake.partitionBy.toSet
  private val readPartSchema =
    StructType(visible.fields.filter(f => partCols.contains(f.name)))
  private val readDataSchema =
    StructType(visible.fields.filterNot(f => partCols.contains(f.name)))
  private val fileSchema =
    StructType(snapSchema.fields.filterNot(f => partCols.contains(f.name)))
  private val currentIds = lake.fieldIds

  private val maxMorRows = options.get("maxmorrowsperbatch")
    .map(_.toLong).getOrElse(4_000_000L)

  /** Scratch dirs of served distributed batches (initial snapshot or
    * over-bound deltas), keyed by the version whose durable commit
    * proves the batch can never replay — best-effort deleted then. */
  private val scratchLive =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  @volatile private var sweptScratch = false

  override def commit(end: Offset): Unit = {
    val v = end.asInstanceOf[LakeLogOffset].version
    scratchLive.filterInPlace { (dir, bound) =>
      if (v >= bound) { LakeStreamPlanning.bestEffortDelete(dir); false }
      else true
    }
    ()
  }

  override protected def emittedRowsBetween(from: Int, targetV: Int)
      : Seq[(Int, Long)] =
    lake.steps(from, targetV).map(st => (st.version,
      (st.removed ++ st.added).map(_.rows).sum +
        st.newDeletes.map(_.rows).sum))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[LakeLogOffset].version
    val hi = end.asInstanceOf[LakeLogOffset].version
    if (hi <= lo) return Array.empty
    val session = SparkSession.active
    if (lo < 0) return initialSnapshotPartitions(session, hi)
    if (!sweptScratch) { // every batch ending at or before `lo` is
      sweptScratch = true // provably committed: sweep its leftovers
      checkpointLocation.foreach(c =>
        LakeStreamPlanning.sweepScratch(c, changesBound = Some(lo)))
    }

    val errPrefix = s"changelog streaming ${lake.root}"
    // metadata only: each commit decomposes into per-file plans
    val steps = lake.steps(lo, hi)
    steps.foreach(_.requireNoShrink(errPrefix))
    // ---- bound the batch's driver-broadcast delete state ------------
    // Below the bound, the commits' delete delta broadcasts and every
    // file reads exactly once (the fast path). Above it — a bulk GDPR
    // purge, a wide MERGE — the batch is served DISTRIBUTED instead:
    // the per-commit batch changelog algebra (LakeTable.readChangelog,
    // executor-side anti-joins, zero driver-side delete state)
    // materialized once into the stream's checkpoint scratch under the
    // batch-0 `_SUCCESS` idempotence pattern, so the stream keeps
    // flowing at any delete volume instead of refusing.
    val totalMorRows = steps.map(st =>
      MorPlanning.morRowCount(st.removed ++ st.grew, st.beforeDeletes) +
        MorPlanning.morRowCount(st.grew ++ st.added, st.newDeletes)).sum
    if (totalMorRows > maxMorRows)
      return distributedDeltaPartitions(session, lo, hi)
    // ---- build + broadcast the per-version states --------------------
    val perVersion: Map[Int, ChangeVersionState] = steps.map { st =>
      val oldState =
        if ((st.removed ++ st.grew).isEmpty || st.beforeDeletes.isEmpty)
          MorState.empty
        else MorPlanning.build(lake, st.removed ++ st.grew,
          st.beforeDeletes, visible, snapSchema, errPrefix)
      val addedState =
        if (st.newDeletes.isEmpty) MorState.empty
        else MorPlanning.build(lake, st.grew ++ st.added, st.newDeletes,
          visible, snapSchema, errPrefix)
      st.version -> ChangeVersionState(oldState, addedState)
    }.toMap
    val bc = session.sparkContext
      .broadcast(ChangeBatchState(perVersion))
    val allEntries = steps.flatMap(st => st.removed ++ st.grew ++ st.added)
    LakeStreamPlanning.guardFieldIds(lake, currentIds, allEntries)
    // ---- per-file change partitions ----------------------------------
    var idx = -1
    steps.flatMap { st =>
      def part(f: LakeTable.FileEntry, changeType: String, mode: Int)
          : InputPartition = {
        idx += 1
        GraftChangeInputPartition(
          LakeStreamPlanning.filePartition(lake, f, idx, readPartSchema),
          f.path.split("/").last, f.seq, st.version, st.committedAtMs,
          changeType, mode, bc)
      }
      val state = perVersion(st.version)
      // manifest-stats prune over the commit's own equality keys: a
      // growth file whose [lo, hi] ranges can hold NO deleted key
      // emits nothing and is never read — a GDPR forget's changelog
      // batch reads O(files that can hold the keys), not O(files
      // predating the delete), on any clustered/bucketed layout.
      // Files a NEW position delete names are kept unconditionally.
      val eqTouch = MorPlanning.eqTouchTest(state.added)
      val grewEmit = st.grew.filter { f =>
        val n = f.path.split("/").last
        state.added.posByName.contains(n) || eqTouch(f)
      }
      // a pure-update row-delta commit (writer-stamped cdf.op=update)
      // has an exact CDF typing: its growth deletes ARE the updated
      // rows' pre-images and its added rows their post-images
      val (delType, insType) =
        if (st.isUpdate) (UpdatePreimage, UpdatePostimage)
        else ("delete", "insert")
      st.removed.map(f => part(f, "delete", ModeLiveOld)) ++
        grewEmit.map(f => part(f, delType, ModeGrowth)) ++
        st.added.map { f =>
          val n = f.path.split("/").last
          // same-commit equality deletes never apply (equal seq);
          // a position delete covering a same-commit file would —
          // guard it, though the engine's own commits never do this
          val guarded = state.added.posByName.contains(n)
          part(f, insType, if (guarded) ModeInsertGuard else ModeNone)
        }
    }.toArray
  }

  /** Over-bound DELTA batch, served DISTRIBUTED: the per-commit batch
    * changelog ([[GraftLakeChangesMicroBatchStream.commitChangeFrames]]
    * — `LakeTable.readChangelog` per version, executor-side
    * anti-joins, typed like the stream) materialized once into the
    * checkpoint's scratch dir (`_SUCCESS` makes a replayed batch reuse
    * the files — deterministic re-delivery across restarts), served as
    * plain whole-file partitions in the changes schema. Zero
    * driver-side delete state at any delete volume; the scratch is
    * swept when the batch's offset commits (and by the
    * next instance's first planning call if the query died first). */
  private def distributedDeltaPartitions(session: SparkSession, lo: Int,
                                         hi: Int): Array[InputPartition] = {
    require(checkpointLocation.isDefined,
      s"changelog streaming ${lake.root}: the batch for commits " +
        s"($lo, $hi] exceeds the $maxMorRows merge-on-read row bound " +
        "and no checkpoint scratch location is available for the " +
        "distributed read — raise the maxMorRowsPerBatch stream option")
    val dir = s"${checkpointLocation.get}/graft-changes-scratch-$lo-$hi"
    val hconf = session.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(hconf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
      GraftLakeChangesMicroBatchStream.commitChangeFrames(lake,
        visible.fieldNames.toSeq, lo, hi).write.mode("overwrite").parquet(dir)
    }
    scratchLive.put(dir, hi)
    LakeStreamPlanning.listScratch(fs, path)
      .map(fp => GraftScratchDeltaInputPartition(fp): InputPartition)
  }

  /** Fresh-checkpoint batch 0: the snapshot at `hi` as `insert`
    * events, merge-on-read deletes applied — broadcast state below
    * the bound, the engine's distributed batch read above it. */
  private def initialSnapshotPartitions(session: SparkSession, hi: Int)
      : Array[InputPartition] = {
    val (files, dels) = lake.snapshotWithDeletes(hi)
    val tsMs = lake.committedAtMs(hi)
    if (MorPlanning.morRowCount(files, dels) > maxMorRows) {
      val dir = LakeStreamPlanning.scratchDir(checkpointLocation, lake,
        hi, maxMorRows, "maxMorRowsPerBatch")
      scratchLive.put(dir, hi)
      return LakeStreamPlanning.scratchSnapshot(lake, visible, hi, dir)
        .map(fp => GraftScratchChangeInputPartition(fp, hi, tsMs)
          : InputPartition)
    }
    LakeStreamPlanning.guardFieldIds(lake, currentIds, files)
    val state =
      if (dels.isEmpty) MorState.empty
      else MorPlanning.build(lake, files, dels, visible, snapSchema,
        s"cannot start changelog streaming ${lake.root}")
    val bc = session.sparkContext.broadcast(
      ChangeBatchState(Map(hi -> ChangeVersionState(state,
        MorState.empty))))
    val maxEqSeq =
      if (state.eqGroups.isEmpty) Long.MinValue
      else state.eqGroups.flatMap(_.keys.values).max
    files.zipWithIndex.map { case (e, i) =>
      val fp = LakeStreamPlanning.filePartition(lake, e, i,
        readPartSchema)
      val name = e.path.split("/").last
      val touched =
        state.posByName.contains(name) || maxEqSeq > e.seq
      GraftChangeInputPartition(fp, name, e.seq, hi, tsMs, "insert",
        if (touched) ModeLiveOld else ModeNone, bc): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val session = SparkSession.active
    val fullOrder = schemaFor(visible)
    GraftChangesReaderFactory(
      LakeStreamPlanning.parquetFactory(session, fileSchema,
        readDataSchema, readPartSchema),
      LakeStreamPlanning.parquetFactory(session, visible, visible,
        new StructType()),
      LakeStreamPlanning.parquetFactory(session, fullOrder, fullOrder,
        new StructType()),
      StructType(readDataSchema.fields ++ readPartSchema.fields),
      visible)
  }
}

object GraftLakeChangesMicroBatchStream {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  /** Delta-parity CDF types of a pure-update row-delta commit's
    * events (writer-stamped `cdf.op=update`): the delete half carries
    * the updated rows' pre-images, the insert half their post-images.
    * Everything else streams as `insert`/`delete` — a consumer applies
    * `update_preimage` exactly like `delete` and `update_postimage`
    * exactly like `insert`. */
  val UpdatePreimage = "update_preimage"
  val UpdatePostimage = "update_postimage"
  val CommitTimestampCol = "_commit_timestamp"

  /** The changes table's schema: the table's visible columns plus the
    * three CDF columns — `_change_type` (insert | delete |
    * update_preimage | update_postimage), `_commit_version`, and
    * `_commit_timestamp` (the commit's wall-clock, the same value
    * `TIMESTAMP AS OF` resolves against) — Delta's full CDF column
    * set. */
  def schemaFor(visible: StructType): StructType =
    StructType(visible.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false),
      StructField(CommitTimestampCol, TimestampType, nullable = false)))

  /** The TYPED per-commit changelog frames of versions (from, to],
    * unioned: the batch algebra ([[LakeTable.readChangelog]] over
    * (v-1, v] — executor-side anti-joins, manifest-cancel diff) of each
    * step of one walk, with the commit's `cdf.op` stamp applied and
    * `_commit_version` and `_commit_timestamp` stamped. ONE code path
    * shared by the batch change-feed face
    * ([[graft.lake.GraftChangesTable]]) and the stream's distributed
    * over-bound delta batches, so the two faces cannot drift. */
  def commitChangeFrames(lake: LakeTable, visibleNames: Seq[String],
                         from: Int, to: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    balancedUnion(lake.perCommitChanges(from, to).map { case (st, ch) =>
      val typed =
        if (!st.isUpdate) col(ChangeTypeCol)
        else when(col(ChangeTypeCol) === "delete", lit(UpdatePreimage))
          .otherwise(lit(UpdatePostimage))
      ch.select(visibleNames.map(col) :+ typed.as(ChangeTypeCol) :+
        lit(st.version.toLong).as(CommitVersionCol) :+
        lit(new java.sql.Timestamp(st.committedAtMs))
          .as(CommitTimestampCol): _*)
    })
  }

  /** Pairwise-halving union: O(log n) plan depth on wide commit
    * ranges where a left fold would build an O(n)-deep tree (slow
    * analysis, driver stack overflow on thousands of commits). */
  private def balancedUnion(frames: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    def go(fs: IndexedSeq[org.apache.spark.sql.DataFrame])
        : org.apache.spark.sql.DataFrame =
      if (fs.length == 1) fs.head
      else go(fs.grouped(2).map(g =>
        if (g.length == 2) g(0).unionByName(g(1)) else g(0))
        .toIndexedSeq)
    go(frames.toIndexedSeq)
  }

  /** Emit modes of a change partition's row filter. */
  val ModeNone = 0        // every row (added files, clean snapshot)
  val ModeLiveOld = 1     // rows live under the PRIOR delete scope
  val ModeGrowth = 2      // rows the commit's NEW deletes kill (and
                          // the prior scope had not)
  val ModeInsertGuard = 3 // added-file rows no delete touches
}

/** Per-version merge-on-read states of one changelog batch: `old` is
  * the prior scope of the commit's touched files, `added` the
  * commit's own new delete entries. */
private[sources] case class ChangeVersionState(old: MorState,
                                               added: MorState)
private[sources] case class ChangeBatchState(
    perVersion: Map[Int, ChangeVersionState])

/** One data file's contribution to a changelog batch: the stock
  * [[FilePartition]] plus the change constants and the broadcast
  * batch state. */
case class GraftChangeInputPartition(
    inner: FilePartition, fileName: String, fileSeq: Long,
    version: Int, commitTsMs: Long, changeType: String, mode: Int,
    state: org.apache.spark.broadcast.Broadcast[ChangeBatchState])
    extends InputPartition

/** A scratch file of the over-bound distributed initial batch, all
  * rows `insert` at `version`. */
case class GraftScratchChangeInputPartition(inner: FilePartition,
                                            version: Int,
                                            commitTsMs: Long)
    extends InputPartition

/** A scratch file of an over-bound distributed DELTA batch: plain
  * parquet already in the full changes schema (visible columns ++
  * `_change_type` ++ `_commit_version`, typed and stamped by
  * [[GraftLakeChangesMicroBatchStream.commitChangeFrames]]) — served
  * raw, no filter, no projection. */
case class GraftScratchDeltaInputPartition(inner: FilePartition)
    extends InputPartition

/** Executes a changelog partition: the stock parquet reader, the
  * partition's mode-selected row filter over the broadcast
  * [[MorRowFilter]] pair, then projection to (visible order ++
  * `_change_type` ++ `_commit_version`) with the partition's
  * constants. */
case class GraftChangesReaderFactory(
    delegate: ParquetPartitionReaderFactory,
    scratchDelegate: ParquetPartitionReaderFactory,
    deltaScratchDelegate: ParquetPartitionReaderFactory,
    readerOrder: StructType, visibleOrder: StructType)
    extends PartitionReaderFactory {

  import GraftLakeChangesMicroBatchStream._

  override def supportColumnarReads(p: InputPartition): Boolean = false

  private def projectTo(inputOrder: StructType, changeType: String,
                        version: Int, commitTsMs: Long)
      : (PartitionReader[InternalRow]) => PartitionReader[InternalRow] =
    inner => new PartitionReader[InternalRow] {
      private val attrs = DataTypeUtils.toAttributes(inputOrder)
      private val exprs: Seq[Expression] =
        visibleOrder.fieldNames.toSeq.map(n =>
          attrs.find(_.name == n).getOrElse(
            throw new IllegalStateException(
              s"changelog projection lost column $n"))) ++ Seq(
          Literal(UTF8String.fromString(changeType), StringType),
          Literal(version.toLong, LongType),
          Literal(commitTsMs * 1000L, TimestampType)) // catalyst micros
      private val proj = UnsafeProjection.create(exprs, attrs)
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = proj(inner.get())
      override def close(): Unit = inner.close()
    }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case s: GraftScratchChangeInputPartition =>
      projectTo(visibleOrder, "insert", s.version, s.commitTsMs)(
        scratchDelegate.createReader(s.inner))
    case d: GraftScratchDeltaInputPartition =>
      deltaScratchDelegate.createReader(d.inner)
    case c: GraftChangeInputPartition =>
      val base = delegate.createReader(c.inner)
      val st = c.state.value.perVersion(c.version)
      lazy val oldF =
        new MorRowFilter(st.old, c.fileName, c.fileSeq, readerOrder)
      lazy val addF =
        new MorRowFilter(st.added, c.fileName, c.fileSeq, readerOrder)
      val filtered =
        if (c.mode == ModeNone) base
        else new PartitionReader[InternalRow] {
          private var idx = -1L
          private var cur: InternalRow = _
          private def emits(r: InternalRow, pos: Long): Boolean =
            c.mode match {
              case ModeLiveOld => !oldF.deleted(r, pos)
              case ModeGrowth =>
                addF.deleted(r, pos) && !oldF.deleted(r, pos)
              case ModeInsertGuard =>
                !addF.deleted(r, pos) && !oldF.deleted(r, pos)
              case m => throw new IllegalStateException(
                s"unknown changelog partition mode $m")
            }
          override def next(): Boolean = {
            while (base.next()) {
              idx += 1
              val r = base.get()
              if (emits(r, idx)) { cur = r; return true }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = base.close()
        }
      projectTo(readerOrder, c.changeType, c.version, c.commitTsMs)(
        filtered)
    case other => throw new IllegalStateException(
      s"unexpected changelog partition $other")
  }
}
