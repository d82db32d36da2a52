package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Commit._
import LakeTable._

/** Row-level writes: every delete, upsert and MERGE of [[LakeTable]] is
  * one [[RowLevel.RowDelta]] — the rows that leave, the rows that
  * arrive, copy-on-write (CoW) or merge-on-read (MOR), and an optional
  * exactly-once guard — and [[apply]] lands it in one commit.
  *
  * LAND writes the inserts once (aligned to the user columns, CHECK
  * constraints enforced); an upsert's keys are read back from them and
  * a caller's positions are pinned. Under MOR, LOCATE turns the leaving
  * rows into delete files: a condition through the one row-coordinate
  * scan (`readEntries(coords = true)`, which
  * [[LakeTable.readWithRowCoords]] also serves) to (file, pos)
  * positions, equality keys as they are, with no scan of the table.
  * Under CoW, LAND rewrites exactly the live files that lost a row and
  * replaces them. It commits one [[Commit.Change]]; a data file that
  * holds no row is reclaimed, never committed.
  *
  * What every row-level write promises:
  *  - a row whose condition evaluates NULL stays (SQL DELETE's three-
  *    valued semantics);
  *  - snapshot isolation: rows are located in the snapshot read at
  *    entry; appends that land since are rebased, never removed;
  *  - a concurrent rewrite of a file the delta touches ends it in a
  *    ConcurrentModificationException (retry to re-locate), and a CoW
  *    rewrite also refuses a delete file that landed since its base,
  *    whose rows it would otherwise resurrect;
  *  - an EMPTY delta (no row leaves, no row arrives) commits nothing;
  *    under an exactly-once guard it commits one metadata-only stamp,
  *    so the writer's high-water mark still advances and its replay is
  *    a no-op;
  *  - it returns the committed version, or the current one when it
  *    committed nothing. */
private[lake] trait RowLevel { self: LakeTable =>
  import RowLevel._

  /** Copy-on-write DELETE of the rows matching `condition`: manifest
    * stats narrow the scan, only the files holding a matching row are
    * rewritten, every other file survives byte-identical. */
  def deleteWhere(condition: Column): Int =
    apply(RowDelta(Where(condition), None, copyOnWrite = true, None,
      Map.empty))

  /** Merge-on-read DELETE (Iceberg-v2 position deletes): the matching
    * rows' (data file, position) pairs are committed as a delete file
    * under `deletes/data/` and no data file is rewritten, so the write
    * costs O(matched rows), not O(files holding them). Every read path
    * anti-joins live delete files on (file, pos) until a rewrite
    * absorbs them (a rewrite drops a delete file once all the data
    * files it covers have left). */
  def deleteWherePositional(condition: Column): Int =
    apply(RowDelta(Where(condition), None, copyOnWrite = false, None,
      Map.empty))

  /** Merge-on-read EQUALITY delete: every row whose `keyCols` tuple is
    * in `keys` is deleted by committing the key values themselves —
    * O(|keys|), no scan of the table. Reads apply it as a null-safe key
    * anti-join scoped by sequence number: only rows of files committed
    * before it match, so a key appended again later is visible (Iceberg
    * v2 semantics). Needs no conflict guard: there are no positions to
    * go stale. */
  def deleteWhereEqual(keys: DataFrame, keyCols: Seq[String]): Int =
    apply(RowDelta(Keys(keyCols, Some(keys)), None, copyOnWrite = false,
      None, Map.empty))

  /** [[deleteWhereEqual]] under the (writerId, batchId) guard of
    * [[appendExactlyOnce]]: a replayed CDC batch must not re-commit the
    * delete, whose fresh sequence number would kill rows legitimately
    * re-inserted since. */
  def deleteWhereEqualExactlyOnce(keys: DataFrame, keyCols: Seq[String],
                                  writerId: String, batchId: Long): Int =
    apply(RowDelta(Keys(keyCols, Some(keys)), None, copyOnWrite = false,
      Some(Once(writerId, batchId)), Map.empty))

  /** Copy-on-write MERGE keyed on `keyCols`: every row whose key is in
    * `source` is replaced by the source row, and source rows with unseen
    * keys are inserted (at most one source row per key; dedupe
    * upstream). Only the files holding a matched key are rewritten; a
    * source matching no key is a plain append. */
  def upsert(source: DataFrame, keyCols: Seq[String]): Int =
    apply(RowDelta(Keys(keyCols, None), Some(source), copyOnWrite = true,
      None, Map.empty))

  /** [[upsert]] under the (writerId, batchId) guard of
    * [[appendExactlyOnce]]: a replayed batch of a non-deterministic
    * aggregate, which could merge different rows the second time, is a
    * no-op instead. */
  def upsertExactlyOnce(source: DataFrame, keyCols: Seq[String],
                        writerId: String, batchId: Long): Int =
    apply(RowDelta(Keys(keyCols, None), Some(source), copyOnWrite = true,
      Some(Once(writerId, batchId)), Map.empty))

  /** Merge-on-read MERGE, [[upsert]]'s O(source) twin: one commit
    * appends the source rows and an equality delete of their keys, both
    * at the same sequence number, so the reader's strict
    * `fileSeq < deleteSeq` masks every earlier row of a merged key and
    * keeps its replacement. Nothing is scanned or rewritten; reads pay
    * one key anti-join per outstanding entry until compaction absorbs
    * it. */
  def upsertMor(source: DataFrame, keyCols: Seq[String]): Int =
    apply(RowDelta(Keys(keyCols, None), Some(source), copyOnWrite = false,
      None, Map.empty))

  /** [[upsertMor]] under the (writerId, batchId) guard of
    * [[appendExactlyOnce]], for streaming merge sinks. */
  def upsertMorExactlyOnce(source: DataFrame, keyCols: Seq[String],
                           writerId: String, batchId: Long): Int =
    apply(RowDelta(Keys(keyCols, None), Some(source), copyOnWrite = false,
      Some(Once(writerId, batchId)), Map.empty))

  /** The write half of SQL UPDATE / MERGE INTO (Spark's delta-based
    * row-level rewrite): `deletePositions` names rows by their
    * [[readWithRowCoords]] coordinates (`_file`, `_pos`), `inserts`
    * carries new and replacement rows in user columns, and both land
    * in one commit — merge-on-read (position deletes plus appended
    * rows, O(delta)) or copy-on-write (the files that lost a row
    * rewritten). Refused while a WAP branch stages: the positions were
    * resolved against the pinned main version, but the commit would
    * land on the branch. */
  def applyRowDelta(deletePositions: DataFrame, inserts: DataFrame,
                    copyOnWrite: Boolean = false,
                    extraMeta: Map[String, String] = Map.empty): Int =
    apply(RowDelta(Positions(deletePositions), Some(inserts), copyOnWrite,
      None, extraMeta))

  /** Land `d` in one commit (see the module doc). */
  private[lake] def apply(d: RowDelta): Int = {
    if (d.leaving.isInstanceOf[Positions])
      activeBranch.foreach { case (br, _) =>
        throw new IllegalStateException(
          s"row-level delta on $root while WAP branch '$br' is staging " +
            "— publish or abandon the branch first")
      }
    d.once.fold(land(latest(), d))(o =>
      exactlyOnce(o.writerId, o.batchId)((s, _) => land(s, d)))
  }

  private def land(s: Snapshot, d: RowDelta): Int = {
    d.leaving match {
      case Keys(cols, _) => require(
        cols.nonEmpty && cols.forall(s.schema.fieldNames.contains),
        s"row-level keys [${cols.mkString(", ")}] not in schema at $root")
      case _ =>
    }
    val inserts = d.inserts.map(i =>
      written(enforced(alignToUserColumns(i, s), s), s))
    val added = inserts.toSeq.flatMap(_.files)
    // keys in table types, an upsert's read back from its written
    // inserts (both sides of its commit agree even under a
    // non-deterministic source); a caller's positions pinned, since its
    // plan may be non-deterministic and they are read more than once
    val leaving = d.leaving match {
      case Keys(cols, given) => Keys(cols, given
        .orElse(if (added.isEmpty) None
          else Some(readEntries(added, s, claimBucket = false)))
        .map(_.select(cols.map(c => col(c).cast(s.schema(c).dataType)): _*)
          .distinct()))
      case Positions(p) => Positions(p
        .select(col(RowFileCol).cast("string").as(DeleteFileCol),
          col(RowPosCol).cast("long").as(DeletePosCol))
        .localCheckpoint(eager = false))
      case w => w
    }
    val (deletes, affected, survivors) =
      if (d.copyOnWrite) {
        val (replaced, rewritten) = rewrite(s, leaving, added)
        (Nil, replaced, rewritten)
      } else (locate(s, leaving).fold(Seq.empty[DeleteEntry]) {
        case (rows, keyCols) => writeDeleteFiles(rows, keyCols) }, Nil, None)
    val files = added ++ survivors.toSeq.flatMap(_.files)
    if (files.isEmpty && affected.isEmpty && deletes.isEmpty)
      return if (d.once.isEmpty) s.version
        else commit(Change.metadata(Map.empty)(sameMeta).once(d.once))
    commit(Change.metadata(d.meta)(sameMeta)
      .copy(write = (inserts ++ survivors).headOption
          .map(w => PendingWrite(files, w.schema)),
        replace = RowRewrite(affected.map(_.path).toSet,
          s.deletes.map(_.path).toSet),
        deletes = deletes)
      .once(d.once))
  }

  /** MOR LOCATE: the delete-file rows of what `leaving` removes from
    * `s`, shaped for [[writeDeleteFiles]] and paired with the key
    * columns they are keyed on — equality keys, or else (file, pos)
    * positions with no key columns. None when no row can leave.
    * Positions are range-clustered on (file, pos), so one data file's
    * positions land contiguously in few delete files (tight covers,
    * pruned reads), at most 32 wide so a small delete never fans out
    * into per-task confetti. */
  private def locate(s: Snapshot, leaving: Leaving)
      : Option[(DataFrame, Seq[String])] = {
    def clustered(positions: DataFrame, width: Int): DataFrame =
      positions.repartitionByRange(math.max(1, math.min(32, width)),
          col(DeleteFileCol), col(DeletePosCol))
        .sortWithinPartitions(DeleteFileCol, DeletePosCol)
    leaving match {
      case Where(c) =>
        val candidates = pruneFiles(s, c)
        if (candidates.isEmpty) None
        else Some(clustered(readEntries(candidates, s, coords = true,
            deletes = s.deletes).filter(c)
          .select(DeleteFileCol, DeletePosCol), candidates.size) -> Nil)
      case Positions(p) => Some(clustered(p, p.rdd.getNumPartitions) -> Nil)
      // coalesce(8) caps key frames at the plan's own partition count
      // without a second physical planning. The 8 is scale-safe, not a
      // local-mode tuning: key frames are metadata-scale by construction
      // (the keys one GDPR/CDC commit removes, kilobytes to low MB), and
      // 8 delete files bound manifest growth per commit — at 100 TB the
      // DATA side scales, the key frame does not
      case Keys(cols, keys) => keys.map(_.coalesce(8) -> cols)
    }
  }

  /** CoW LAND: the live files of `s` that lose a row, and their
    * surviving rows rewritten. A condition's and an upsert's files are
    * the ones [[holding]] a leaving row, and their survivors the rows
    * the condition does not hold for, or whose key the upsert does not
    * carry. A caller's positions name their files and anti-join the
    * survivors; a named file that is no longer live fails the delta,
    * after reclaiming the written `added` files. */
  private def rewrite(s: Snapshot, leaving: Leaving, added: Seq[FileEntry])
      : (Seq[FileEntry], Option[PendingWrite]) = {
    def scan(es: Seq[FileEntry]) = readEntries(es, s, deletes = s.deletes)
    val (affected, survivorsOf) = leaving match {
      case Where(c) => (holding(s, pruneFiles(s, c), _.filter(c)),
        (es: Seq[FileEntry]) => scan(es).filter(not(coalesce(c, lit(false)))))
      case Keys(cols, keys) => keys.fold((Seq.empty[FileEntry], scan _))(k =>
        (holding(s, s.files, _.join(k, cols, "left_semi")),
          (es: Seq[FileEntry]) => scan(es).join(k, cols, "left_anti")))
      case Positions(p) =>
        val paths = p.select(DeleteFileCol).distinct().collect()
          .map(_.getString(0)).toSet // bounded by the files touched
        val live = s.files.filter(e => paths(e.path))
        if (live.size != paths.size) {
          reclaim(added)
          throw new java.util.ConcurrentModificationException(
            s"row delta at $root names ${paths.size - live.size} " +
              "file(s) no longer live (superseded since the scan) — retry")
        }
        (live, (es: Seq[FileEntry]) =>
          readEntries(es, s, coords = true, deletes = s.deletes)
            .join(p, Seq(DeleteFileCol, DeletePosCol), "left_anti")
            .drop(DeleteFileCol, DeletePosCol))
    }
    if (affected.isEmpty) (Nil, None)
    else (affected, Some(written(survivorsOf(affected), s)))
  }

  /** The entries of `es` holding a row that `matching` keeps, matched
    * on the driver by UUID file name (the scan's paths are URI-encoded;
    * names are encoding-stable). Unlike the row-coordinate scan, it runs
    * no broadcast name join, which measured slower on a CoW delete. */
  private def holding(s: Snapshot, es: Seq[FileEntry],
                      matching: DataFrame => DataFrame): Seq[FileEntry] = {
    val names = matching(readEntries(es, s, deletes = s.deletes, tag = true))
      .select(substring_index(col(FileTag), "/", -1)).distinct()
      .collect().map(_.getString(0)).toSet // bounded by the files touched
    es.filter(e => names(e.path.split("/").last))
  }

  /** [[writeData]] without its zero-row files: an empty frame still
    * writes one, which is reclaimed here rather than committed. */
  private def written(df: DataFrame, s: Snapshot): PendingWrite = {
    val w = writeData(df, s)
    val (rows, empty) = w.files.partition(_.rows > 0)
    reclaim(empty)
    w.copy(files = rows)
  }

  private def reclaim(files: Seq[FileEntry]): Unit =
    files.foreach(f => Files.deleteIfExists(Paths.get(root, f.path)))

  /** Write `rows` as MOR delete parquet under `deletes/` through the
    * rename-free task-committed protocol of data files, one
    * [[DeleteEntry]] per non-empty file (empty shards are reclaimed;
    * Nil when no row was written). With `keyCols`, the rows are
    * equality-delete key tuples in table types; without, they are
    * (DeleteFileCol, DeletePosCol) positions, and each entry carries
    * its exact covers, read back from the written file. */
  private def writeDeleteFiles(rows: DataFrame,
                               keyCols: Seq[String]): Seq[DeleteEntry] = {
    // per-file row counts ride the task-commit messages — no fresh-
    // file reads here, and a no-match delete skips the covers job
    val (live, empty) = org.apache.spark.sql.graft.DirectWrite
      .parquetWithMetas(rows, s"$root/deletes", Seq.empty)
      .map { case (r, m) => (r, m._1) }.partition(_._2 > 0)
    empty.foreach(e =>
      Files.deleteIfExists(Paths.get(root, "deletes", "data", e._1)))
    if (keyCols.nonEmpty)
      return live.map { case (r, n) => DeleteEntry(s"deletes/data/$r", n,
        covers = Nil, kind = "eq", keyCols = keyCols) }
    if (live.isEmpty) return Nil
    // exact covered data files PER written delete file — the commit
    // conflict check and the compaction drop rule key on this set;
    // driver-bounded by (delete files x covered data files), both
    // metadata-scale
    val coversByName = spark.read.schema(deleteSchema)
      .parquet(live.map(e => s"$root/deletes/data/${e._1}"): _*)
      .groupBy(substring_index(col("_metadata.file_path"), "/", -1))
      .agg(collect_set(DeleteFileCol))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).sorted)
      .toMap
    live.map { case (r, n) => DeleteEntry(s"deletes/data/$r", n,
      coversByName.getOrElse(r, throw new IllegalStateException(
        s"no read-back provenance for delete file $r at $root"))) }
  }
}

private[lake] object RowLevel {
  /** Which rows a [[RowDelta]] removes. */
  sealed trait Leaving
  /** The rows `condition` holds for; NULL keeps the row. */
  final case class Where(condition: Column) extends Leaving
  /** The rows whose `cols` tuple is among `keys`' — or, with None,
    * among the delta's own inserts' (an upsert). */
  final case class Keys(cols: Seq[String], keys: Option[DataFrame])
      extends Leaving
  /** The rows at `positions`' ([[LakeTable.RowFileCol]],
    * [[LakeTable.RowPosCol]]) coordinates, as
    * [[LakeTable.readWithRowCoords]] serves them (once pinned, in
    * delete-file columns). */
  final case class Positions(positions: DataFrame) extends Leaving

  /** One row-level write: the rows that leave, the rows that arrive
    * (None: none), copy-on-write or merge-on-read, the exactly-once
    * guard, and app-meta the commit carries. */
  final case class RowDelta(leaving: Leaving, inserts: Option[DataFrame],
                            copyOnWrite: Boolean, once: Option[Once],
                            meta: Map[String, String])
}
