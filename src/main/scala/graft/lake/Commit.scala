package graft.lake

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.types.{StructField, StructType}

import LakeTable._

/** The snapshot-log commit: the one place a `metadata/v%08d.json` slot
  * is written. A protocol of [[LakeTable]] writes its data and delete
  * files, decides what they replace, and hands [[commit]] one immutable
  * [[Change]]. The commit then runs the optimistic loop: every attempt
  * reads the latest snapshot once, evaluates the change's guard and
  * conflict checks against it, rewrites the manifest lists, stamps the
  * operation and publishes the snapshot at the next version through
  * [[CommitStore.putIfAbsent]]. A lost slot re-reads and retries, so
  * files committed by racers are carried forward, never dropped. */
private[lake] trait Commit { self: LakeTable =>
  import Commit._

  /** One commit, as data. Everything that depends on the snapshot it
    * lands on is re-derived on every attempt: the guard and conflicts
    * are checked against it, `alter` maps its metadata, and the written
    * files get its version as their sequence number.
    *
    * `write` adds data files (their schema evolves the table's);
    * `replace` names the live files they supersede and how a racer
    * that touched them conflicts; `deletes` adds merge-on-read delete
    * files, whose positional covers must still be live; `base` names
    * the snapshot the manifests start from. */
  private[lake] case class Change(meta: Map[String, String],
                                  write: Option[PendingWrite],
                                  replace: Replace,
                                  deletes: Seq[DeleteEntry],
                                  guard: Option[Guard],
                                  alter: Snapshot => TableMeta,
                                  base: Base) {
    /** This change as the exactly-once write `once`, if it is one. */
    def once(o: Option[Once]): Change =
      o.fold(this)(o => copy(meta = meta ++ o.meta, guard = Some(o.guard)))
  }

  private[lake] object Change {
    /** Add `write`'s files, replacing nothing. */
    def data(write: PendingWrite, meta: Map[String, String]): Change =
      Change(meta, Some(write), Rebase(Set.empty), Nil, None, sameMeta,
        OnLatest)

    /** Change no file: only what `alter` derives from the snapshot. */
    def metadata(meta: Map[String, String])(
        alter: Snapshot => TableMeta): Change =
      Change(meta, None, Rebase(Set.empty), Nil, None, alter, OnLatest)
  }

  /** The snapshot a change's manifests start from. */
  private[lake] sealed trait Base
  /** The latest snapshot, whatever landed before it. */
  private[lake] case object OnLatest extends Base
  /** An empty log: the change is a table's v0, and a present snapshot
    * fails it. */
  private[lake] case object OnEmptyLog extends Base
  /** `target`'s manifests and delete manifests, re-referenced (a
    * rollback: O(1) metadata); a change landing while `target` is
    * still the latest is a no-op. */
  private[lake] case class OnSnapshot(target: Snapshot) extends Base

  /** Snapshot `s`'s metadata, unchanged. */
  private[lake] def sameMeta(s: Snapshot): TableMeta =
    TableMeta(s.schema, s.fieldIds, s.properties, s.partitionBy)

  /** The empty log a v0 commits on. */
  private def emptyLog: Snapshot = new Snapshot(-1,
    snapshotJson(-1, -2, new StructType(), Map.empty, Map.empty, Nil,
      Map.empty).toString)

  /** Commit `c`; returns the committed version, or the current one
    * when the guard or the base makes `c` a no-op. */
  private[lake] def commit(c: Change): Int = {
    var attempt = 0
    var lastSeen = Int.MinValue
    var stalls = 0
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (true) {
      val cur = c.base match {
        case OnEmptyLog =>
          require(latestRaw().isEmpty, s"table already exists at $root")
          emptyLog
        case _ => latest()
      }
      val v = cur.version
      c.base match {
        case OnSnapshot(target) if target.version == v => return v
        case _ => ()
      }
      // losing a slot whose winner is not yet READABLE (the visibility
      // lag CommitStore explicitly permits) re-reads the same version:
      // spinning would burn the whole retry budget inside the lag
      // window, so back off — but only when no progress is observed
      // (on a read-your-win store every lost race advances v and pays
      // zero sleep). The budget is TIME-based, not count-based.
      if (v == lastSeen) {
        stalls += 1
        Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(1L << math.min(6, stalls)))
      } else stalls = 0
      lastSeen = v
      checkConflicts(c, cur)
      val hw = cur.highWater
      c.guard match {
        case Some(MonotoneGuard(k, value)) if hw.getOrElse(k, -1L) >= value =>
          // a racer already committed this (or a later) offset: the
          // write becomes a no-op instead of a duplicate
          return v
        case Some(CasGuard(k, expected, _))
            if hw.getOrElse(k, -1L) != expected =>
          throw new StaleOffsetException(
            s"offset $k moved to ${hw.getOrElse(k, -1L)} " +
              s"(expected $expected) at $root")
        case _ => ()
      }
      val newHw = c.guard match {
        case Some(g) =>
          hw + (g.key -> math.max(hw.getOrElse(g.key, -1L), g.value))
        case None => hw
      }
      val tm = c.alter(cur)
      // schema change against the freshly-read snapshot; evolve sees
      // lastFieldId: minting IDs from max(live ids) would reuse a
      // retired ID after a drop, and field-ID read resolution would
      // then serve the dropped column's old data under the new name
      val (newSchema, newIds) = c.write match {
        case Some(w) => evolve(tm.schema, tm.ids, cur.lastFieldId, w.schema)
        case None    => (tm.schema, tm.ids)
      }
      // new files record physicalName -> fieldId as of THIS commit (the
      // identity that later renames/drops resolve against) and the
      // commit's DATA SEQUENCE NUMBER (what equality deletes compare
      // their own seq against)
      val stamped = c.write.toSeq.flatMap(w => w.files.map(f =>
        f.copy(cols = w.schema.fieldNames.toSeq.map(n => n -> newIds(n)),
          seq = v + 1L)))
      // an equality delete's seq IS its committed version — stamped
      // per attempt so the sequence comparison is exact under retries
      val stampedDeletes = c.deletes.map(e =>
        if (e.kind == "eq") e.copy(seq = v + 1L) else e)
      val from = c.base match {
        case OnSnapshot(target) => target
        case _                  => cur
      }
      val (refs, deleteRefs) = manifestLists(from, c.replace.files, stamped,
        stampedDeletes)
      val node = snapshotJson(
        version = v + 1, parent = v, schema = newSchema, ids = newIds,
        props = tm.props, manifests = refs,
        meta = c.meta + ("operation" -> operation(c, cur, stamped,
          stampedDeletes)),
        partitionBy = tm.partitionBy, highWater = newHw,
        lastFieldId = cur.lastFieldId, deleteManifests = deleteRefs)
      if (tryCommit(v + 1, node)) return v + 1
      attempt += 1
      require(System.nanoTime() < deadline,
        s"commit contention at $root: no progress after $attempt " +
          "attempts in 60s, giving up")
    }
    -1 // unreachable
  }

  /** Fail `c` when a racer committed something it cannot rebase over. */
  private def checkConflicts(c: Change, cur: Snapshot): Unit = {
    val replaced = c.replace.files
    c.replace match {
      case Rebase(_) => ()
      case _ if replaced.isEmpty => ()
      case r =>
        // a strict replace must not resurrect rows a concurrent rewrite
        // already superseded: every file it replaces must still be live
        // in the snapshot it commits against
        val missing = replaced -- cur.files.map(_.path).toSet
        if (missing.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"rewrite conflict at $root: ${missing.size} base file(s) " +
              "superseded by a concurrent commit")
        // ...and a row rewrite must not resurrect rows a merge-on-read
        // DELETE marked since its base was read: any live
        // position-delete file covering a replaced data file — or ANY
        // live equality delete (its key scope spans every pre-delete
        // file, and the rewrite re-stamps rows to a seq ABOVE it) —
        // must be one the rewrite already applied
        r match {
          case RowRewrite(_, applied) =>
            val unapplied = cur.deletes.filter(e =>
              !applied.contains(e.path) &&
                (e.kind == "eq" || e.covers.exists(replaced.contains)))
            if (unapplied.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                s"rewrite conflict at $root: ${unapplied.size} position-" +
                  "delete file(s) landed since the rewrite's base; " +
                  "committing would resurrect their deleted rows")
          case _ => ()
        }
    }
    // a positional delete names (file, pos) pairs of a specific
    // snapshot's files: if a concurrent rewrite superseded any covered
    // file, the positions no longer denote the same rows and committing
    // them would silently drop the delete
    val covers = c.deletes.flatMap(_.covers).toSet
    val gone =
      if (covers.isEmpty) covers else covers -- cur.files.map(_.path)
    if (gone.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"positional delete conflict at $root: ${gone.size} " +
          "covered data file(s) rewritten by a concurrent commit")
  }

  /** The new snapshot's manifest list and delete-manifest list: `from`'s
    * lists minus `replaced`, plus `added` and `deletes`. */
  private def manifestLists(from: Snapshot, replaced: Set[String],
                            added: Seq[FileEntry], deletes: Seq[DeleteEntry])
      : (Seq[ManifestRef], Seq[ManifestRef]) = {
    // unchanged manifests are REFERENCED, not rewritten — the snapshot
    // write is O(this batch). Only manifests actually holding a
    // replaced file are rewritten (minus those files); their survivors
    // ride with the new batch.
    val (keptRefs, rewritten) =
      if (replaced.isEmpty) (from.manifests, Nil)
      else {
        val (touched, untouched) = from.manifests.partition(r =>
          readManifest(r).exists(f => replaced.contains(f.path)))
        (untouched, touched.flatMap(readManifest)
          .filterNot(f => replaced.contains(f.path)))
      }
    val newEntries = rewritten ++ added
    val refs = mergeManifests(keptRefs ++
      (if (newEntries.nonEmpty) Seq(writeManifest(newEntries)) else Nil))
    // the delete half mirrors the data rule: plain appends reference
    // the refs untouched (O(0) delete metadata); a delete adds one
    // manifest of its own entries; a rewrite drops delete files whose
    // covered data files ALL left the live set (compaction thereby
    // absorbs deletes lazily), rewriting only the manifests that held
    // a dropped entry
    val withNew =
      if (deletes.isEmpty) from.deleteManifests
      else mergeDeleteManifests(
        from.deleteManifests :+ writeDeleteManifest(deletes))
    val deleteRefs =
      if (replaced.isEmpty || withNew.isEmpty) withNew
      else {
        // dead rules, evaluated against the post-commit LIVE set (not
        // merely "replaced by this commit" — covered files may have
        // died one by one across earlier rewrites and the entry must
        // drop once the LAST one goes):
        //   pos — no covered data file remains live;
        //   eq  — every live file's seq >= the entry's seq (no
        //         pre-delete rows remain for its keys to match).
        val live = appliesToAny(
          keptRefs.flatMap(readManifest) ++ newEntries)
        def dead(e: DeleteEntry): Boolean = !live(e)
        val (touched, untouched) = withNew.partition(r =>
          readDeleteManifest(r).exists(dead))
        val survivors = touched.flatMap(readDeleteManifest).filterNot(dead)
        mergeDeleteManifests(untouched ++
          (if (survivors.nonEmpty) Seq(writeDeleteManifest(survivors))
           else Nil))
      }
    (refs, deleteRefs)
  }

  /** The snapshot's OPERATION, stamped at commit time: the writer knows
    * it from the change's own structure, so `meta("snapshots")` reads
    * one field instead of diffing predecessors. */
  private def operation(c: Change, cur: Snapshot, added: Seq[FileEntry],
                        deletes: Seq[DeleteEntry]): String =
    c.meta.getOrElse("operation",
      if (c.meta.get("compaction").contains("true")) "replace"
      else if (deletes.nonEmpty) {
        if (added.nonEmpty) "overwrite" else "delete"
      }
      else if (c.replace.files.nonEmpty) {
        val replacedRows = cur.files
          .filter(f => c.replace.files.contains(f.path)).map(_.rows).sum
        if (added.isEmpty || added.map(_.rows).sum < replacedRows) "delete"
        else "overwrite"
      }
      else if (added.nonEmpty) "append"
      else "alter")

  /** Write an immutable manifest file holding `files` and return its
    * reference. UUID-named, so putIfAbsent can never lose a slot —
    * manifests written by commit attempts that later lose their
    * optimistic race become unreferenced orphans the vacuum reclaims,
    * exactly like data files of a crashed writer. */
  private def writeManifest(files: Seq[FileEntry]): ManifestRef = {
    val name = s"m-${java.util.UUID.randomUUID()}.json"
    val n = mapper.createObjectNode()
    putFileArray(n, files)
    val p = metaDir.resolve(name)
    require(commitStore.putIfAbsent(p,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)),
      s"uuid manifest name collision at $p")
    manifestCache.put(p.toAbsolutePath.normalize().toString, files)
    ManifestRef(name, files.size)
  }

  private def writeDeleteManifest(entries: Seq[DeleteEntry]): ManifestRef = {
    val name = s"dm-${java.util.UUID.randomUUID()}.json"
    val n = mapper.createObjectNode()
    val arr = n.putArray("deletes")
    entries.foreach { e =>
      val en = arr.addObject()
      en.put("path", e.path); en.put("rows", e.rows)
      val cv = en.putArray("covers"); e.covers.foreach(cv.add)
      if (e.kind != "pos") en.put("kind", e.kind)
      if (e.seq > 0) en.put("seq", e.seq)
      if (e.keyCols.nonEmpty) {
        val kc = en.putArray("keyCols"); e.keyCols.foreach(kc.add)
      }
    }
    val p = metaDir.resolve(name)
    require(commitStore.putIfAbsent(p,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)),
      s"uuid delete-manifest name collision at $p")
    deleteManifestCache.put(p.toAbsolutePath.normalize().toString, entries)
    ManifestRef(name, entries.size)
  }

  /** Manifest-list compaction, the metadata twin of the data-file
    * size ladder: when >= ManifestMergeFanout manifests share a
    * power-of-two entry-count class, merge them into one (which lands
    * in a higher class). Every file entry is rewritten at most once
    * per class on its way up, so amortized metadata rewrite per
    * committed entry is O(log(liveFiles)/log(fanout)) and the
    * manifest count stays O(fanout * log(liveFiles)) — commits never
    * degenerate to rewriting the whole live-file list. ONE ladder
    * serves both manifest kinds (data files and deletes). */
  private def mergeLadder[T](refs0: Seq[ManifestRef],
                             read: ManifestRef => Seq[T],
                             write: Seq[T] => ManifestRef)
      : Seq[ManifestRef] = {
    def sizeClass(r: ManifestRef): Int =
      63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, r.entries))
    var refs = refs0
    var changed = true
    while (changed) {
      changed = false
      refs.groupBy(sizeClass).toSeq.sortBy(_._1)
        .find(_._2.size >= ManifestMergeFanout) match {
        case Some((_, group)) =>
          val merged = write(group.flatMap(read))
          refs = refs.filterNot(group.contains) :+ merged
          changed = true
        case None => ()
      }
    }
    refs
  }

  private def mergeManifests(refs: Seq[ManifestRef]): Seq[ManifestRef] =
    mergeLadder(refs, readManifest, writeManifest)

  private def mergeDeleteManifests(refs: Seq[ManifestRef])
      : Seq[ManifestRef] =
    mergeLadder(refs, readDeleteManifest, writeDeleteManifest)

  /** Conditional create of the snapshot at its version slot — the
    * atomicity is [[CommitStore.putIfAbsent]]'s (POSIX: temp sibling +
    * hard link; object stores: one conditional-put header). Returns
    * false when the version was taken by a racer. */
  private def tryCommit(version: Int, node: JsonNode): Boolean = {
    val won = commitStore.putIfAbsent(versionPath(metaDir, version),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    // winners advertise themselves so currentVersion is one read +
    // one probe instead of a listing; strictly best-effort (a lost or
    // regressed hint only re-opens the probe/listing fallback)
    if (won)
      try commitStore.putHint(metaDir.resolve(LatestHint), version.toString)
      catch { case _: Exception => () }
    won
  }

  /** Additive evolution with Iceberg-style type widening: union of table
    * and incoming columns; where both exist the resolved type is the
    * wider of the two along the promotion chains byte<short<int<long and
    * float<double (anything else is rejected); field IDs survive
    * widening; new columns become nullable and get fresh, never-reused
    * field IDs. Files written before a widening stay valid — the parquet
    * reader upcasts their narrower physical type on scan. */
  private def evolve(cur: StructType, ids: Map[String, Int],
                     lastFieldId: Int,
                     incoming: StructType): (StructType, Map[String, Int]) = {
    val incomingByName = incoming.fields.map(f => f.name -> f).toMap
    val resolved = cur.fields.map { existing =>
      incomingByName.get(existing.name) match {
        case Some(inc) =>
          val t = widerOf(existing.dataType, inc.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"type mismatch for ${existing.name}: table " +
                s"${existing.dataType} vs append ${inc.dataType} " +
                "(no promotion path)"))
          existing.copy(dataType = t)
        case None => existing
      }
    }
    val curNames = cur.fieldNames.toSet
    val added = incoming.fields.filterNot(f => curNames.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    // fresh IDs start above lastFieldId, not above max(live ids): a
    // retired (dropped) column's ID must never be reassigned
    var maxId = math.max(lastFieldId,
      ids.values.foldLeft(0)(math.max))
    val newIds = ids ++ added.map { f => maxId += 1; f.name -> maxId }
    (StructType(resolved ++ added), newIds)
  }
}

private[lake] object Commit {
  /** The table metadata a snapshot carries besides its files. */
  final case class TableMeta(schema: StructType, ids: Map[String, Int],
                             props: Map[String, String],
                             partitionBy: Seq[String])

  /** The live files a change supersedes, and how a racer that touched
    * them since the change's base conflicts. */
  sealed trait Replace { def files: Set[String] }
  /** Files a racer already removed are simply gone: the protocols that
    * replace the whole table (and every plain append, replacing
    * nothing). */
  final case class Rebase(files: Set[String]) extends Replace
  /** Whole files leave and the new rows never derive from theirs
    * (overwriteWhere, dynamic partition overwrite): every replaced file
    * must still be live, but a racing merge-on-read delete is no
    * conflict — rows it killed in replaced files die with the files. */
  final case class WholeFiles(files: Set[String]) extends Replace
  /** The new rows are rewritten survivors of the replaced files
    * (deletes, upserts, compaction, copy-on-write row deltas): every
    * replaced file must still be live, and every live delete that can
    * touch them must be one of `applied`. */
  final case class RowRewrite(files: Set[String], applied: Set[String])
      extends Replace

  /** Guard on a highWater offset, evaluated inside the commit loop. */
  sealed trait Guard { def key: String; def value: Long }
  /** Idempotent replay: no-op when the offset already reached `value`. */
  final case class MonotoneGuard(key: String, value: Long) extends Guard
  /** Compare-and-set: abort ([[StaleOffsetException]]) unless the offset
    * still reads `expected`; record `value` on success. */
  final case class CasGuard(key: String, expected: Long, value: Long)
      extends Guard

  /** An exactly-once write: batch `batchId` of writer `writerId`,
    * committed at most once (Delta's txn appId/version pattern). */
  final case class Once(writerId: String, batchId: Long) {
    def guard: MonotoneGuard = MonotoneGuard(writerKey(writerId), batchId)
    def meta: Map[String, String] =
      Map(BatchIdKey -> batchId.toString, WriterIdKey -> writerId)
  }

  /** Snapshot JSON in the manifest-list shape: the snapshot itself
    * holds schema/ids/props/offsets plus REFERENCES to immutable
    * manifest files — never the file entries. Commit metadata cost is
    * therefore O(new manifests), not O(live files). */
  def snapshotJson(
      version: Int, parent: Int, schema: StructType,
      ids: Map[String, Int], props: Map[String, String],
      manifests: Seq[ManifestRef], meta: Map[String, String],
      partitionBy: Seq[String] = Seq.empty,
      highWater: Map[String, Long] = Map.empty,
      lastFieldId: Int = 0,
      deleteManifests: Seq[ManifestRef] = Nil): JsonNode = {
    val n = mapper.createObjectNode()
    n.put("version", version)
    n.put("parent", parent)
    val hwNode = n.putObject("highWater")
    highWater.toSeq.sortBy(_._1).foreach { case (k, v) => hwNode.put(k, v) }
    val pb = n.putArray("partitionBy")
    partitionBy.foreach(pb.add)
    n.put("committedAtMs", System.currentTimeMillis())
    n.put("schemaJson", DataTypeBridge.toJson(schema))
    val idNode = n.putObject("fieldIds")
    ids.toSeq.sortBy(_._2).foreach { case (k, v) => idNode.put(k, v) }
    // Iceberg's last-column-id: monotone, survives drops, so a retired
    // field ID can never be reused by a later add
    n.put("lastFieldId",
      math.max(lastFieldId, ids.values.foldLeft(0)(math.max)))
    val propsNode = n.putObject("properties")
    props.toSeq.sortBy(_._1).foreach { case (k, v) => propsNode.put(k, v) }
    val mArr = n.putArray("manifests")
    manifests.foreach { m =>
      val mn = mArr.addObject()
      mn.put("path", m.path); mn.put("entries", m.entries)
    }
    if (deleteManifests.nonEmpty) {
      val dArr = n.putArray("deleteManifests")
      deleteManifests.foreach { m =>
        val mn = dArr.addObject()
        mn.put("path", m.path); mn.put("entries", m.entries)
      }
    }
    val metaNode = n.putObject("appMeta")
    meta.foreach { case (k, v) => metaNode.put(k, v) }
    n
  }
}
