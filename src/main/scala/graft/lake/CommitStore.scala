package graft.lake

import java.nio.file.{Files, Path}
import java.util.UUID

/** The ONE primitive the commit protocol's atomicity rests on:
  * conditional create of a fully-formed object at a path. Everything
  * else in the protocol (optimistic rebase, guards, rollback, CDC) is
  * plain reads of immutable objects plus retries around this call.
  *
  * Contract:
  *   - `putIfAbsent(path, content)` publishes `content` at `path` IFF
  *     nothing exists there, atomically, and returns whether THIS call
  *     won the slot. Exactly one of any number of concurrent callers
  *     for the same path wins.
  *   - Visibility is all-or-nothing: a reader either sees the complete
  *     content or no object — never a partial write.
  *   - A lost slot stays lost: false is returned even if the winner's
  *     content is not yet visible to readers (the protocol re-reads
  *     and retries until it is).
  *
  * This is exactly the conditional-put object stores offer natively
  * (S3 `If-None-Match: *`, GCS `x-goog-if-generation-match: 0`, Azure
  * `If-None-Match: *`), so a cloud deployment implements this trait
  * with one HTTP header and changes nothing else — the contract spec
  * (CommitStoreContractSpec) drives the full chaos suite against a
  * deliberately-racy non-POSIX implementation to keep the protocol
  * honest about relying on nothing beyond this interface.
  *
  * Why DATA files need no such seam: they are immutable and
  * UUID-named, so they never contend — an object store PUTs them
  * directly and a crashed writer's unreferenced files are garbage the
  * age-guarded vacuum reclaims. Every lake write (partitioned or not,
  * data or delete files) lands at its final name with zero renames,
  * and the committed file list comes from the write tasks' commit
  * messages (DirectWrite), never from a directory listing.
  *
  * The snapshot log and the `_latest` hint are read, listed and
  * deleted only through this trait as well: LakeTable has one
  * snapshot reader, built on [[read]], [[list]] and [[delete]]. */
trait CommitStore {
  def putIfAbsent(path: Path, content: String): Boolean

  /** Read a previously-published object, None if absent. The read half
    * of the seam: anything a component persists through
    * [[putIfAbsent]] must be re-read through the SAME store, or a
    * non-POSIX deployment would write into the object store and then
    * look for the file on local disk (the frozen-IVF-model bug class).
    * Object-store form: a plain GET mapping 404 to None. Objects are
    * immutable once published, so no read-consistency subtlety beyond
    * the putIfAbsent visibility contract applies. */
  def read(path: Path): Option[String] =
    if (Files.exists(path)) Some(Files.readString(path)) else None

  /** Remove a published object, returning whether it existed. Used by
    * explicitly-destructive lifecycle ops (dropTag, retention) — NOT
    * part of the atomicity contract beyond "a subsequent read sees
    * None". Object-store form: DELETE with 404 mapped to false. Routed
    * through the store (not Files.*) so a non-POSIX deployment's drop
    * consults the same object space its create published into — the
    * frozen-IVF-model bug class the read half of this seam exists to
    * kill. */
  def delete(path: Path): Boolean = Files.deleteIfExists(path)

  /** List the objects directly under `dir` (non-recursive, any order).
    * Object-store form: LIST with `dir` as the key prefix. Same
    * same-object-space rationale as [[delete]]. */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        val it = s.iterator()
        val buf = Seq.newBuilder[Path]
        while (it.hasNext) buf += it.next()
        buf.result()
      } finally s.close()
    }

  /** Best-effort last-writer-wins overwrite, used ONLY for advisory
    * state (the `_latest` version hint that makes `currentVersion` a
    * single read instead of a directory listing). NOT part of the
    * atomicity contract: the hint may lag, regress under races, or
    * fail to write entirely — readers MUST verify it against the real
    * snapshot objects and fall back when it lies. Object-store form:
    * a plain unconditional PUT. Default implementation: POSIX
    * write-temp + atomic rename, swallowing every failure (a missing
    * or stale hint only costs the reader its fallback path). */
  def putHint(path: Path, content: String): Unit = {
    val tmp = path.getParent.resolve(s".hint-${UUID.randomUUID()}.tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, path,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case _: Exception => () }
    finally { try Files.deleteIfExists(tmp)
              catch { case _: Exception => () } }
  }
}

/** POSIX implementation: serialize to a temp sibling, then hard-link
  * into the slot — link(2) fails atomically when the slot is taken,
  * and the linked file is complete by construction. */
object PosixCommitStore extends CommitStore {
  def putIfAbsent(path: Path, content: String): Boolean = {
    val tmp = path.getParent.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, content)
    try {
      Files.createLink(path, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }
}
