package graft.lake

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** The death of a writer at a [[FaultyCommitStore]] crash point. An
  * `Error`, not an `Exception`, so code that survives failures (the
  * best-effort hint write, retry loops) cannot swallow it: nothing
  * after the crash point runs. */
final class InjectedCrash(msg: String) extends Error(msg)

/** A view of a [[RacyCommitStore]]'s in-memory objects that crashes the
  * writer at the k-th call of one mutating kind — `putIfAbsent`,
  * `putHint` or `delete`, counted from [[arm]]:
  *   - *before* the call: nothing is published and the slot stays
  *     winnable, as on a real store when the writer dies first;
  *   - *after* the call: the object is published, but the writer
  *     dies before learning it.
  * Reads and lists pass through. A restarted writer loads the table
  * through `objects`, a clean view of the same store. */
final class FaultyCommitStore(val objects: RacyCommitStore)
    extends CommitStore {
  @volatile private var crashAt: Option[FaultyCommitStore.CrashPoint] = None
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  /** Start counting calls afresh, crashing at `at` when given. */
  def arm(at: Option[FaultyCommitStore.CrashPoint]): Unit = {
    counts.clear()
    crashAt = at
  }

  /** Calls of `kind` since the last [[arm]]. */
  def calls(kind: String): Int =
    Option(counts.get(kind)).map(_.get).getOrElse(0)

  private def call[T](kind: String)(body: => T): T = {
    val n = counts.computeIfAbsent(kind, _ => new AtomicInteger)
      .incrementAndGet()
    crashAt match {
      case Some(at) if at.kind == kind && at.k == n =>
        crashAt = None
        if (at.after) body
        throw new InjectedCrash(s"crash $at")
      case _ => body
    }
  }

  def putIfAbsent(path: Path, content: String): Boolean =
    call("putIfAbsent")(objects.putIfAbsent(path, content))

  override def putHint(path: Path, content: String): Unit =
    call("putHint")(objects.putHint(path, content))

  override def delete(path: Path): Boolean =
    call("delete")(objects.delete(path))

  override def read(path: Path): Option[String] = objects.read(path)

  override def list(dir: Path): Seq[Path] = objects.list(dir)
}

object FaultyCommitStore {
  /** The mutating store calls a crash point can name. */
  val Kinds: Seq[String] = Seq("putIfAbsent", "putHint", "delete")

  final case class CrashPoint(kind: String, k: Int, after: Boolean) {
    override def toString: String =
      s"${if (after) "after" else "before"} $kind #$k"
  }
}
