package graft.lake

import java.nio.file.Path

import scala.jdk.CollectionConverters._

/** Object-store-shaped implementation for contract testing: published
  * objects live ONLY in this store's memory — nothing is written under
  * a table's `metadata/` dir — so any protocol step that reads, probes,
  * lists or deletes metadata with local file calls instead of through
  * the [[CommitStore]] seam finds nothing and fails loudly. The slot is
  * arbitrated by an in-memory compare-and-set (standing in for the
  * store's conditional-put arbiter), and the winner's content becomes
  * visible only after an injected delay. This widens the window in
  * which a slot is taken but its content is not yet readable (real on
  * any HTTP store: the 200 of a conditional put and the first
  * successful GET are separate events), so any protocol reliance on
  * POSIX link semantics or on instant read-your-win visibility fails
  * under the chaos specs. Scoped to one JVM, which is all the tests
  * need. */
class RacyCommitStore(maxDelayMs: Int = 5) extends CommitStore {
  private val slots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val objects =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val rnd = new java.util.Random(42)
  private def nap(): Unit = {
    val ms = rnd.synchronized(rnd.nextInt(maxDelayMs + 1))
    if (ms > 0) Thread.sleep(ms)
  }
  private def key(path: Path): String =
    path.toAbsolutePath.normalize().toString

  def putIfAbsent(path: Path, content: String): Boolean = {
    val k = key(path)
    // a slot whose winner crashed before publishing would deadlock the
    // in-memory arbiter vs the real store (where the object simply
    // never appears and the condition stays winnable) — tests don't
    // kill threads mid-put, so plain CAS is faithful enough here
    if (!slots.add(k)) return false
    nap() // won the slot; content not yet visible to anyone
    objects.put(k, content)
    true
  }

  override def read(path: Path): Option[String] =
    Option(objects.get(key(path)))

  /** Removes the visible object and frees its slot (a dropped tag or
    * a published WAP marker can be created again). */
  override def delete(path: Path): Boolean = {
    val k = key(path)
    val existed = objects.remove(k) != null
    if (existed) slots.remove(k)
    existed
  }

  override def list(dir: Path): Seq[Path] = {
    val d = dir.toAbsolutePath.normalize()
    objects.keySet.asScala.toSeq.map(java.nio.file.Paths.get(_))
      .filter(_.getParent == d)
  }

  override def putHint(path: Path, content: String): Unit =
    objects.put(key(path), content)
}
