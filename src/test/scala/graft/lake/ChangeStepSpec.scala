package graft.lake

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.Changes.ChangeStep
import graft.lake.LakeTable.{DeleteEntry, FileEntry}

/** [[Changes.ChangeStep]] derivation from hand-built before/after file
  * and delete sets: what each commit shape removed, added and
  * re-scoped, and the shrink refusal. No table, no session. */
class ChangeStepSpec extends AnyFunSuite {

  private def file(name: String, seq: Long) =
    FileEntry(s"data/$name.parquet", rows = 10L, seq = seq)
  private def pos(name: String, seq: Long, covers: FileEntry*) =
    DeleteEntry(s"data/$name.parquet", rows = 1L, covers.map(_.path),
      kind = "pos", seq = seq)
  private def eq(name: String, seq: Long) =
    DeleteEntry(s"data/$name.parquet", rows = 1L, Nil, kind = "eq",
      seq = seq, keyCols = Seq("id"))

  private def step(before: Seq[FileEntry], beforeDeletes: Seq[DeleteEntry],
                   after: Seq[FileEntry], afterDeletes: Seq[DeleteEntry],
                   compaction: Boolean = false, op: Option[String] = None) =
    ChangeStep(7, 1000L, compaction, op, before, beforeDeletes, after,
      afterDeletes)

  private val a = file("a", 1)
  private val b = file("b", 2)

  test("append: the new file is added, nothing removed or re-scoped") {
    val c = file("c", 7)
    val st = step(Seq(a, b), Nil, Seq(a, b, c), Nil)
    assert(st.added == Seq(c) && st.removed.isEmpty)
    assert(st.survivors == Seq(a, b) && st.grew.isEmpty && st.shrank.isEmpty)
    assert(!st.removesRows && !st.isUpdate)
    st.requireNoShrink("append")
  }

  test("copy-on-write rewrite: the rewritten file is removed, its " +
    "replacement added, and its dead delete drops legally") {
    val c = file("c", 7)
    val d = pos("d", 3, a)
    val st = step(Seq(a, b), Seq(d), Seq(b, c), Nil)
    assert(st.removed == Seq(a) && st.added == Seq(c))
    assert(st.droppedDeletes == Seq(d) && st.shrank.isEmpty)
    assert(st.removesRows)
    st.requireNoShrink("rewrite")
  }

  test("equality-delete growth: every older survivor grew, a file " +
    "of the delete's own commit did not") {
    val e = eq("e", 7)
    val c = file("c", 7)
    val st = step(Seq(a, b), Nil, Seq(a, b, c), Seq(e),
      op = Some("update"))
    assert(st.newDeletes == Seq(e) && st.grew == Seq(a, b))
    assert(st.added == Seq(c) && st.removed.isEmpty)
    assert(st.removesRows && st.isUpdate)
  }

  test("position-delete growth: only the covered survivor grew") {
    val d = pos("d", 7, b)
    val st = step(Seq(a, b), Nil, Seq(a, b), Seq(d))
    assert(st.grew == Seq(b) && st.newDeletes == Seq(d))
    assert(st.added.isEmpty && st.removed.isEmpty && st.removesRows)
  }

  test("compaction: rewrites rows, so the step changes no row and " +
    "absorbing its deletes is no shrink") {
    val c = file("c", 7)
    val d = pos("d", 3, a)
    val st = step(Seq(a, b), Seq(d), Seq(c), Nil, compaction = true)
    assert(st.removed.isEmpty && st.added.isEmpty)
    assert(st.newDeletes.isEmpty && st.droppedDeletes.isEmpty)
    assert(st.grew.isEmpty && st.shrank.isEmpty && !st.removesRows)
    st.requireNoShrink("compaction")
  }

  test("a dropped delete entry whose covered rows are still live " +
    "refuses: rows would resurrect") {
    val d = pos("d", 3, a)
    val byPos = step(Seq(a, b), Seq(d), Seq(a, b), Nil)
    assert(byPos.shrank == Seq(a))
    val ex = intercept[IllegalStateException](byPos.requireNoShrink("t"))
    assert(ex.getMessage.contains(s"version 7 dropped delete entry ${d.path}"),
      ex.getMessage)
    val e = eq("e", 3)
    val byEq = step(Seq(a, b), Seq(e), Seq(a, b, file("c", 7)), Nil)
    assert(byEq.shrank == Seq(a, b))
    intercept[IllegalStateException](byEq.requireNoShrink("t"))
  }
}
