package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger

import graft.lake.LakeTable
import graft.operators.DedupOps
import graft.streaming.MVManager

/** Near-duplicate curation, closed loop: each step appends one batch of
  * documents (with seeded shares of exact and near copies of earlier
  * originals) to a source table and waits until the near-dup curation MV
  * has covered that version. Index and postings grow through several
  * auto-compaction cycles, as in a long-running loop. */
final class Curation(ctx: Ctx, dir: Path) extends Workload(ctx, dir) {
  private val sc = ctx.scale
  private val Buckets = 8
  private val gen = new DocGen(ctx.seed)
  private var src, index, postings, out: LakeTable = _
  private var mv: MVManager = _
  private var from = Map.empty[String, Int]
  private var srcBytes = 0L
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  /** (source version, nanoTime its append returned). */
  private val commits = mutable.ArrayBuffer.empty[(Int, Long)]
  private val stepIv = mutable.ArrayBuffer.empty[(Long, Long)]
  private var tracedBatches = Seq.empty[Progress]
  private var queryId = ""

  private def table(name: String, schema: org.apache.spark.sql.types.StructType,
                    props: Map[String, String] = Map.empty,
                    bucketBy: Option[(String, Int)] = None) =
    LakeTable.create(spark, dir.resolve(name).toString, schema, properties = props,
      bucketBy = bucketBy, store = ctx.store)

  private def step(): Option[Double] = ctx.step("curation.step") {
    val docs = gen.batch(sc.curationDocs)
    val df = spark.createDataFrame(docs.map(d => Row(d.id, d.text)).asJava, Doc.schema)
    val t0 = System.nanoTime()
    val v = ctx.trace.span("lake", "LakeTable.append")(src.append(df))
    val done = System.nanoTime()
    commitMs += (done - t0) / 1e6
    commits += ((v, done))
    sourceRows += docs.size
    ctx.progress.awaitCovered(v, done + 120000000000L).map(ns => (ns - done) / 1e6)
  }

  def setup(): Unit = {
    src = table("src", Doc.schema)
    // the index and postings layouts the engine's own curation uses,
    // with a bucket count sized to batches of ~100 documents
    index = table("index", MVManager.curationIndexSchema,
      LakeTable.autoCompactProps(Buckets, Some("fp")), Some(("fp", Buckets)))
    postings = table("postings", DedupOps.bandPostingsSchema,
      LakeTable.autoCompactProps(Buckets, Some("pbh")) ++ DedupOps.bandPostingsProps(),
      Some(("pbh", Buckets)))
    out = table("out", Doc.schema)
    mv = new MVManager(spark, dir.resolve("ckpt").toString)
    val q = ctx.trace.span("streaming", "MVManager.startCurationFromLake")(
      mv.startCurationFromLake("curation", src, index, out,
        nearDupMinJaccard = Some(0.5), trigger = Trigger.ProcessingTime(0L),
        postings = Some(postings)))
    queryId = q.id.toString
  }

  def warmUp(): Unit = {
    (0 until 2).foreach(_ => require(step().isDefined, "warm-up step timed out"))
    sourceRows = 0
    commitMs.clear()
  }

  def run(seconds: Double): Unit = {
    from = Map("src" -> src.currentVersion, "index" -> index.currentVersion,
      "postings" -> postings.currentVersion, "out" -> out.currentVersion)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    measured() {
      while (System.nanoTime() < end) {
        val traced = Tracing()
        val t0 = System.nanoTime()
        attempted += 1
        try step() match {
          case Some(ms) => headline += ((traced, ms))
          case None => failed += 1
        } catch { case e: Exception =>
          failed += 1; System.err.println(s"[perfbench] curation step failed: $e")
        }
        if (traced) { tracedSteps += 1; stepIv += ((t0, System.nanoTime())) }
      }
    }
    tracedBatches = ctx.progress.all.filter(p => p.traced && p.endOffset > from("src"))
    srcBytes = Layers.bytesAdded(src, from("src"))
  }

  def stop(): Unit = if (mv != null) mv.stopAll()

  private var recall = 0.0
  private var nearGenerated = 0L

  /** Every dropped document has an exact copy or a Jaccard >= 0.5
    * partner among the admitted documents before it; no two admitted
    * documents share a text. Checked exactly, against the ground truth. */
  def check(): Seq[String] = {
    val admitted = out.read().select("doc_id").collect().map(_.getLong(0)).toSet
    val docs = gen.all.toVector
    val byText = mutable.HashMap.empty[String, Long]
    val dupAdmitted = docs.filter(d => admitted(d.id)).flatMap { d =>
      byText.get(d.text).map(o => s"admitted ${d.id} and $o share a fingerprint")
        .orElse { byText(d.text) = d.id; None }
    }
    // inverted index: shingle -> admitted ids, in id order
    val posting = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    val shingles = mutable.HashMap.empty[Long, Set[String]]
    docs.filter(d => admitted(d.id)).foreach { d =>
      val s = Doc.shingles(d.text)
      shingles(d.id) = s
      s.foreach(x => posting.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += d.id)
    }
    val unjustified = docs.filterNot(d => admitted(d.id)).flatMap { d =>
      val exact = byText.get(d.text).exists(_ < d.id)
      lazy val s = Doc.shingles(d.text)
      lazy val near = s.iterator.flatMap(x => posting.getOrElse(x, Nil)).filter(_ < d.id)
        .toSet.exists(a => Doc.jaccard(s, shingles(a)) >= 0.5)
      if (exact || near) None else Some(s"dropped ${d.id} (${d.kind}) has no earlier partner")
    }
    val near = docs.filter(_.kind == Doc.NearCopy)
    nearGenerated = near.size
    recall = near.count(d => !admitted(d.id)).toDouble / math.max(1, near.size)
    dupAdmitted ++ unjustified
  }

  def endToEnd(r: Report): Unit = {
    Layers.latency(r, "freshness", headline.map(_._2).toSeq)
    r.add("commit_p50_ms", Stats.median(commitMs), "ms", commitMs.size)
    cpuPerMrow(r)
  }

  def perLayer(r: Report): Unit = {
    Layers.streaming(r, tracedBatches)
    val lag = tracedBatches.map(p =>
      commits.count { case (v, ns) => ns <= p.receivedNs && v > p.endOffset }.toDouble)
    r.add("sources.lag_batches", Stats.mean(lag), "batches", lag.size)
    Layers.store(r, ctx, tracedSteps)
    Layers.layout(r, Seq(index -> from("index"), postings -> from("postings"),
      out -> from("out")), srcBytes)
    Layers.spark(r, ctx, stepIv.toSeq)
    // each source version is one appended batch of documents
    val kdocs = math.max(1L, tracedBatches.map(p => p.endOffset - p.startOffset).sum) *
      sc.curationDocs / 1000.0
    val taskMs = Option(ctx.jobs.taskMsByQuery.get(queryId)).map(_.get).getOrElse(0L)
    val shuffle = Option(ctx.jobs.shuffleByQuery.get(queryId)).map(_.get).getOrElse(0L)
    r.add("operators.task_s_per_kdoc", taskMs / 1e3 / kdocs, "s/kdoc", tracedBatches.size)
    r.add("operators.shuffle_bytes_per_kdoc", shuffle / kdocs, "bytes/kdoc", tracedBatches.size)
    r.add("operators.recall", recall, "ratio", nearGenerated)
    r.add("operators.index_rows", index.dataFiles.map(_.rows).sum, "rows")
    r.add("operators.postings_files", postings.dataFiles.size, "files")
  }
}
