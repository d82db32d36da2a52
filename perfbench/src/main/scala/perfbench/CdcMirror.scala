package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{CatalogConfig, GraftConfig, GraftEngine, StorageConfig}
import graft.lake.LakeTable
import graft.streaming.MVManager

/** A table mirror, closed loop: each step sends a burst of SQL DML to a
  * source table (INSERT, merge-on-read UPDATE of Zipf-hot keys, DELETE,
  * INSERT) and waits until `startTableMirror` has applied the burst's
  * last source version. Each micro-batch can carry several versions. */
final class CdcMirror(ctx: Ctx, dir: Path, rep: Int) extends Workload(ctx, dir) {
  private val sc = ctx.scale
  private val rnd = new java.util.Random(ctx.seed)
  private val catalog = s"cdc$rep"
  private val engine = new GraftEngine(spark, GraftConfig(
    StorageConfig(dir.resolve("wh").toString),
    CatalogConfig(namespace = "ns", sqlName = Some(catalog))))
  private val src = s"$catalog.ns.src"
  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("user_id", LongType), StructField("kind", StringType),
    StructField("v", DoubleType), StructField("note", StringType)))
  /** Live keys in ascending order; rank in this order is Zipf heat. */
  private val live = mutable.TreeSet.empty[Long]
  private var nextKey = 0L
  private var mv: MVManager = _
  private var mirror: LakeTable = _
  private var mirrorFrom = 0
  private var srcFrom = 0
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  /** (source version, nanoTime its DML returned). */
  private val commits = mutable.ArrayBuffer.empty[(Int, Long)]
  private val stepIv = mutable.ArrayBuffer.empty[(Long, Long)]
  private var tracedBatches = Seq.empty[Progress]

  private def srcTable = LakeTable.load(spark, dir.resolve("wh/ns/src").toString)

  private def newRows(n: Int): Seq[Row] = (0 until n).map { _ =>
    val k = nextKey; nextKey += 1; live += k
    Row(k, rnd.nextInt(1000).toLong, Events.Kinds(rnd.nextInt(Events.Kinds.length)),
      rnd.nextInt(100000) / 100.0, s"n${rnd.nextInt(1 << 20)}")
  }

  /** One DML statement, timed as the client sees it. */
  private def dml(sql: String): Unit = {
    val t0 = System.nanoTime()
    ctx.trace.span("lake", "GraftEngine.sql")(engine.sql(sql))
    val t1 = System.nanoTime()
    commitMs += (t1 - t0) / 1e6
    commits += ((srcTable.currentVersion, t1))
  }

  private def insert(n: Int): Unit = {
    spark.createDataFrame(java.util.Arrays.asList(newRows(n): _*), schema)
      .createOrReplaceTempView(s"${catalog}_new")
    dml(s"INSERT INTO $src SELECT * FROM ${catalog}_new")
    sourceRows += n
  }

  private def pick(n: Int, hot: Boolean): Seq[Long] = {
    val keys = live.toIndexedSeq
    val z = new Zipf(keys.size, 1.1, rnd)
    Iterator.continually(if (hot) keys(z.next()) else keys(rnd.nextInt(keys.size)))
      .distinct.take(math.min(n, keys.size)).toSeq
  }

  /** The burst; returns the source version of its last commit. */
  private def burst(step: Long): Int = {
    insert(sc.cdcInsert)
    val hot = pick(sc.cdcUpdate, hot = true)
    dml(s"UPDATE $src SET v = v + 1.25, note = 'u$step' WHERE id IN (${hot.mkString(",")})")
    val gone = pick(sc.cdcDelete, hot = false)
    dml(s"DELETE FROM $src WHERE id IN (${gone.mkString(",")})")
    live --= gone
    insert(sc.cdcInsert / 2)
    sourceRows += hot.size + gone.size
    commits.last._1
  }

  private def step(n: Long): Option[Double] = ctx.step("cdc_mirror.step") {
    val v = burst(n)
    val done = System.nanoTime()
    ctx.progress.awaitCovered(v, done + 60000000000L).map(ns => (ns - done) / 1e6)
  }

  def setup(): Unit = {
    engine.sql(s"CREATE NAMESPACE IF NOT EXISTS $catalog.ns")
    engine.sql(s"CREATE TABLE $src (id BIGINT, user_id BIGINT, kind STRING, v DOUBLE, note STRING)")
    insert(sc.cdcKeys)
    mirror = LakeTable.create(spark, dir.resolve("mirror").toString, schema, store = ctx.store)
    mv = new MVManager(spark, dir.resolve("ckpt").toString)
    ctx.trace.span("streaming", "MVManager.startTableMirror")(mv.startTableMirror("mirror",
      spark.readStream.table(s"$src.changes"), mirror, Seq("id"), Trigger.ProcessingTime(0L)))
    require(ctx.progress.awaitCovered(srcTable.currentVersion,
      System.nanoTime() + 60000000000L).isDefined, "mirror snapshot not applied within 60 s")
  }

  def warmUp(): Unit = {
    (0 until 2).foreach(i => require(step(-1L - i).isDefined, "warm-up step timed out"))
    sourceRows = 0
    commitMs.clear()
  }

  def run(seconds: Double): Unit = {
    mirrorFrom = mirror.currentVersion
    srcFrom = srcTable.currentVersion
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0L
    measured() {
      while (System.nanoTime() < end) {
        val traced = Tracing()
        val t0 = System.nanoTime()
        attempted += 1
        try step(n) match {
          case Some(ms) => headline += ((traced, ms))
          case None => failed += 1
        } catch { case e: Exception =>
          failed += 1; System.err.println(s"[perfbench] cdc step failed: $e")
        }
        if (traced) { tracedSteps += 1; stepIv += ((t0, System.nanoTime())) }
        n += 1
      }
    }
    tracedBatches = ctx.progress.all.filter(p => p.traced && p.endOffset > srcFrom)
  }

  def stop(): Unit = if (mv != null) mv.stopAll()

  def check(): Seq[String] = {
    val m = mirror.read()
    val s = spark.table(src).select(m.columns.map(org.apache.spark.sql.functions.col): _*)
    val extra = m.exceptAll(s).count()
    val missing = s.exceptAll(m).count()
    (if (extra > 0) Seq(s"mirror has $extra rows the source lacks") else Nil) ++
      (if (missing > 0) Seq(s"mirror lacks $missing source rows") else Nil)
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
    Layers.layout(r, Seq(mirror -> mirrorFrom), Layers.bytesAdded(srcTable, srcFrom))
    Layers.spark(r, ctx, stepIv.toSeq)
  }
}
