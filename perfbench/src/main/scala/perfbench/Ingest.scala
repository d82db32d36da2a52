package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.streaming.Trigger

import graft.lake.LakeTable
import graft.streaming.MVManager

/** Crest's own loop, open loop: one generator thread publishes Arrow
  * batches at a fixed rate; one `startToLake` query commits them into a
  * day-partitioned lake table with auto-compaction. */
final class Ingest(ctx: Ctx, dir: Path) extends Workload(ctx, dir) {
  private val sc = ctx.scale
  private val gen = new EventGen(ctx.seed, 0L)
  private val writer = new ArrowBatchWriter(dir.resolve("arrow"))
  private val intervalNs = (1e9 / sc.ingestRate).toLong
  private var table: LakeTable = _
  private var mv: MVManager = _
  private var nextId = 0L
  private var rows = 0L
  private var checksum = BigInt(0)
  private var inputBytes = 0L
  private var runFrom = 0
  /** (batch id, rename nanoTime, traced) of the measured batches. */
  private val published = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
  private val lateMs = mutable.ArrayBuffer.empty[Double]

  private def stage(): Long = {
    val batch = gen.batch(sc.ingestRows)
    rows += batch.length
    batch.foreach(e => checksum += e.checksumTerm)
    val id = nextId
    nextId += 1
    inputBytes += writer.stage(id, batch)
    id
  }

  def setup(): Unit = {
    table = LakeTable.create(spark, dir.resolve("lake").toString, Events.schema,
      properties = LakeTable.autoCompactProps(8),
      partitionBy = Seq("days(event_ts)"), store = ctx.store)
    val stream = spark.readStream.format("graft-arrow").schema(Events.schema)
      .load(dir.resolve("arrow").toString)
    mv = new MVManager(spark, dir.resolve("ckpt").toString)
    mv.startToLake("ingest", stream, table, Trigger.ProcessingTime(0L))
  }

  /** Batches at the offered rate until the table's first auto-compaction
    * has landed, two more, then until all are in. The measured phase then
    * starts at the same point of the compaction cycle on every run, with
    * the write path compiled and the first (cold) compaction behind it. */
  def warmUp(): Unit = {
    val v0 = table.currentVersion
    def compacted = ((v0 + 1) to table.currentVersion)
      .exists(v => table.appMetaAt(v, "compaction").contains("true"))
    var id = -1L
    var after = -1
    while (after < 2) {
      id = stage()
      writer.publish(id)
      java.util.concurrent.locks.LockSupport.parkNanos(intervalNs)
      if (after >= 0 || compacted) after += 1
      require(id < 200, "no auto-compaction within 200 warm-up batches")
    }
    require(ctx.progress.awaitCovered(id, System.nanoTime() + 60000000000L).isDefined,
      s"warm-up batch $id was not ingested within 60 s")
  }

  def run(seconds: Double): Unit = {
    runFrom = table.currentVersion
    val rows0 = rows
    val bytes0 = inputBytes
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    measured(excludeThisThread = true) {
      var due = t0
      while (due < end) {
        val id = stage() // ahead of its slot, so publishing is one rename
        val wait = due - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        val traced = Tracing()
        val ns = writer.publish(id)
        lateMs += (ns - due) / 1e6
        published += ((id, ns, traced))
        due += intervalNs
      }
      ctx.progress.awaitCovered(published.last._1, System.nanoTime() + 30000000000L)
    }
    sourceRows = rows - rows0
    inputBytes -= bytes0
  }

  def stop(): Unit = { if (mv != null) mv.stopAll(); writer.close() }

  private def freshness: Seq[(Boolean, Option[Double])] = {
    val events = ctx.progress.all.sortBy(_.receivedNs)
    published.toSeq.map { case (id, ns, traced) =>
      traced -> events.find(_.endOffset >= id).map(e => (e.receivedNs - ns) / 1e6)
    }
  }

  def check(): Seq[String] = {
    val fr = freshness
    attempted = fr.size
    failed = fr.count(_._2.isEmpty)
    fr.foreach { case (t, ms) => ms.foreach(m => headline += ((t, m))) }
    val late = Stats.quantile(lateMs, 0.99)
    val lateMsg =
      if (late > intervalNs / 1e6) Seq(f"generator ran late: p99 $late%.1f ms > one interval")
      else Nil
    val df = table.read()
    df.createOrReplaceTempView("ingest_check")
    val row = spark.sql(s"SELECT count(*), count(DISTINCT event_id), ${Events.checksumSql} " +
      "FROM ingest_check").head()
    val (n, distinct, sum) = (row.getLong(0), row.getLong(1), BigInt(row.getDecimal(2).toBigInteger))
    lateMsg ++
      (if (n != rows) Seq(s"lake holds $n rows, generator wrote $rows") else Nil) ++
      (if (distinct != n) Seq(s"${n - distinct} duplicate event ids") else Nil) ++
      (if (sum != checksum) Seq(s"checksum $sum != generated $checksum") else Nil)
  }

  private def measuredBatches: Seq[Progress] =
    ctx.progress.all.filter(p => published.nonEmpty && p.endOffset >= published.head._1)

  def endToEnd(r: Report): Unit = {
    Layers.latency(r, "freshness", headline.map(_._2).toSeq)
    val adds = measuredBatches.map(_.durations.getOrElse("addBatch", 0L).toDouble)
    r.add("commit_p50_ms", Stats.median(adds), "ms", adds.size)
    cpuPerMrow(r)
    r.add("gen.late_ms", Stats.quantile(lateMs, 0.99), "ms", lateMs.size)
  }

  def perLayer(r: Report): Unit = {
    val traced = measuredBatches.filter(_.traced)
    Layers.streaming(r, traced)
    val lag = traced.map(p => published.count(_._2 <= p.receivedNs) -
      published.count(_._1 <= p.endOffset)).map(_.toDouble)
    r.add("sources.lag_batches", Stats.mean(lag), "batches", lag.size)
    Layers.store(r, ctx, traced.size)
    Layers.layout(r, Seq(table -> runFrom), inputBytes)
    Layers.spark(r, ctx, Layers.batchIntervals(traced))
  }
}
