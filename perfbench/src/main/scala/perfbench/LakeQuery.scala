package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger

import graft.{CatalogConfig, GraftConfig, GraftEngine, StorageConfig}
import graft.lake.LakeTable
import graft.streaming.MVManager

/** Reads, closed loop: one client runs a seeded mix of SQL queries over a
  * table that the ingest path built and merge-on-read DML left with live
  * delete files. Every few queries the same client appends a few rows,
  * then reads one of them back, so cached plans and metadata go stale as
  * on a live table. */
final class LakeQuery(ctx: Ctx, dir: Path, rep: Int) extends Workload(ctx, dir) {
  import LakeQuery._

  private val sc = ctx.scale
  private val rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
  private val gen = new EventGen(ctx.seed, 0L)
  private val cat = s"lq$rep"
  private val engine = new GraftEngine(spark, GraftConfig(
    StorageConfig(dir.resolve("wh").toString),
    CatalogConfig(namespace = "ns", sqlName = Some(cat))))
  private val t = s"$cat.ns.events"
  private var table: LakeTable = _
  /** Expected live rows: the generator's rows with the DML applied. */
  private val live = mutable.LinkedHashMap.empty[Long, Event]
  private var atV0 = Map.empty[Long, Event]
  private var v0 = 0
  private val appendVersions = mutable.ArrayBuffer.empty[(Int, Seq[Event])]
  private val latency = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val planMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val execMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val commitMs = mutable.ArrayBuffer.empty[Double]
  private val afterCommit, repeat = mutable.ArrayBuffer.empty[Double]
  private val stepIv = mutable.ArrayBuffer.empty[(Long, Long)]
  private var bytesScanned, rowsReturned, scannedQueries = 0L

  private def sqlOf(cls: String): String = cls match {
    case "aggregate" => s"SELECT kind, count(*), sum(value), max(event_ts) FROM $t GROUP BY kind"
    case "range" =>
      val from = Events.Epoch0Micros + rnd.nextInt(Events.Days * 4) * Events.DayMicros / 4
      s"SELECT count(*), sum(value) FROM $t WHERE event_ts >= ${ts(from)} " +
        s"AND event_ts < ${ts(from + Events.DayMicros / 4)}"
    case "lookup" =>
      s"SELECT * FROM $t WHERE event_id = ${rnd.nextInt(live.size + 1000)}"
    case "version_as_of" => s"SELECT count(*), sum(value) FROM $t VERSION AS OF $v0"
    case "table_changes" =>
      val hi = appendVersions.lastOption.map(_._1).getOrElse(v0)
      s"SELECT _change_type, count(*), sum(event_id) FROM table_changes('$t', ${hi - 1}, $hi) GROUP BY 1"
    case "snapshots" => s"SELECT count(*) FROM $t.snapshots"
  }

  /** Run one query: returns its rows; records plan, exec and scan figures. */
  private def query(cls: String, sql: String): Array[Row] = {
    val b0 = storageBytesRead()
    val t0 = System.nanoTime()
    val df = ctx.trace.span("lake_read", s"GraftEngine.sql $cls")(engine.sql(sql))
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = ctx.trace.span("lake_read", s"collect $cls")(df.collect())
    val t2 = System.nanoTime()
    latency.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (t2 - t0) / 1e6
    if (Tracing()) {
      planMs.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e6
      execMs.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (t2 - t1) / 1e6
      bytesScanned += storageBytesRead() - b0
      rowsReturned += rows.length
      scannedQueries += 1
    }
    sourceRows += live.size
    rows
  }

  private def append(): Unit = {
    val batch = gen.batch(20)
    val df = spark.createDataFrame(batch.map(_.row).toSeq.asJava, Events.schema)
    val t0 = System.nanoTime()
    val v = ctx.trace.span("lake", "LakeTable.append")(table.append(df))
    val done = System.nanoTime()
    commitMs += (done - t0) / 1e6
    batch.foreach(e => live(e.id) = e)
    appendVersions += ((v, batch.toSeq))
    // read-your-write: the first query after the commit, then its repeat
    val probe = s"SELECT count(*) FROM $t WHERE event_id = ${batch.head.id}"
    val a = System.nanoTime()
    val seen = query("lookup", probe).head.getLong(0)
    val b = System.nanoTime()
    query("lookup", probe)
    val c = System.nanoTime()
    afterCommit += (b - a) / 1e6
    repeat += (c - b) / 1e6
    if (seen != 1L) throw new IllegalStateException(
      s"appended event ${batch.head.id} not visible after its commit")
    headline += ((Tracing(), (b - done) / 1e6))
  }

  def setup(): Unit = {
    // the table's layout is the one ingestion produces
    val arrow = new ArrowBatchWriter(dir.resolve("arrow"))
    try (0 until sc.queryBatches).foreach { id =>
      val batch = gen.batch(sc.queryBatchRows)
      batch.foreach(e => live(e.id) = e)
      arrow.stage(id, batch); arrow.publish(id)
    } finally arrow.close()
    engine.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    table = LakeTable.create(spark, dir.resolve("wh/ns/events").toString, Events.schema,
      properties = LakeTable.autoCompactProps(8), partitionBy = Seq("days(event_ts)"),
      store = ctx.store)
    val mv = new MVManager(spark, dir.resolve("ckpt").toString)
    mv.startToLake("lake_query_load", spark.readStream.format("graft-arrow")
      .schema(Events.schema).load(dir.resolve("arrow").toString), table, Trigger.AvailableNow())
      .awaitTermination()
    mv.stopAll()
    // merge-on-read deletes and upserts leave live delete files
    val r = 1 + rnd.nextInt(50)
    engine.sql(s"DELETE FROM $t WHERE event_id % 53 = $r")
    live.keys.filter(_ % 53 == r).toSeq.foreach(live.remove)
    val changed = live.values.filter(_.id % 97 == r).map(e =>
      e.copy(value = e.value + 1, payload = e.payload + " upd")).toSeq
    val upserts = changed ++ gen.batch(changed.size / 2 + 1)
    spark.createDataFrame(upserts.map(_.row).asJava, Events.schema)
      .createOrReplaceTempView(s"${cat}_upserts")
    engine.sql(s"""MERGE INTO $t d USING ${cat}_upserts s ON d.event_id = s.event_id
      |WHEN MATCHED THEN UPDATE SET value = s.value, payload = s.payload
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    upserts.foreach(e => live(e.id) = e)
    v0 = table.currentVersion
    atV0 = live.toMap
  }

  /** Each query class once, and one append. */
  def warmUp(): Unit = {
    Classes.foreach(c => query(c, sqlOf(c)))
    append()
    latency.clear(); commitMs.clear(); afterCommit.clear(); repeat.clear(); headline.clear()
    sourceRows = 0
  }

  def run(seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0L
    measured() {
      while (System.nanoTime() < end) {
        val traced = Tracing()
        val t0 = System.nanoTime()
        attempted += 1
        try ctx.step("lake_query.step") {
          if (i % AppendEvery == AppendEvery - 1) append()
          else { val c = pickClass(); query(c, sqlOf(c)) }
        } catch { case e: Exception =>
          failed += 1; System.err.println(s"[perfbench] lake_query step failed: $e")
        }
        if (traced) { tracedSteps += 1; stepIv += ((t0, System.nanoTime())) }
        i += 1
      }
    }
  }

  /** The mix in cycles of 20 queries holding each class in its exact
    * share, shuffled by the seed, so every run sees the same mix. */
  private val cycle = mutable.Queue.empty[String]
  private def pickClass(): String = {
    if (cycle.isEmpty) {
      val c = Classes.zip(Shares).flatMap { case (k, n) => Seq.fill(n)(k) }
      cycle ++= scala.util.Random.javaRandomToRandom(rnd).shuffle(c)
    }
    cycle.dequeue()
  }

  def stop(): Unit = ()

  /** Each query class against the same query over a plain in-memory copy
    * of the expected live rows (at V0 for the time-travel class). */
  def check(): Seq[String] = {
    def plain(name: String, rows: Iterable[Event]): Unit =
      spark.createDataFrame(rows.map(_.row).toSeq.asJava, Events.schema)
        .createOrReplaceTempView(s"${cat}_$name")
    plain("expected", live.values)
    plain("expected_v0", atV0.values)
    val fixed = new java.util.Random(ctx.seed)
    val lookupId = live.keys.toSeq(fixed.nextInt(live.size))
    val from = Events.Epoch0Micros + Events.DayMicros + Events.DayMicros / 3
    val cases = Seq(
      "aggregate" -> s"SELECT kind, count(*), sum(value), max(event_ts) FROM %s GROUP BY kind",
      "range" -> (s"SELECT count(*), sum(value) FROM %s WHERE event_ts >= ${ts(from)} " +
        s"AND event_ts < ${ts(from + Events.DayMicros / 4)}"),
      "lookup" -> s"SELECT * FROM %s WHERE event_id = $lookupId")
    val plainChecks = cases.flatMap { case (cls, q) =>
      compare(cls, engine.sql(q.format(t)).collect(),
        spark.sql(q.format(s"${cat}_expected")).collect())
    }
    val version = compare("version_as_of",
      engine.sql(s"SELECT count(*), sum(value) FROM $t VERSION AS OF $v0").collect(),
      spark.sql(s"SELECT count(*), sum(value) FROM ${cat}_expected_v0").collect())
    val changes = appendVersions.lastOption.toSeq.flatMap { case (v, rows) =>
      compare("table_changes", engine.sql(
        s"SELECT _change_type, count(*), sum(event_id) FROM table_changes('$t', $v, $v) GROUP BY 1")
        .collect(), Array(Row("insert", rows.size.toLong, rows.map(_.id).sum)))
    }
    val snaps = engine.sql(s"SELECT count(*) FROM $t.snapshots").head.getLong(0)
    val snapCheck = if (snaps == table.currentVersion + 1L) Nil
      else Seq(s"snapshots: $snaps rows for ${table.currentVersion + 1} versions")
    plainChecks ++ version ++ changes ++ snapCheck
  }

  def endToEnd(r: Report): Unit = {
    Layers.latency(r, "freshness", headline.map(_._2).toSeq)
    r.add("commit_p50_ms", Stats.median(commitMs), "ms", commitMs.size)
    cpuPerMrow(r)
    val all = latency.values.flatten.toSeq
    r.add("query_p50_ms", Stats.median(all), "ms", all.size)
    if (all.size >= 200) r.add("query_p95_ms", Stats.quantile(all, 0.95), "ms", all.size)
    val busyS = all.sum / 1e3
    r.add("queries_per_s", all.size / math.max(1e-9, busyS), "1/s", all.size)
  }

  def perLayer(r: Report): Unit = {
    Classes.foreach { c =>
      val p = planMs.getOrElse(c, Nil); val e = execMs.getOrElse(c, Nil)
      r.add(s"lake_read.plan_ms.$c", Stats.median(p), "ms", p.size)
      r.add(s"lake_read.exec_ms.$c", Stats.median(e), "ms", e.size)
    }
    val p = planMs.values.flatten; val e = execMs.values.flatten
    r.add("lake_read.plan_ms", Stats.median(p), "ms", p.size)
    r.add("lake_read.exec_ms", Stats.median(e), "ms", e.size)
    val q = math.max(1L, scannedQueries)
    r.add("lake_read.bytes_scanned_per_query", bytesScanned.toDouble / q, "bytes", scannedQueries)
    r.add("lake_read.rows_read_per_row_returned",
      ctx.jobs.recordsRead.get.toDouble / math.max(1L, rowsReturned), "rows", rowsReturned)
    r.add("lake_read.after_commit_ms", Stats.median(afterCommit), "ms", afterCommit.size)
    r.add("lake_read.repeat_ms", Stats.median(repeat), "ms", repeat.size)
    Layers.store(r, ctx, tracedSteps)
    Layers.layout(r, Seq(table -> v0), appendVersions.flatMap(_._2).map(_.rawBytes).sum)
    Layers.spark(r, ctx, stepIv.toSeq)
  }
}

object LakeQuery {
  val Classes: Seq[String] =
    Seq("aggregate", "range", "lookup", "version_as_of", "table_changes", "snapshots")
  /** Queries of each class per cycle of 20, in [[Classes]] order. */
  val Shares: Seq[Int] = Seq(3, 5, 6, 2, 2, 2)
  /** Every this many steps, the step is an append instead of a query. */
  val AppendEvery = 3

  def ts(micros: Long): String =
    s"TIMESTAMP '${java.time.Instant.EPOCH.plusNanos(micros * 1000L)}'"

  /** Bytes read through Hadoop file systems so far, by every thread. The
    * lake's SQL scan wraps an inner plan, so its file scans do not show
    * in the query's own plan metrics; storage bytes do. */
  def storageBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  /** Rows equal as multisets; doubles equal to 1e-9 relative, as sums
    * taken in different orders differ in their last digits. */
  def compare(cls: String, got: Array[Row], want: Array[Row]): Seq[String] = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.4e"
      case x => String.valueOf(x)
    }.mkString("|")
    def same(a: Any, b: Any) = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => a == b
    }
    val (g, w) = (got.sortBy(key), want.sortBy(key))
    val ok = g.length == w.length && g.zip(w).forall { case (a, b) =>
      a.length == b.length && a.toSeq.zip(b.toSeq).forall { case (x, y) => same(x, y) }
    }
    if (ok) Nil else Seq(s"$cls: lake ${g.take(3).mkString} vs expected ${w.take(3).mkString}")
  }
}
