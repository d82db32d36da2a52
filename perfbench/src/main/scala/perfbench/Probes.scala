package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.lake.{CommitStore, PosixCommitStore}

/** Order statistics over samples, as the report prints them. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Whether the per-layer probes record. The untraced run never turns it
  * on; a traced run turns it on for alternate windows, so the same run
  * also measures the probes' own overhead. */
object Tracing {
  val on = new AtomicBoolean(false)
  def apply(): Boolean = on.get()
}

/** One micro-batch as its progress event reports it. */
final case class Progress(queryId: String, batchId: Long, receivedNs: Long,
                          durations: Map[String, Long],
                          startOffset: Long, endOffset: Long, rows: Long,
                          traced: Boolean)

/** Collects every progress event of the one running streaming query and
  * lets a client wait until a source offset is covered. Offsets of all
  * the sources the workloads read (Arrow batch ids, lake versions) are
  * single integers. */
final class ProgressLog extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[Progress]
  private val lock = new Object

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    if (p.sources.isEmpty) return
    def off(s: String): Long =
      if (s == null || s.trim.isEmpty || s == "null") -1L else s.trim.toLong
    val src = p.sources.head
    val ev = Progress(p.id.toString, p.batchId, now,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      off(src.startOffset), off(src.endOffset), p.numInputRows, Tracing())
    lock.synchronized { events += ev; lock.notifyAll() }
  }

  def all: Seq[Progress] = lock.synchronized(events.toVector)
  def clear(): Unit = lock.synchronized(events.clear())

  /** nanoTime of the first event whose end offset reaches `offset`, or
    * None when none arrives before `deadlineNs`. */
  def awaitCovered(offset: Long, deadlineNs: Long): Option[Long] =
    lock.synchronized {
      def hit = events.find(_.endOffset >= offset).map(_.receivedNs)
      var h = hit
      while (h.isEmpty && System.nanoTime() < deadlineNs) {
        lock.wait(math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L))
        h = hit
      }
      h
    }
}

/** Spark job, stage and task totals, kept while [[Tracing]] is on. Each
  * job is tagged with the micro-batch (streaming job properties) or the
  * client step (the `perfbench.step` local property) that ran it. */
object JobLog {
  final case class Job(id: Int, startNs: Long, var endNs: Long,
                       queryId: Option[String], batchId: Option[Long],
                       step: Option[Long])
}

final class JobLog extends SparkListener {
  import JobLog.Job
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val recordsRead = new AtomicLong
  /** Task milliseconds and shuffle bytes per streaming query id. */
  val taskMsByQuery = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val shuffleByQuery = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (Tracing()) {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val j = Job(e.jobId, System.nanoTime(), -1L, prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId").map(_.toLong),
      prop("perfbench.step").map(_.toLong))
    jobs.add(j)
    byId.put(e.jobId, j)
    e.stageIds.foreach(s => jobOfStage.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.remove(e.jobId)).foreach(_.endNs = System.nanoTime())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (jobOfStage.containsKey(e.stageInfo.stageId)) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = jobOfStage.get(e.stageId)
    if (job != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val shuffle = m.shuffleWriteMetrics.bytesWritten
      tasks.incrementAndGet()
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(shuffle)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      job.queryId.foreach { q =>
        taskMsByQuery.computeIfAbsent(q, _ => new AtomicLong).addAndGet(m.executorRunTime)
        shuffleByQuery.computeIfAbsent(q, _ => new AtomicLong).addAndGet(shuffle)
      }
    }
  }
}

/** A [[CommitStore]] that delegates to [[PosixCommitStore]] and, while
  * [[Tracing]] is on, records a span for each put, read and hint and
  * counts and times the puts. Snapshot commits are the puts whose object
  * name is `vNNNNNNNN.json`. Metadata reads are counted by [[MetaReads]]. */
final class TimingCommitStore(trace: Trace) extends CommitStore {
  private val delegate = PosixCommitStore
  val commitAttempts = new AtomicLong
  val commitConflicts = new AtomicLong
  val putNs = new AtomicLong
  val puts = new AtomicLong

  private def isSnapshot(p: Path) = p.getFileName.toString.matches("v\\d{8}\\.json")

  override def putIfAbsent(path: Path, content: String): Boolean =
    if (!Tracing()) delegate.putIfAbsent(path, content)
    else {
      val t0 = System.nanoTime()
      val won = trace.span("lake", "CommitStore.putIfAbsent")(delegate.putIfAbsent(path, content))
      puts.incrementAndGet(); putNs.addAndGet(System.nanoTime() - t0)
      if (isSnapshot(path)) {
        commitAttempts.incrementAndGet()
        if (!won) commitConflicts.incrementAndGet()
      }
      won
    }
  override def read(path: Path): Option[String] =
    trace.span("lake", "CommitStore.read")(delegate.read(path))
  override def delete(path: Path): Boolean = delegate.delete(path)
  override def list(dir: Path): Seq[Path] = delegate.list(dir)
  override def putHint(path: Path, content: String): Unit =
    trace.span("lake", "CommitStore.putHint")(delegate.putHint(path, content))
}

/** Reads of lake metadata files (snapshot log, manifests, the version
  * hint) while [[Tracing]] is on, from the JVM's flight recorder. The
  * engine reads its snapshot log with plain file reads, not through the
  * commit store, and SQL catalogs build their own stores, so
  * [[TimingCommitStore]] sees only part of the read path; the recorder's
  * `jdk.FileRead` events see every read call, whoever makes it. A
  * traced run only: the recording exists while the JVM runs. */
final class MetaReads(dump: Path) {
  private val rec = new jdk.jfr.Recording()
  rec.start() // no event enabled until the first traced window

  def record(on: Boolean): Unit =
    if (on) rec.enable("jdk.FileRead").withThreshold(java.time.Duration.ZERO).withoutStackTrace()
    else rec.disable("jdk.FileRead")

  /** (read calls that returned bytes, milliseconds inside read calls) on
    * files under a `metadata` directory; ends the recording. */
  lazy val totals: (Long, Double) = {
    rec.stop(); rec.dump(dump); rec.close()
    val sep = java.io.File.separator
    val reads = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.filter { e =>
      e.getEventType.getName == "jdk.FileRead" &&
        Option(e.getString("path")).exists(_.contains(s"${sep}metadata$sep"))
    }
    (reads.count(_.getLong("bytesRead") > 0), reads.map(_.getDuration.toNanos).sum / 1e6)
  }
}

/** In-memory spans with parent links. Each client or generator step has
  * one id; spans opened inside it carry that id and the enclosing span
  * as parent. Recording happens only while [[Tracing]] is on. */
object Trace {
  final case class Span(id: Long, parent: Long, step: Long, layer: String,
                        name: String, startNs: Long, endNs: Long)
}

final class Trace {
  import Trace.Span
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[(Long, Long)] { // (span id, step)
    override def initialValue(): (Long, Long) = (0L, -1L)
  }

  private def nextId(): Long = ids.incrementAndGet()

  def step[T](stepId: Long, name: String)(body: => T): T = {
    val prev = current.get()
    current.set((0L, stepId))
    try span("client", name)(body) finally current.set(prev)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!Tracing()) body
    else {
      val (parent, step) = current.get()
      val id = nextId()
      current.set((id, step))
      val t0 = System.nanoTime()
      try body finally {
        spans.add(Span(id, parent, step, layer, name, t0, System.nanoTime()))
        current.set((parent, step))
      }
    }

  /** The recorded spans plus those rebuilt after the run from listener
    * records: each traced micro-batch with its `durationMs` phases laid
    * end to end (Spark's order), each Spark job under the micro-batch's
    * addBatch phase or the client step that ran it, and each commit-store
    * call made on a stream thread under the addBatch phase around it. */
  def assemble(batches: Seq[Progress], jobs: Seq[JobLog.Job]): Vector[Span] = {
    val phases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "getBatch" -> "sources", "queryPlanning" -> "streaming",
      "addBatch" -> "streaming", "commitOffsets" -> "streaming")
    val built = mutable.ArrayBuffer.empty[Span]
    val addBatchOf = mutable.Map.empty[(String, Long), Span]
    batches.filter(_.traced).foreach { p =>
      val total = p.durations.getOrElse("triggerExecution", 0L) * 1000000L
      val b = Span(nextId(), 0L, -1L, "streaming", s"microbatch ${p.batchId}",
        p.receivedNs - total, p.receivedNs)
      built += b
      var t = b.startNs
      phases.foreach { case (ph, layer) =>
        val d = p.durations.getOrElse(ph, 0L) * 1000000L
        val s = Span(nextId(), b.id, -1L, layer, ph, t, math.min(t + d, b.endNs))
        built += s
        if (ph == "addBatch") addBatchOf((p.queryId, p.batchId)) = s
        t += d
      }
    }
    val recorded = spans.asScala.toVector
    val clientRoot = recorded.filter(s => s.parent == 0L && s.layer == "client")
      .map(s => s.step -> s.id).toMap
    val sinks = addBatchOf.values.toVector.sortBy(_.startNs)
    def sinkAround(ns: Long) = sinks.find(s => s.startNs <= ns && ns <= s.endNs)
    jobs.filter(_.endNs > 0).foreach { j =>
      val parent = (for (q <- j.queryId; b <- j.batchId; s <- addBatchOf.get((q, b))) yield s.id)
        .orElse(j.step.flatMap(clientRoot.get)).getOrElse(0L)
      built += Span(nextId(), parent, j.step.getOrElse(-1L), "spark", s"job ${j.id}",
        j.startNs, j.endNs)
    }
    recorded.map { s =>
      if (s.parent != 0L || s.step != -1L) s
      else sinkAround(s.startNs).map(k => s.copy(parent = k.id)).getOrElse(s)
    } ++ built
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover. */
  def selfTimeMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Layers.covered(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def toJsonLines(all: Seq[Span]): Iterator[String] = all.iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"step":${s.step},"layer":"${s.layer}",""" +
      s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}
