package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One metric as printed: name, value, unit and the number of samples
  * behind it (1 for a single observation, such as a count at the end of
  * the run). */
final case class Metric(name: String, value: Double, unit: String, n: Long)

final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  def add(name: String, value: Double, unit: String, n: Long = 1L): Unit =
    metrics(name) = Metric(name, if (value.isNaN || value.isInfinite) 0.0 else value, unit, n)
}

/** Input sizes. `small` is the self-test's scale. */
final case class Scale(ingestRate: Double, ingestRows: Int, cdcKeys: Int,
                       cdcInsert: Int, cdcUpdate: Int, cdcDelete: Int,
                       curationDocs: Int, queryBatches: Int, queryBatchRows: Int,
                       setupReps: Int)
object Scale {
  val default = Scale(ingestRate = 1.5, ingestRows = 1000, cdcKeys = 1000,
    cdcInsert = 40, cdcUpdate = 12, cdcDelete = 8, curationDocs = 100,
    queryBatches = 6, queryBatchRows = 4000, setupReps = 3)
  val small = Scale(ingestRate = 8, ingestRows = 50, cdcKeys = 300,
    cdcInsert = 10, cdcUpdate = 4, cdcDelete = 3, curationDocs = 40,
    queryBatches = 4, queryBatchRows = 200, setupReps = 1)
}

/** What every workload shares: the session, the probes and the seed.
  * `metaReads` exists in traced runs only. */
final class Ctx(val spark: SparkSession, val seed: Long, val scale: Scale,
                val metaReads: Option[MetaReads]) {
  val progress = new ProgressLog
  val jobs = new JobLog
  val trace = new Trace
  val store = new TimingCommitStore(trace)
  private val steps = new java.util.concurrent.atomic.AtomicLong

  /** Run one client step: a span, and a job-group tag on its Spark jobs. */
  def step[T](name: String)(body: => T): T = {
    val id = steps.incrementAndGet()
    spark.sparkContext.setLocalProperty("perfbench.step", id.toString)
    try trace.step(id, name)(body)
    finally spark.sparkContext.setLocalProperty("perfbench.step", null)
  }

  private val threads = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime
  def threadCpuNs(): Long = threads.getCurrentThreadCpuTime
}

/** A workload's life: set up (inputs, tables, query, warm-up steps), run
  * the measured phase, stop, check outputs, and report. */
abstract class Workload(val ctx: Ctx, val dir: Path) {
  def spark: SparkSession = ctx.spark
  var attempted = 0L
  var failed = 0L
  /** (traced, ms) per sample of the workload's headline latency. */
  val headline = mutable.ArrayBuffer.empty[(Boolean, Double)]
  var cpuNs = 0L
  var sourceRows = 0L
  var tracedSteps = 0L

  /** Inputs, tables and the started query, ready for its first step. */
  def setup(): Unit
  /** The first steps, run once on the instance that is measured. */
  def warmUp(): Unit
  def run(seconds: Double): Unit
  def stop(): Unit
  /** Outputs checked against the generator; returns the mismatches. */
  def check(): Seq[String]
  def endToEnd(r: Report): Unit
  def perLayer(r: Report): Unit

  /** Run the measured phase, charging it the process CPU it used; an
    * open-loop generator's own thread is load, not engine, and is left
    * out. A closed-loop client's thread plans and commits for the engine,
    * so it stays in. */
  protected def measured(excludeThisThread: Boolean = false)(body: => Unit): Unit = {
    def cpu() = ctx.processCpuNs() - (if (excludeThisThread) ctx.threadCpuNs() else 0L)
    val c0 = cpu()
    body
    cpuNs = cpu() - c0
  }

  protected def cpuPerMrow(r: Report): Unit =
    r.add("cpu_s_per_mrow", cpuNs / 1e9 / math.max(1L, sourceRows) * 1e6, "s/Mrow", sourceRows)
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable =>
      e.printStackTrace()
      sys.exit(1) // Spark's threads would otherwise keep a failed run alive
    }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload missing"))
    val seed = arg(args, "--seed").getOrElse("1").toLong
    val seconds = arg(args, "--seconds").getOrElse("10").toDouble
    val traced = arg(args, "--trace").contains("1")
    val out = Paths.get(arg(args, "--out").getOrElse(sys.error("--out missing")))
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work missing")))
    val scale = if (arg(args, "--scale").contains("small")) Scale.small else Scale.default
    require(out.isAbsolute, s"--out must be absolute: $out")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.register(spark)
    graft.GraftFunctions.installStrategies(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ctx = new Ctx(spark, seed, scale,
      if (traced) Some(new MetaReads(work.resolve("meta.jfr"))) else None)
    def setTracing(on: Boolean): Unit = { Tracing.on.set(on); ctx.metaReads.foreach(_.record(on)) }
    spark.streams.addListener(ctx.progress)
    if (traced) spark.sparkContext.addSparkListener(ctx.jobs)

    def make(rep: Int): Workload = {
      val d = work.resolve(s"rep$rep")
      workload match {
        case "ingest" => new Ingest(ctx, d)
        case "cdc_mirror" => new CdcMirror(ctx, d, rep)
        case "curation" => new Curation(ctx, d)
        case "lake_query" => new LakeQuery(ctx, d, rep)
        case other => sys.error(s"unknown workload $other")
      }
    }
    // set-up is repeated and its median reported, so one slow set-up
    // (or work moved into set-up) shows without dominating the figure;
    // the warm-up steps then run once, on the instance that is measured
    val reps = scale.setupReps
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    (0 until reps).foreach { rep =>
      val t0 = System.nanoTime()
      w = make(rep)
      w.setup()
      setupTimes += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $rep took ${setupTimes.last}%.2f s")
      if (rep < reps - 1) { w.stop(); deleteTree(w.dir); ctx.progress.clear() }
    }
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] warm-up took $warmS%.2f s")
    val setupS = sessionS + Stats.median(setupTimes) + warmS

    // traced runs alternate untraced and traced quarters, so the same
    // run yields the per-layer numbers and the probes' overhead
    val flipper = if (!traced) None else Some {
      val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
      val q = (seconds * 1000 / 4).toLong
      Seq(q -> true, 2 * q -> false, 3 * q -> true).foreach { case (t, on) =>
        ex.schedule((() => setTracing(on)): Runnable, t, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      ex
    }
    val runStart = System.nanoTime()
    w.run(seconds)
    val runS = (System.nanoTime() - runStart) / 1e9
    flipper.foreach(_.shutdownNow())
    setTracing(false)
    val heapLiveMb = liveHeapMb()
    w.stop()
    val c0 = System.nanoTime()
    val mismatches = w.check()
    System.err.println(f"[perfbench] session ${sessionS}%.2f s, run ${runS}%.2f s, " +
      f"check ${(System.nanoTime() - c0) / 1e9}%.2f s")
    System.err.println("[perfbench] headline ms: " +
      w.headline.map(h => f"${h._2}%.0f").mkString(" "))
    mismatches.take(20).foreach(m => System.err.println(s"[perfbench] check failed: $m"))

    val r = new Report
    r.add("setup_s", setupS, "s", setupTimes.size)
    w.endToEnd(r)
    r.add("heap_live_mb", heapLiveMb, "MB")
    r.add("rss_peak_mb", rssPeakMb(), "MB")
    r.add("ops", w.attempted, "count")
    r.add("ops_failed", w.failed + mismatches.size, "count")
    if (traced) {
      w.perLayer(r)
      val (on, off) = w.headline.partition(_._1)
      val overhead = Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1
      r.add("trace.overhead_pct", overhead * 100, "%", on.size + off.size)
      writeTrace(ctx, work.resolve(s"trace-$workload-$seed.jsonl"), r)
    }
    writeResult(out, workload, seed, seconds, runS, cores, traced,
      mismatches.isEmpty, w.attempted, w.failed + mismatches.size, r)
    spark.stop()
    sys.exit(0) // no stray non-daemon thread may keep the JVM up
  }

  /** Heap the program still holds after a full collection, taken right
    * after the measured phase while the workload's query is still up. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    // Spark frees blocks of collected RDDs and broadcasts asynchronously
    // after a collection; give that cleaner time before the last one
    (0 until 3).foreach { _ => mem.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** Spans plus the per-layer self-time summary, one JSON object a line. */
  private def writeTrace(ctx: Ctx, path: Path, r: Report): Unit = {
    val spans = ctx.trace.assemble(ctx.progress.all, ctx.jobs.jobs.asScala.toVector)
    val self = ctx.trace.selfTimeMs(spans)
    self.foreach { case (layer, ms) => r.add(s"trace.self_ms.$layer", ms, "ms") }
    val summary = self.map { case (l, ms) => f""""$l":$ms%.3f""" }.mkString("{", ",", "}")
    Files.write(path, (ctx.trace.toJsonLines(spans) ++
      Iterator(s"""{"self_time_ms":$summary}""")).toSeq.asJava)
  }

  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private def writeResult(out: Path, workload: String, seed: Long, seconds: Double,
                          runS: Double, cores: Int, traced: Boolean, correct: Boolean,
                          attempted: Long, failed: Long, r: Report): Unit = {
    val ms = r.metrics.values.map { m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}","n":${m.n}}"""
    }.mkString(",")
    val json = s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,""" +
      s""""run_s":$runS,"nproc":$cores,"trace":${if (traced) 1 else 0},""" +
      s""""correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
    Files.createDirectories(out.getParent)
    Files.writeString(out, json + "\n")
  }
}
