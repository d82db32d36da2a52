package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev tool: audit graded queries (`SparkEntry.queries`, matched by name
  * prefix) in one of three modes.
  *
  *  - `jobs` (the default): run each query and print every Spark JOB
  *    with its callsite, wall time and the generated classes compiled
  *    since the previous job ended (Spark's `CodegenMetrics` count, read
  *    when the listener sees the job end) — the per-batch job inventory
  *    of an MV/commit loop, where the driver/commit floor (~50-90 ms per
  *    job on a 4-core box) dominates at sf0.1. Each query ends with its
  *    job and compile totals: an MV loop whose later batches keep
  *    compiling has more plan shapes per batch than Spark's codegen
  *    cache holds (two entries per shape, 100 entries).
  *  - `stages`: run each query twice (cold, then warm) and print every
  *    completed stage with its task count, wall and executor cpu
  *    seconds — single-task stages are lost parallelism, a high
  *    cpu/wall ratio is real work.
  *  - `plans`: print each query's formatted physical plan; nothing
  *    runs.
  *
  * Cores and scale factor come from `SPARK_GRAFT_CPUS` (default 32) and
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). Usage:
  * `runMain graft.tools.JobAudit [jobs|stages|plans] q87 ...` */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val modes = Set("jobs", "stages", "plans")
    val (mode, prefixes) = args.headOption.filter(modes) match {
      case Some(m) => (m, args.toSeq.tail)
      case None    => ("jobs", args.toSeq)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = prefixes.map(w => SparkEntry.queries.toSeq.sortBy(_._1)
      .find(_._1.startsWith(w)).getOrElse(sys.error(s"no query matching $w")))
    if (mode == "plans") queries.foreach { case (name, fn) =>
      println(s"\n===================== $name =====================")
      fn(spark, sfDir).explain("formatted")
    } else audit(spark, sfDir, queries, stages = mode == "stages")
    spark.stop()
  }

  private def audit(spark: SparkSession, sfDir: String,
                    queries: Seq[(String, (SparkSession, String) =>
                      org.apache.spark.sql.DataFrame)],
                    stages: Boolean): Unit = {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiledAt = new java.util.concurrent.atomic.AtomicLong(compiles)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      if (stages) new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          val i = s.stageInfo
          val wall = (i.completionTime.get - i.submissionTime.get) / 1000.0
          println(f"[stage] id=${i.stageId}%3d tasks=${i.numTasks}%3d " +
            f"wall=$wall%6.2f s " +
            f"cpu=${i.taskMetrics.executorRunTime / 1000.0}%7.2f s  ${i.name}")
        }
      } else new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          t0.put(j.jobId, System.nanoTime())
          jobs.incrementAndGet()
          // the job-start callsite is the streaming query's start()
          // for every foreachBatch job; the RESULT STAGE's name carries
          // the actual action callsite (count/collect/parquet at ...)
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          println(f"[job] #${j.jobId}%03d START " +
            s"stages=${j.stageInfos.size} $site")
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit = {
          val dt = Option(t0.get(j.jobId))
            .map(s => (System.nanoTime() - s) / 1e6).getOrElse(-1.0)
          val c = compiles
          val dc = c - compiledAt.getAndSet(c)
          println(f"[job] #${j.jobId}%03d END   $dt%8.1f ms compiles=$dc")
        }
      })
    spark.range(1000000).selectExpr("sum(id)").collect()
    val runs = if (stages) Seq(" cold", " warm") else Seq("")
    for ((name, fn) <- queries; run <- runs) {
      println(s"=== $name$run ===")
      val (t, j0, c0) = (System.nanoTime(), jobs.get, compiles)
      fn(spark, sfDir).count()
      Thread.sleep(300)
      println(f"=== $name$run total ${(System.nanoTime() - t) / 1e9}%.3f s " +
        s"jobs=${jobs.get - j0} compiles=${compiles - c0} ===")
    }
  }
}
