package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev tool: run queries and print every Spark JOB with its callsite,
  * wall time and the generated classes compiled since the previous job
  * ended (Spark's `CodegenMetrics` count, read when the listener sees
  * the job end) — the per-batch job inventory of an MV/commit loop,
  * where the driver/commit floor (~50-90 ms per job on a 4-core box)
  * dominates at sf0.1. Each query ends with its job and compile totals:
  * an MV loop whose later batches keep compiling has more plan shapes
  * per batch than Spark's codegen cache holds (two entries per shape,
  * 100 entries). Usage: runMain graft.tools.JobAudit q87 */
object JobAudit {
  def main(args: Array[String]): Unit = {
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
    val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiledAt = new java.util.concurrent.atomic.AtomicLong(compiles)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          t0.put(j.jobId, System.nanoTime())
          jobs.incrementAndGet()
          // the job-start callsite is the streaming query's start()
          // for every foreachBatch job; the RESULT STAGE's name carries
          // the actual action callsite (count/collect/parquet at ...)
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
          val nstg = j.stageInfos.size
          println(f"[job] #${j.jobId}%03d START stages=$nstg $site")
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val dt = Option(t0.get(j.jobId))
            .map(s => (System.nanoTime() - s) / 1e6).getOrElse(-1.0)
          val c = compiles
          val dc = c - compiledAt.getAndSet(c)
          println(f"[job] #${j.jobId}%03d END   $dt%8.1f ms compiles=$dc")
        }
      })
    spark.range(1000000).selectExpr("sum(id)").collect()
    args.foreach { w =>
      val (name, fn) = SparkEntry.queries.toSeq.sortBy(_._1)
        .find(_._1.startsWith(w))
        .getOrElse(sys.error(s"no query matching $w"))
      println(s"=== $name ===")
      val (t, j0, c0) = (System.nanoTime(), jobs.get, compiles)
      fn(spark, sfDir).count()
      Thread.sleep(300)
      println(f"=== $name total ${(System.nanoTime() - t) / 1e9}%.3f s " +
        s"jobs=${jobs.get - j0} compiles=${compiles - c0} ===")
    }
    spark.stop()
  }
}
