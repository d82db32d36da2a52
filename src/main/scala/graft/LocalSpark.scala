package graft

import org.apache.spark.sql.SparkSession

/** The local session of every dev entry point (`Bench`, `Verify` and the
  * tools): `local[n]` with n from `SPARK_GRAFT_CPUS` (default
  * `defaultCores`), as many shuffle partitions, AQE, UTC session time
  * and no UI. `Main` builds its own, because spark-submit sets its
  * master. */
object LocalSpark {
  def builder(defaultCores: Int): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // CPU-dense ops (edit distance, pair explosion, sketches) carry few
      // bytes per row; the default 1 MB floor would coalesce them onto a
      // handful of cores
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }
}
