package graft

/** Per-round benchmark: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line with every query's
  * time, then a compact summary line (total, parallelism, controls,
  * failed count) as the last stdout line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val startedMs = System.currentTimeMillis()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/scheduler warm-up outside any query's timing
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    // dev knobs: SPARK_GRAFT_ONLY=q32,q33 to bench a subset,
    // SPARK_GRAFT_REPEAT=N to control repeats (min time reported).
    // Default 2: first execution of a plan pays janino codegen compile
    // (~0.3-0.5s/query) that a long-running engine amortizes away, so
    // min-of-2 reports steady-state throughput.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
    // a failed query is reported as -1 with its name in "failed" (and
    // the stack trace on stderr) — never as a plausible-looking wall time
    val results = selected.map { case (name, fn) =>
      val times = (1 to repeat).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            e.printStackTrace()
            None
        }
      }
      name -> times.minOption
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.getOrElse(-1.0) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    // Additions after "sf" (r17): the ~10 KB line was truncated to a
    // 2,000-char tail by the driver's capture every round since r13
    // (BENCH_r*.json `parsed: null`), so the same line is ALSO written
    // to bench_out.json for a whole-line parse; "parallelism" proves
    // the $SPARK_GRAFT_CPUS core count took effect, and "controls"
    // duplicates the two regime sentinels (q01 general, q56 CPU-dense)
    // near the END of the line where a tail capture still sees them.
    // "started_ms" (epoch ms at run start) follows "controls" so
    // a stale bench_out.json from an earlier run is detectable.
    // All pre-existing keys, their order, and the timing methodology
    // (count() sink, min-of-N) are unchanged.
    val controls = Seq("q01_agg_pricing", "q56_neardup_clusters")
      .flatMap(c => results.collectFirst {
        case (k, Some(v)) if k == c => s"\"$k\":$v" })
      .mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","parallelism":${spark.sparkContext.defaultParallelism},"controls":$controls,"started_ms":$startedMs}"""
    println(line)
    // The last stdout line is a compact summary of the line above, for
    // readers that keep only a line's first 500 chars: "failed" is the
    // failed-query count here (their names are in the full line), so
    // the summary stays ~150 chars whatever fails.
    println(s"""{"metric":"total","value":$total,"parallelism":${spark.sparkContext.defaultParallelism},"controls":$controls,"failed":${results.count(_._2.isEmpty)}}""")
    try {
      val out = java.nio.file.Paths.get("bench_out.json")
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote ${out.toAbsolutePath}")
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write bench_out.json: $e")
    }
    spark.stop()
  }
}
