package graft.tools

import org.apache.spark.sql.functions._

import graft.{LocalSpark, Tables}
import graft.operators.{IvfIndex, SimilarityOps}

/** Measures RECALL@10 vs brute force for the whole ANN family — the
  * dial a 100 TB operator actually tunes (nprobe, kPrime, band
  * geometry, quantizer choice). The graded queries pin the family's
  * determinism and plan shape; this records its QUALITY so the
  * scaladoc dials cite measured curves instead of folklore.
  *
  * Ground truth is computed exactly on the driver (the sf corpus is
  * thousands of 64-dim vectors — KB-scale), under BOTH metrics:
  * cosine (the serving APIs' ranking) and squared L2 (what PQ's ADC
  * tables encode), so the PQ rows expose the metric-mismatch cost the
  * r9 advisor flagged, and the refined modes show same-metric (l2)
  * convergence vs cross-metric (cosine) pool re-ranking.
  *
  * Methods covered: IVF portable + Lloyd-trained (quantizer-quality
  * delta), flat PQ ADC, IVF-PQ composed, IVF-PQ refined (kPrime in
  * {2k,4k,8k}, both metrics), LSH seeded + portable (bits x radius).
  * Q query vectors in md5-hash order; self always excluded. */
object RecallScale {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val Q = sys.env.getOrElse("SPARK_GRAFT_RECALL_Q", "16").toInt
    val k = 10
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")

    // driver-side exact ground truth (id -> vector, doubles)
    val all: Array[(Long, Array[Double])] = emb.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    val byId = all.toMap
    println(s"corpus=${all.length} vectors, Q=$Q, k=$k")

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) -2.0 else d / den
    }
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    // query ids in the portable md5-hash order (the same device the
    // oracled fixtures use for "arbitrary but deterministic")
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String =
      md.digest(id.toString.getBytes).map("%02x".format(_)).mkString
    val qids = all.map(_._1).sortBy(id => (h(id), id)).take(Q)

    val gtCos: Map[Long, Set[Long]] = qids.map { qid =>
      val qv = byId(qid)
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(v, qv)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    }.toMap
    val gtL2: Map[Long, Set[Long]] = qids.map { qid =>
      val qv = byId(qid)
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (id, l2(v, qv)) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
    }.toMap

    def recall(got: Map[Long, Seq[Long]], gt: Map[Long, Set[Long]])
        : Double =
      qids.map(q => got.getOrElse(q, Nil).count(gt(q)).toDouble / k)
        .sum / qids.length

    def report(name: String, got: Map[Long, Seq[Long]]): Unit =
      println(f"$name%-42s recall@10 cos=${recall(got, gtCos)}%.3f " +
        f"l2=${recall(got, gtL2)}%.3f")

    val dir = java.nio.file.Files.createTempDirectory("recall-scale")
    val qvsF: Map[Long, Array[Float]] = qids.map(q =>
      q -> byId(q).map(_.toFloat)).toMap

    // ---- IVF: portable vs Lloyd quantizer, nprobe sweep ------------
    val c = 64
    for ((label, model) <- Seq(
        "ivf-portable" -> IvfIndex.trainPortable(emb, c),
        "ivf-lloyd" -> IvfIndex.train(emb, c, iters = 3))) {
      val idx = IvfIndex.buildIndex(spark, emb, model,
        s"$dir/$label")
      // cluster balance: recall@nprobe is only comparable across
      // quantizers at similar occupancy skew
      val sizes = IvfIndex.assign(emb, model)
        .groupBy("_cluster").count().select("count")
        .collect().map(_.getLong(0)).sorted.reverse
      println(s"$label cluster sizes: n=${sizes.length} " +
        s"max=${sizes.head} top5=${sizes.take(5).mkString(",")} " +
        s"median=${sizes(sizes.length / 2)}")
      for (nprobe <- Seq(1, 2, 4, 8, 16)) {
        import spark.implicits._
        val qdf = qids.map(q => (q, byId(q).map(_.toFloat).toSeq))
          .toSeq.toDF("query_id", "embedding")
          .select(col("query_id"), col("embedding").cast("array<float>"))
        val got = IvfIndex.searchPersistedBatch(idx, qdf, model,
            k = k + 1, nprobe = nprobe)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1)
          .map { case (q, rows) =>
            q -> rows.map(_._2).filter(_ != q).take(k).toSeq }
        report(f"$label nprobe=$nprobe%2d", got)
      }
    }

    // ---- flat PQ (ADC over every code row), codebook-size sweep ----
    // codes=16 is the oracle-portability fixture; a production
    // deployment would raise it — this measures how much ADC noise
    // (finding 2's nprobe inversion) richer codebooks buy back
    for (codes <- Seq(16, 64, 256)) {
      val (pqTable, pqCbs) = SimilarityOps.pqPersist(emb, spark,
        s"$dir/pq-flat-$codes", codes = codes)
      val gotPq = SimilarityOps.pqSearchPersistedBatch(pqTable, pqCbs,
          qids.map(q => q -> byId(q)).toSeq, k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSeq }
      report(f"pq-flat m=8 codes=$codes%3d", gotPq)
    }

    // ---- IVF-PQ composed, nprobe x codebook-size sweep -------------
    val modelP = IvfIndex.trainPortable(emb, c)
    val ivfpqByCodes = Seq(16, 256).map { nc =>
      nc -> SimilarityOps.ivfPqPersist(emb, spark,
        s"$dir/ivfpq-$nc", modelP, codes = nc)
    }.toMap
    for (nc <- Seq(16, 256); nprobe <- Seq(2, 4, 8, 16)) {
      val (codes, cbs) = ivfpqByCodes(nc)
      val got = SimilarityOps.ivfPqSearchPersistedBatch(codes, cbs,
          modelP, qids.map(q => q -> qvsF(q)).toSeq, k = k,
          nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSeq }
      report(f"ivfpq codes=$nc%3d nprobe=$nprobe%2d", got)
    }

    // ---- IVF-PQ refined: kPrime x metric ---------------------------
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val vt = graft.lake.LakeTable.create(spark, s"$dir/vecs",
      vecs.schema,
      properties = graft.lake.LakeTable.autoCompactProps(16,
        Some("vec_id")),
      bucketBy = Some(("vec_id", 16)))
    vt.append(vecs)
    val (codes16, cbs16) = ivfpqByCodes(16)
    for (kPrime <- Seq(2 * k, 4 * k, 8 * k); metric <- Seq("l2", "cosine")) {
      val got = qids.map { q =>
        q -> SimilarityOps.ivfPqSearchRefined(codes16, cbs16, modelP,
            vt, qvsF(q), k = k + 1, kPrime = kPrime + 1, nprobe = 8,
            metric = metric)
          .collect().map(_.getLong(0)).filter(_ != q).take(k).toSeq
      }.toMap
      report(f"ivfpq-refined kPrime=$kPrime%3d $metric nprobe=8", got)
    }

    // ---- LSH derived-width sweep (mode=width): derived vs fixed ----
    // bits across three corpus decades, on synthetic deterministic
    // vectors — the proof behind SimilarityOps.derivedLshBits.
    if (sys.env.get("SPARK_GRAFT_RECALL_MODE").contains("width")) {
      import spark.implicits._
      // two regimes: isotropic Gaussian (no neighbor structure — the
      // adversarial floor) and a 64-center mixture (what embedding
      // corpora actually look like). The cost column is the expected
      // candidate count n * |ball| / 2^bits — recall is only
      // comparable at comparable cost.
      def ballSize(b: Int): Long = 1L + b + b.toLong * (b - 1) / 2
      for (regime <- Seq("isotropic", "clustered");
           n <- Seq(2000, 20000, 200000)) {
        val rnd = new java.util.Random(7L)
        val centers =
          Array.fill(64)(Array.fill(64)(rnd.nextGaussian()))
        val synth: Array[(Long, Array[Double])] =
          Array.tabulate(n)(i =>
            i.toLong -> (regime match {
              case "isotropic" => Array.fill(64)(rnd.nextGaussian())
              case _ =>
                val ct = centers(rnd.nextInt(64))
                ct.map(_ + 0.15 * rnd.nextGaussian())
            }))
        val sById = synth.toMap
        val sdf = synth.map { case (id, v) =>
          (id, v.map(_.toFloat).toSeq) }.toSeq
          .toDF("vec_id", "embedding")
          .select(col("vec_id"),
            col("embedding").cast("array<float>"))
          .repartition(32).cache()
        sdf.count()
        val sQids = synth.map(_._1).sortBy(id => (h(id), id)).take(Q)
        val sGt: Map[Long, Set[Long]] = sQids.map { qid =>
          val qv = sById(qid)
          qid -> synth.filter(_._1 != qid)
            .map { case (id, v) => (id, cos(v, qv)) }
            .sortBy { case (id, c2) => (-c2, id) }
            .take(k).map(_._1).toSet
        }.toMap
        def sRecall(got: Map[Long, Seq[Long]]): Double =
          sQids.map(q2 =>
            got.getOrElse(q2, Nil).count(sGt(q2)).toDouble / k)
            .sum / sQids.length
        val derived = SimilarityOps.derivedLshBits(n)
        for (bits <- Seq(8, derived, 20).distinct) {
          val got = sQids.map { q2 =>
            val qdf = sdf.filter(col("vec_id") === q2)
            val rest = sdf.filter(col("vec_id") =!= q2)
            q2 -> SimilarityOps.lshTopK(rest, qdf, k, bits, 2)
              .collect().map(_.getLong(0)).toSeq
          }.toMap
          val tag = if (bits == derived) "derived" else "fixed"
          val expCand =
            n.toDouble * ballSize(bits) / math.pow(2.0, bits)
          println(f"lsh-width $regime%-9s N=$n%6d bits=$bits%2d " +
            f"($tag%7s) recall@10=${sRecall(got)}%.3f " +
            f"E[cand]=$expCand%.0f")
        }
        sdf.unpersist()
      }
      spark.stop(); return
    }

    // ---- quantizer regime sweep (mode=cluster): portable corpus
    // sample vs maximin+Lloyd on a CLUSTERED fixture (mixture of 32
    // Gaussians) — finding 1 of r10 measured near-isotropic data,
    // which structurally penalizes Lloyd; this is the other regime.
    if (sys.env.get("SPARK_GRAFT_RECALL_MODE").contains("cluster")) {
      import spark.implicits._
      val n = 20000; val trueC = 32; val sigma = 0.15
      val rnd = new java.util.Random(11L)
      val centers = Array.fill(trueC)(Array.fill(64)(rnd.nextGaussian()))
      val synth: Array[(Long, Array[Double])] = Array.tabulate(n) { i =>
        val ct = centers(rnd.nextInt(trueC))
        i.toLong -> ct.map(_ + sigma * rnd.nextGaussian())
      }
      val sById = synth.toMap
      val sdf = synth.map { case (id, v) =>
        (id, v.map(_.toFloat).toSeq) }.toSeq
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
        .repartition(32).cache()
      sdf.count()
      val sQids = synth.map(_._1).sortBy(id => (h(id), id)).take(Q)
      val sGt: Map[Long, Set[Long]] = sQids.map { qid =>
        val qv = sById(qid)
        qid -> synth.filter(_._1 != qid)
          .map { case (id, v) => (id, cos(v, qv)) }
          .sortBy { case (id, c2) => (-c2, id) }
          .take(k).map(_._1).toSet
      }.toMap
      def sRecall(got: Map[Long, Seq[Long]]): Double =
        sQids.map(q2 =>
          got.getOrElse(q2, Nil).count(sGt(q2)).toDouble / k)
          .sum / sQids.length
      for ((label, model) <- Seq(
          "ivf-portable" -> IvfIndex.trainPortable(sdf, c),
          "ivf-lloyd" -> IvfIndex.train(sdf, c, iters = 3))) {
        val idx = IvfIndex.buildIndex(spark, sdf, model,
          s"$dir/clustered-$label")
        val sizes = IvfIndex.assign(sdf, model)
          .groupBy("_cluster").count().select("count")
          .collect().map(_.getLong(0)).sorted.reverse
        println(s"clustered $label sizes: n=${sizes.length} " +
          s"max=${sizes.head} median=${sizes(sizes.length / 2)}")
        for (nprobe <- Seq(1, 2, 4, 8, 16)) {
          val qdf = sQids.map(q2 =>
            (q2, sById(q2).map(_.toFloat).toSeq)).toSeq
            .toDF("query_id", "embedding")
            .select(col("query_id"),
              col("embedding").cast("array<float>"))
          val got = IvfIndex.searchPersistedBatch(idx, qdf, model,
              k = k + 1, nprobe = nprobe)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
            .groupBy(_._1)
            .map { case (q2, rows) =>
              q2 -> rows.map(_._2).filter(_ != q2).take(k).toSeq }
          println(f"clustered $label%-14s nprobe=$nprobe%2d " +
            f"recall@10=${sRecall(got)}%.3f")
        }
      }
      spark.stop(); return
    }

    // ---- LSH: seeded + portable, bits x radius ---------------------
    for (portable <- Seq(false, true); bits <- Seq(8, 16);
         radius <- Seq(1, 2)) {
      val got = qids.map { q =>
        val qdf = emb.filter(col("vec_id") === q)
        val rest = emb.filter(col("vec_id") =!= q)
        val ids =
          (if (portable)
             SimilarityOps.lshTopKPortable(rest, qdf, k, bits, radius)
           else SimilarityOps.lshTopK(rest, qdf, k, bits, radius))
          .collect().map(_.getLong(0)).toSeq
        q -> ids
      }.toMap
      val nm = if (portable) "lsh-portable" else "lsh-seeded"
      report(f"$nm bits=$bits%2d radius=$radius", got)
    }

    spark.stop()
  }
}
