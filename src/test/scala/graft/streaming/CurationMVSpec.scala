package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.lake.LakeTable

/** The continuous incremental-curation MV (VERDICT r04 item 3): kill/
  * restart safety of the streaming loop, and exactly-once of the
  * two-table commit protocol at every crash point. */
class CurationMVSpec extends SparkSuite {
  import spark.implicits._

  private def mkTables(tag: String) = {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val src = LakeTable.create(spark, tmpDir(s"$tag-src"), docsSchema)
    val index = LakeTable.create(spark, tmpDir(s"$tag-idx"), StructType(Seq(
      StructField("fp", StringType), StructField("doc_id", LongType))),
      bucketBy = Some(("fp", 8)))
    val out = LakeTable.create(spark, tmpDir(s"$tag-out"), docsSchema)
    (src, index, out)
  }

  /** The benchmark's curation documents: 30-59 words from a
    * 5,000-word vocabulary; after the first batch, 10% are exact copies
    * and 10% near copies (two substituted words) of earlier originals. */
  private final class CurationDocs(seed: Int) {
    private val rnd = new scala.util.Random(seed)
    private val vocab = Vector.fill(5000)(
      Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    private def word() = vocab(rnd.nextInt(vocab.size))
    private val originals = scala.collection.mutable.ArrayBuffer.empty[String]
    private var nextId = 0L
    def batch(n: Int): Seq[(Long, String)] = {
      val earlier = originals.length
      Seq.fill(n) {
        val r = rnd.nextDouble()
        val text =
          if (earlier > 0 && r < 0.1) originals(rnd.nextInt(earlier))
          else if (earlier > 0 && r < 0.2) {
            val w = originals(rnd.nextInt(earlier)).split(" ")
            (0 until 2).foreach(_ => w(rnd.nextInt(w.length)) = word())
            w.mkString(" ")
          } else {
            val t = Seq.fill(30 + rnd.nextInt(30))(word()).mkString(" ")
            originals += t
            t
          }
        nextId += 1
        (nextId, text)
      }
    }
  }

  /** Spark jobs and generated-class compiles of each of `batches`
    * micro-batches of the MV `start` starts (trigger ProcessingTime(0)):
    * `feed(i)` commits source batch i, then the query drains it. A
    * batch's count includes every job it started: the listener bus
    * delivers in order, so once a marker job's start is seen the
    * batch's own jobs have been counted. */
  private def countPerBatch(batches: Int)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)(
      feed: Int => Unit): Seq[(Int, Long)] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "curation-steady-marker"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Seq(p.getProperty("sql.streaming.queryId"),
            p.getProperty(marker)).filter(_ != null).foreach(k =>
            jobs.computeIfAbsent(k,
              _ => new java.util.concurrent.atomic.AtomicInteger)
              .incrementAndGet())
        }
    }
    def count(k: String) = Option(jobs.get(k)).map(_.get).getOrElse(0)
    def flushListener(): Unit = {
      val seen = count(marker)
      spark.sparkContext.setLocalProperty(marker, marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty(marker, null)
      val deadline = System.nanoTime() + 30000000000L
      while (count(marker) == seen && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.sparkContext.addSparkListener(listener)
    val q = start
    try (1 to batches).map { i =>
      val (j0, c0) = (count(q.id.toString), compiles)
      feed(i)
      q.processAllAvailable()
      flushListener()
      (count(q.id.toString) - j0, compiles - c0)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("curation MV killed and restarted from its checkpoint: batch-2 " +
    "copies of batch-1 docs are not re-admitted, new docs are") {
    val (src, index, out) = mkTables("restart")
    val ckpt = tmpDir("restart-ckpt")
    val mv = new MVManager(spark, ckpt)

    src.append(Seq(
      (1L, "the quick brown fox"),
      (2L, "a totally different document")).toDF("doc_id", "text"))
    mv.startCurationFromLake("cur", src, index, out).awaitTermination()
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L))

    // the query is now STOPPED (AvailableNow drained + terminated):
    // commit more data — exact copies of batch 1 plus genuinely new
    // docs — and restart from the SAME checkpoint
    src.append(Seq(
      (10L, "The QUICK brown fox!!"),      // normalizes to doc 1
      (11L, "a totally different document"), // exact copy of doc 2
      (12L, "something never seen before"),
      (13L, "something never seen before"), // within-batch copy of 12
      (14L, "fresh and unique")).toDF("doc_id", "text"))
    mv.startCurationFromLake("cur", src, index, out).awaitTermination()

    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 12L, 14L))
    // the index frontier matches the accepted set exactly
    assert(index.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 12L, 14L))
    // one accepted row per distinct fingerprint — nothing re-admitted
    val perFp = index.read().groupBy("fp").count()
      .filter($"count" > 1).count()
    assert(perFp == 0)

    // third restart with nothing new: a no-op, not a re-ingestion
    val (vo, vi) = (out.currentVersion, index.currentVersion)
    mv.startCurationFromLake("cur", src, index, out).awaitTermination()
    assert(out.read().count() == 4)
    assert(out.currentVersion == vo && index.currentVersion == vi)
  }

  test("near-dup curation MV across a restart: exact copies AND " +
    "near-copies of accepted docs are rejected, fp frontier covers " +
    "unshingleable docs") {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val src = LakeTable.create(spark, tmpDir("nd-src"), docsSchema)
    val index = LakeTable.create(spark, tmpDir("nd-idx"),
      MVManager.curationIndexSchema, bucketBy = Some(("fp", 8)))
    val out = LakeTable.create(spark, tmpDir("nd-out"), docsSchema)
    val mv = new MVManager(spark, tmpDir("nd-ckpt"))

    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    src.append(Seq(
      (1L, base),
      (2L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen"),
      (3L, "tiny")). // a doc too short to shingle still gets a frontier
      toDF("doc_id", "text"))
    mv.startCurationFromLake("nd", src, index, out,
      nearDupMinJaccard = Some(0.5)).awaitTermination()
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))

    // restart with: an exact copy (10), a NEAR copy of doc 1 — one
    // word changed, jaccard >> 0.5 (11), an exact copy of the
    // unshingleable doc (12), and something genuinely new (13)
    src.append(Seq(
      (10L, base),
      (11L, base.replace("upsilon", "omega")),
      (12L, "tiny"),
      (13L, "completely different payload with nothing shared at all " +
        "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text"))
    mv.startCurationFromLake("nd", src, index, out,
      nearDupMinJaccard = Some(0.5)).awaitTermination()
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 13L))
    // the index frontier has one row per accepted doc, with sigs
    // present exactly where the doc was shingleable
    assert(index.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 13L))
    assert(index.read().filter($"sig".isNull).select("doc_id").as[Long]
      .collect().toSet == Set(3L))

    // replay of the whole second batch is a no-op
    val (vo, vi) = (out.currentVersion, index.currentVersion)
    mv.startCurationFromLake("nd", src, index, out,
      nearDupMinJaccard = Some(0.5)).awaitTermination()
    assert(out.currentVersion == vo && index.currentVersion == vi)
  }

  test("curateStepNearDup replay is exactly-once at the dangerous " +
    "crash point (between the out and index commits)") {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val index = LakeTable.create(spark, tmpDir("ndc-idx"),
      MVManager.curationIndexSchema, bucketBy = Some(("fp", 8)))
    val out = LakeTable.create(spark, tmpDir("ndc-out"), docsSchema)
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    MVManager.curateStepNearDup(b1, index, out, "w", 0L)
    // crash between commits: only `out` has batch 1
    val b2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta thet"), // near of 1
      (11L, "unrelated fresh words here nine ten eleven twelve"))
      .toDF("doc_id", "text")
    // simulate: run the step, then re-run it wholesale (as a replayed
    // foreachBatch would after a crash at ANY point inside)
    MVManager.curateStepNearDup(b2, index, out, "w", 1L)
    MVManager.curateStepNearDup(b2, index, out, "w", 1L)
    // doc 10 near-matches doc 1 (shingle jaccard 5/7): dropped; doc 11
    // admitted exactly once despite the replay
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 11L))
    assert(index.read().count() == 2)
  }

  test("curateStepNearDup with band postings: replay after a crash " +
    "BETWEEN the postings and index commits still admits the batch " +
    "(self-postings are advisory and verify-drop)") {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val index = LakeTable.create(spark, tmpDir("ndp-idx"),
      MVManager.curationIndexSchema, bucketBy = Some(("fp", 8)))
    val out = LakeTable.create(spark, tmpDir("ndp-out"), docsSchema)
    val postings = LakeTable.create(spark, tmpDir("ndp-post"),
      graft.operators.DedupOps.bandPostingsSchema,
      properties = graft.operators.DedupOps.bandPostingsProps(),
      bucketBy = Some(("pbh", 16)))
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    MVManager.curateStepNearDup(b1, index, out, "w", 0L,
      postings = Some(postings))
    val b2 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta thet"), // near of 1
      (11L, "unrelated fresh words here nine ten eleven twelve"))
      .toDF("doc_id", "text")
    // emulate a crashed attempt of batch 1 that died right AFTER the
    // postings commit: out landed {11}, postings landed 11's bands,
    // the index commit never ran
    val accepted11 = b2.filter($"doc_id" === 11L)
    out.appendExactlyOnce(accepted11, "w", 1L)
    postings.appendExactlyOnce(
      graft.operators.DedupOps.bandPostingsRows(
        graft.operators.DedupOps.signatureIndexRows(accepted11)),
      "w", 1L)
    val (vo, vp) = (out.currentVersion, postings.currentVersion)
    // the replayed step: its LSH probe now SEES doc 11's own postings,
    // but the candidate (11, 11) verifies against an index that does
    // not hold 11 — so 11 stays accepted; out and postings no-op on
    // their batch ids; the index commit finally lands
    MVManager.curateStepNearDup(b2, index, out, "w", 1L,
      postings = Some(postings))
    assert(out.currentVersion == vo && postings.currentVersion == vp,
      "replayed out/postings commits must no-op")
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 11L))
    assert(index.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 11L))
    // invariant: every indexed sig row's postings are present (the
    // commit order guarantees postings land no later than index rows)
    val idxDocs = index.read().filter($"sig".isNotNull)
      .select("doc_id").as[Long].collect().toSet
    val postDocs = postings.read().select("doc_id").as[Long]
      .collect().toSet
    assert(idxDocs.subsetOf(postDocs),
      s"index docs $idxDocs missing postings ${idxDocs.diff(postDocs)}")
    // and a batch-3 near-copy of doc 11 is rejected THROUGH the
    // postings probe
    val b3 = Seq(
      (20L, "unrelated fresh words here nine ten eleven twelv"))
      .toDF("doc_id", "text")
    MVManager.curateStepNearDup(b3, index, out, "w", 2L,
      postings = Some(postings))
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 11L))
  }

  test("near-dup curation MV with band postings in steady state: at " +
    "most 12 Spark jobs and zero class compiles per micro-batch, and " +
    "the accepted set equals an exact Jaccard check") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.DedupOps
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val src = LakeTable.create(spark, tmpDir("ss-src"), docsSchema)
    val index = LakeTable.create(spark, tmpDir("ss-idx"),
      MVManager.curationIndexSchema, bucketBy = Some(("fp", 8)))
    val postings = LakeTable.create(spark, tmpDir("ss-post"),
      DedupOps.bandPostingsSchema, properties = DedupOps.bandPostingsProps(),
      bucketBy = Some(("pbh", 8)))
    val out = LakeTable.create(spark, tmpDir("ss-out"), docsSchema)
    val mv = new MVManager(spark, tmpDir("ss-ckpt"))

    val gen = new CurationDocs(1)
    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val perBatch = countPerBatch(8)(mv.startCurationFromLake("steady", src,
      index, out, nearDupMinJaccard = Some(0.5),
      trigger = Trigger.ProcessingTime(0L), postings = Some(postings))) { _ =>
      val b = gen.batch(100)
      all ++= b
      src.append(b.toDF("doc_id", "text"))
    }
    info(s"(jobs, compiles) per micro-batch: $perBatch")
    val steady = perBatch.takeRight(3)
    assert(steady.forall(_._1 <= 12),
      s"jobs per micro-batch (jobs, compiles): $perBatch")
    assert(steady.map(_._2).sum == 0,
      s"class compiles in steady-state batches (jobs, compiles): $perBatch")

    // the exact model: per batch, fingerprint-fresh docs (min id per
    // text), within-batch near-dup clusters collapsed to their min id,
    // then no indexed doc at exact shingle Jaccard >= 0.5
    def shingles(t: String) =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    def jaccard(a: Set[String], b: Set[String]) =
      a.intersect(b).size.toDouble / a.union(b).size
    val indexed = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    val seenText = scala.collection.mutable.HashSet.empty[String]
    val expected = all.grouped(100).flatMap { b =>
      val fresh = b.groupBy(_._2).values.map(_.minBy(_._1)).toSeq
        .filterNot(d => seenText(d._2)).sortBy(_._1)
      val sh = fresh.map(d => d._1 -> shingles(d._2)).toMap
      val pairs = for (a <- fresh; c <- fresh if a._1 < c._1 &&
        jaccard(sh(a._1), sh(c._1)) >= 0.5) yield (a._1, c._1)
      val dropped = DedupOps.nearDupDropIds(pairs).toSet
      val accepted = fresh.filterNot(d => dropped(d._1))
        .filterNot(d => indexed.exists(jaccard(sh(d._1), _) >= 0.5))
      accepted.foreach { d => indexed += sh(d._1); seenText += d._2 }
      accepted.map(_._1)
    }.toSet
    assert(out.read().select("doc_id").as[Long].collect().toSet == expected)
    assert(index.read().count() == expected.size)
  }

  test("embedding curation MV with SRP postings in steady state: at " +
    "most 24 Spark jobs per micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.SimilarityOps
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val src = LakeTable.create(spark, tmpDir("ess-src"), embSchema)
    val index = LakeTable.create(spark, tmpDir("ess-idx"), embSchema,
      bucketBy = Some(("vec_id", 8)))
    val postings = LakeTable.create(spark, tmpDir("ess-post"),
      SimilarityOps.srpPostingsSchema,
      properties = SimilarityOps.srpPostingsProps(),
      bucketBy = Some(("pbh", 8)))
    val out = LakeTable.create(spark, tmpDir("ess-out"), embSchema)
    val mv = new MVManager(spark, tmpDir("ess-ckpt"))
    // 64-dim gaussian vectors; after the first batch 10% are exact
    // copies and 10% near copies (small noise) of earlier originals
    val rnd = new scala.util.Random(1)
    val originals = scala.collection.mutable.ArrayBuffer.empty[Seq[Float]]
    var nextId = 0L
    val perBatch = countPerBatch(8)(mv.startEmbeddingCurationFromLake(
      "emb-steady", src, index, out, threshold = 0.9,
      trigger = Trigger.ProcessingTime(0L), postings = Some(postings))) { _ =>
      val earlier = originals.length
      val b = Seq.fill(100) {
        val r = rnd.nextDouble()
        val v =
          if (earlier > 0 && r < 0.1) originals(rnd.nextInt(earlier))
          else if (earlier > 0 && r < 0.2)
            originals(rnd.nextInt(earlier))
              .map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
          else {
            val o = Seq.fill(64)(rnd.nextGaussian().toFloat)
            originals += o
            o
          }
        nextId += 1
        (nextId, v)
      }
      src.append(b.toDF("vec_id", "embedding"))
    }
    info(s"(jobs, compiles) per micro-batch: $perBatch")
    // one batch or another takes 2 jobs more from run to run; 24 is
    // the most any batch took before the probe and the step tail were
    // shared across modalities
    assert(perBatch.takeRight(3).forall(_._1 <= 24),
      s"jobs per micro-batch (jobs, compiles): $perBatch")
    val accepted = out.read().select("vec_id").as[Long].collect().toSet
    assert(accepted.nonEmpty && accepted.size < nextId &&
      index.read().select("vec_id").as[Long].collect().toSet == accepted)
  }

  test("perceptual curation MV with SimHash postings in steady state: " +
    "at most 22 Spark jobs per micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.{DedupOps, MultimodalOps}
    def media(rows: Seq[(Long, String)]) =
      MultimodalOps.withBinaryPayload(rows.toDF("doc_id", "text"))
    val mediaSchema = media(Seq((0L, "x"))).schema
    val src = LakeTable.create(spark, tmpDir("pss-src"), mediaSchema)
    val index = LakeTable.create(spark, tmpDir("pss-idx"),
      MultimodalOps.perceptualSketch(media(Seq((0L, "x")))).schema,
      bucketBy = Some(("doc_id", 8)))
    val postings = LakeTable.create(spark, tmpDir("pss-post"),
      DedupOps.simHashPostingsSchema,
      properties = DedupOps.simHashPostingsProps,
      bucketBy = Some(("pbh", 8)))
    val out = LakeTable.create(spark, tmpDir("pss-out"), mediaSchema)
    val mv = new MVManager(spark, tmpDir("pss-ckpt"))
    // media of 20 64-byte frames; after the first batch 10% are exact
    // copies and 10% frame-reordered copies (the same frame set, so
    // hamming 0) of earlier originals
    val rnd = new scala.util.Random(1)
    def frame() = Seq.fill(64)(('a' + rnd.nextInt(26)).toChar).mkString
    val originals = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var nextId = 0L
    val perBatch = countPerBatch(8)(mv.startPerceptualCurationFromLake(
      "pcur-steady", src, index, out, trigger = Trigger.ProcessingTime(0L),
      postings = Some(postings))) { _ =>
      val earlier = originals.length
      val b = Seq.fill(100) {
        val r = rnd.nextDouble()
        val frames =
          if (earlier > 0 && r < 0.1) originals(rnd.nextInt(earlier))
          else if (earlier > 0 && r < 0.2)
            rnd.shuffle(originals(rnd.nextInt(earlier)))
          else {
            val o = Seq.fill(20)(frame())
            originals += o
            o
          }
        nextId += 1
        (nextId, frames.mkString)
      }
      src.append(media(b))
    }
    info(s"(jobs, compiles) per micro-batch: $perBatch")
    // 22: the most any batch took before the probe and the step tail
    // were shared across modalities
    assert(perBatch.takeRight(3).forall(_._1 <= 22),
      s"jobs per micro-batch (jobs, compiles): $perBatch")
    val accepted = out.read().select("doc_id").as[Long].collect().toSet
    assert(accepted.size == originals.length &&
      index.read().select("doc_id").as[Long].collect().toSet == accepted)
  }

  test("a near-dup curation batch over the driver-side bound runs the " +
    "distributed step, which commits the same out, index and postings " +
    "rows") {
    import graft.operators.DedupOps
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def run(maxProbe: Int) = {
      val tag = s"bound$maxProbe"
      val index = LakeTable.create(spark, tmpDir(s"$tag-idx"),
        MVManager.curationIndexSchema, bucketBy = Some(("fp", 8)))
      val postings = LakeTable.create(spark, tmpDir(s"$tag-post"),
        DedupOps.bandPostingsSchema,
        properties = DedupOps.bandPostingsProps(),
        bucketBy = Some(("pbh", 8)))
      val out = LakeTable.create(spark, tmpDir(s"$tag-out"), docsSchema)
      val gen = new CurationDocs(2)
      // besides copies of earlier batches: a within-batch near-dup
      // chain, and a document too short to shingle plus its later copy
      val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
      val extra = Seq(
        Seq((9001L, base), (9002L, base.replace("upsilon", "omega")),
          (9003L, base.replace("upsilon", "omega").replace("alpha", "psi")),
          (9004L, "tiny")),
        Seq((9011L, "tiny"), (9012L, base.replace("beta", "chi"))),
        Nil)
      extra.zipWithIndex.foreach { case (more, b) =>
        MVManager.curateStepNearDup((gen.batch(60) ++ more)
            .toDF("doc_id", "text"), index, out, "w", b.toLong, 0.5,
          "text", "doc_id", Some(postings), None, maxProbe)
      }
      def rows(t: LakeTable, cols: String*) =
        t.read().select(cols.map(col): _*).collect().map(_.toSeq).toSet
      (rows(out, "doc_id", "text"), rows(index, "fp", "doc_id", "shs", "sig"),
        rows(postings, "pbh", "band", "bh", "doc_id"))
    }
    val (out, index, postings) = run(10000)
    val (outD, indexD, postingsD) = run(5)
    assert(out == outD && index == indexD && postings == postingsD)
    assert(out.exists(_.head == 9001L) && !out.exists(_.head == 9002L) &&
      !out.exists(_.head == 9003L) && !out.exists(_.head == 9011L) &&
      !out.exists(_.head == 9012L))
  }

  test("embedding curation MV across a restart: cosine near-dups of " +
    "accepted vectors (and exact copies) are rejected, within-batch " +
    "clusters collapse, exactly-once on replay") {
    import graft.operators.SimilarityOps
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val src = LakeTable.create(spark, tmpDir("emb-src"), embSchema)
    val index = LakeTable.create(spark, tmpDir("emb-idx"), embSchema,
      bucketBy = Some(("vec_id", 8)))
    val postings = LakeTable.create(spark, tmpDir("emb-post"),
      SimilarityOps.srpPostingsSchema,
      properties = SimilarityOps.srpPostingsProps(),
      bucketBy = Some(("pbh", 16)))
    val out = LakeTable.create(spark, tmpDir("emb-out"), embSchema)
    val mv = new MVManager(spark, tmpDir("emb-ckpt"))

    // 64-dim vectors; base and base2 are orthogonal axis groups, so
    // cross-group cosine is 0 while within-group near-copies are ~1
    def vec(axes: Seq[Int], v: Float = 1f): Seq[Float] =
      (0 until 64).map(i => if (axes.contains(i)) v else 0f)
    val b1 = Seq(
      (1L, vec(Seq(0, 1, 2))),
      (2L, vec(Seq(0, 1, 2), 0.9f)),     // cosine 1.0 with vec 1 -> wb-collapsed
      (5L, vec(Seq(40, 41))))            // unrelated
      .toDF("vec_id", "embedding")
    src.append(b1)
    mv.startEmbeddingCurationFromLake("emb", src, index, out,
      threshold = 0.35, postings = Some(postings)).awaitTermination()
    assert(out.read().select("vec_id").as[Long].collect().toSet ==
      Set(1L, 5L))

    // restart with: an exact copy of an accepted vector (10), a near
    // copy (11, shares axes 0,1 with vec 1 -> cos ~0.82), and a
    // genuinely new direction (12)
    src.append(Seq(
      (10L, vec(Seq(0, 1, 2))),
      (11L, vec(Seq(0, 1))),
      (12L, vec(Seq(60, 61, 62))))
      .toDF("vec_id", "embedding"))
    mv.startEmbeddingCurationFromLake("emb", src, index, out,
      threshold = 0.35, postings = Some(postings)).awaitTermination()
    assert(out.read().select("vec_id").as[Long].collect().toSet ==
      Set(1L, 5L, 12L))
    assert(index.read().select("vec_id").as[Long].collect().toSet ==
      Set(1L, 5L, 12L))
    // postings invariant: every indexed vector's bands are present
    assert(index.read().select("vec_id").as[Long].collect().toSet
      .subsetOf(postings.read().select("vec_id").as[Long]
        .collect().toSet))

    // replay of the whole second batch is a no-op
    val (vo, vi) = (out.currentVersion, index.currentVersion)
    mv.startEmbeddingCurationFromLake("emb", src, index, out,
      threshold = 0.35, postings = Some(postings)).awaitTermination()
    assert(out.currentVersion == vo && index.currentVersion == vi)
  }

  test("embedding curation rejects zero-norm vectors: identical " +
    "all-zero vectors cannot be re-admitted batch after batch") {
    import graft.operators.SimilarityOps
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val index = LakeTable.create(spark, tmpDir("zn-idx"), embSchema,
      bucketBy = Some(("vec_id", 8)))
    val out = LakeTable.create(spark, tmpDir("zn-out"), embSchema)
    def vec(axes: Seq[Int]): Seq[Float] =
      (0 until 64).map(i => if (axes.contains(i)) 1f else 0f)
    val zero = (0 until 64).map(_ => 0f)
    // batch 1: a real vector and an all-zero vector. cosine_sim is
    // 0.0 whenever a norm is zero, so without the guard the zero
    // vector would be admitted here AND on every later batch
    MVManager.curateStepEmbedding(
      Seq((1L, vec(Seq(0, 1))), (2L, zero)).toDF("vec_id", "embedding"),
      index, out, "w", 0L, threshold = 0.35)
    assert(out.read().select("vec_id").as[Long].collect().toSet ==
      Set(1L), "zero-norm vector must not be curated")
    // batch 2: the SAME zero vector again (the re-admission loop the
    // guard closes) plus a fresh real vector
    MVManager.curateStepEmbedding(
      Seq((3L, zero), (4L, vec(Seq(40, 41)))).toDF("vec_id", "embedding"),
      index, out, "w", 1L, threshold = 0.35)
    assert(out.read().select("vec_id").as[Long].collect().toSet ==
      Set(1L, 4L), "zero-norm vectors must stay rejected on replay")
    assert(index.read().select("vec_id").as[Long].collect().toSet ==
      Set(1L, 4L))
  }

  test("within-batch near-dup clusters collapse to their min doc_id " +
    "(round-6 strengthened contract)") {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val index = LakeTable.create(spark, tmpDir("wb-idx"),
      MVManager.curationIndexSchema, bucketBy = Some(("fp", 8)))
    val out = LakeTable.create(spark, tmpDir("wb-out"), docsSchema)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    // ONE batch holding: a near-dup pair (1,2), a chain third (3, near
    // 2 but then collapsed into the same cluster as 1 transitively),
    // and an unrelated doc (4). Cluster {1,2,3} keeps only doc 1.
    val b = Seq(
      (1L, base),
      (2L, base.replace("upsilon", "omega")),
      (3L, base.replace("upsilon", "omega").replace("alpha", "psi")),
      (4L, "completely different content with nothing shared at all " +
        "aa bb cc dd ee ff gg hh ii jj"))
      .toDF("doc_id", "text")
    MVManager.curateStepNearDup(b, index, out, "w", 0L)
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 4L))
    // only survivors' signatures advance the frontier
    assert(index.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 4L))
    // a later exact copy of a COLLAPSED doc is fp-fresh (its fp never
    // entered the index) but near-dup-drops against the survivor
    val b2 = Seq((10L, base.replace("upsilon", "omega")))
      .toDF("doc_id", "text")
    MVManager.curateStepNearDup(b2, index, out, "w", 1L)
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 4L))
  }

  test("curation MV survives a ROLLBACK on its source: the rolled-back " +
    "rows are not lost, restored history is not double-curated") {
    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val src = LakeTable.create(spark, tmpDir("rb-src"), docsSchema)
    val index = LakeTable.create(spark, tmpDir("rb-idx"), StructType(Seq(
      StructField("fp", StringType), StructField("doc_id", LongType))),
      bucketBy = Some(("fp", 8)))
    val out = LakeTable.create(spark, tmpDir("rb-out"), docsSchema)
    val mv = new MVManager(spark, tmpDir("rb-ckpt"))

    src.append(Seq((1L, "first batch of documents here"))
      .toDF("doc_id", "text"))
    val good = src.currentVersion
    src.append(Seq((2L, "a poisoned batch that will be rolled back"))
      .toDF("doc_id", "text"))
    mv.startCurationFromLake("rb", src, index, out).awaitTermination()
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L))
    // the source rolls back the poisoned batch (a NEW commit restoring
    // the good file set), then receives fresh data; the loop's next
    // run must process the delta without failing, without losing doc 3,
    // and without re-curating doc 1 (the rollback commit re-presents
    // old files in its set-difference superset — the fp frontier
    // absorbs the re-emission)
    src.rollbackTo(good)
    src.append(Seq((3L, "fresh material after the rollback"))
      .toDF("doc_id", "text"))
    mv.startCurationFromLake("rb", src, index, out).awaitTermination()
    val ids = out.read().select("doc_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L),
      s"expected exactly-once curation across the rollback, got $ids")
    assert(out.read().count() == 3, "no doc curated twice")
  }

  test("WAP-audited curateStep: replay is exactly-once at the " +
    "dangerous crash points (staged-not-published resumes; audit-fail " +
    "quarantines once)") {
    val (_, index, out) = mkTables("wap")
    val quarantine = LakeTable.create(spark, tmpDir("wap-q"),
      out.schema)
    val wap = Some(MVManager.WapAudit("length(text) < 6", quarantine))

    // batch 0 publishes clean
    MVManager.curateStep(Seq((1L, "alpha document")).toDF("doc_id", "text"),
      index, out, "w", 0L, wap = wap)
    assert(out.read().count() == 1 && out.activeBranch.isEmpty)

    // crash point: batch 1 STAGED (branch + append landed) but never
    // audited/published — simulate, then replay the full step: the
    // replay must RESUME the branch (abandoning would lose the batch:
    // the batchId guard survives rollback by design) and publish
    val b1 = Seq((2L, "beta document")).toDF("doc_id", "text")
    out.createBranch("wap-w-1")
    out.appendExactlyOnce(b1, "w", 1L) // ...crash here
    MVManager.curateStep(b1, index, out, "w", 1L, wap = wap)
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L), "staged batch lost on replay")
    assert(out.activeBranch.isEmpty)

    // audit-fail: the batch parks in quarantine; a wholesale replay
    // (crash after abandon, before/after quarantine) re-converges to
    // exactly one quarantine copy and a clean out
    val bad = Seq((3L, "tiny"), (4L, "gamma document"))
      .toDF("doc_id", "text")
    MVManager.curateStep(bad, index, out, "w", 2L, wap = wap)
    MVManager.curateStep(bad, index, out, "w", 2L, wap = wap)
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L), "audit-failed batch leaked to out")
    assert(quarantine.read().select("doc_id").as[Long].collect().toSet
      == Set(3L, 4L))
    assert(quarantine.read().count() == 2, "quarantined twice")
    assert(out.activeBranch.isEmpty)

    // the frontier advanced for the quarantined docs: their copies
    // dedupe, and later clean batches publish normally
    MVManager.curateStep(Seq((13L, "tiny"), (5L, "delta document"))
      .toDF("doc_id", "text"), index, out, "w", 3L, wap = wap)
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 5L))
  }

  test("unaudited wapAppend refuses a leftover WAP branch: a crashed " +
    "audited loop restarted without its audit must not commit " +
    "invisible staged data") {
    val (_, index, out) = mkTables("leftover")
    // a crashed audited run left its branch pinning main
    MVManager.curateStep(Seq((1L, "alpha document"))
      .toDF("doc_id", "text"), index, out, "w", 0L, wap = None)
    out.createBranch("wap-w-1")
    // the loop restarts with the audit REMOVED: committing now would
    // stage invisibly (main stays pinned) and an abandon would discard
    // the batch — the step must refuse loudly instead
    val ex = intercept[IllegalStateException] {
      MVManager.curateStep(Seq((2L, "beta document"))
        .toDF("doc_id", "text"), index, out, "w", 1L, wap = None)
    }
    assert(ex.getMessage.contains("active WAP branch"))
    // the operator resolves the branch; the same step then lands
    out.abandonBranch("wap-w-1")
    MVManager.curateStep(Seq((2L, "beta document"))
      .toDF("doc_id", "text"), index, out, "w", 1L, wap = None)
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L))
  }

  test("curateStep replay is exactly-once at every crash point") {
    val (_, index, out) = mkTables("crash")
    val docs = Seq(
      (1L, "alpha document"), (2L, "beta document")).toDF("doc_id", "text")

    // crash point A: batch fully processed, then replayed wholesale
    MVManager.curateStep(docs, index, out, "w", batchId = 0L)
    MVManager.curateStep(docs, index, out, "w", batchId = 0L)
    assert(out.read().count() == 2 && index.read().count() == 2)

    // crash point B: crash BETWEEN the out and index commits — simulate
    // by committing only `out` for batch 1, then replaying the full step
    val batch2 = Seq(
      (10L, "gamma document"), (11L, "alpha document!")).toDF("doc_id", "text")
    val fresh2 = graft.operators.DedupOps.freshAgainstIndex(batch2, index)
    val accepted2 = batch2.join(
      broadcast(fresh2.select($"doc_id")), Seq("doc_id"), "left_semi")
    out.appendExactlyOnce(accepted2, "w", 1L) // ...crash here
    MVManager.curateStep(batch2, index, out, "w", batchId = 1L)
    // doc 10 admitted once (out replay no-oped); doc 11 deduped vs doc 1
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 10L))
    assert(index.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 10L))

    // a LATER batch still dedupes against everything admitted so far
    val batch3 = Seq(
      (20L, "gamma document"), (21L, "delta document")).toDF("doc_id", "text")
    MVManager.curateStep(batch3, index, out, "w", batchId = 2L)
    assert(out.read().select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 10L, 21L))
  }
}
