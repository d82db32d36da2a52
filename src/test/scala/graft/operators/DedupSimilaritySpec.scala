package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}
import graft.functions.VectorFunctions.cosine_sim

class DedupSimilaritySpec extends SparkSuite {
  import spark.implicits._

  lazy val docs = Tables.load(spark, sf, "documents").cache()
  lazy val emb = Tables.load(spark, sf, "embeddings").cache()

  test("derivedLshBits tracks log2(N) with clamps; lshTopKAuto equals " +
    "lshTopK at the derived width") {
    // round(log2 N) - 3, clamped to [4, 24]
    assert(SimilarityOps.derivedLshBits(100) == 4)     // 7 - 3
    assert(SimilarityOps.derivedLshBits(2000) == 8)    // 11 - 3
    assert(SimilarityOps.derivedLshBits(20000) == 11)  // 14 - 3
    assert(SimilarityOps.derivedLshBits(200000) == 15) // 18 - 3
    assert(SimilarityOps.derivedLshBits(1L << 40) == 24) // clamp hi
    assert(SimilarityOps.derivedLshBits(8) == 4)         // clamp lo
    val q = emb.filter($"vec_id" === 0L)
    val rest = emb.filter($"vec_id" =!= 0L)
    val n = rest.count()
    val auto = SimilarityOps.lshTopKAuto(rest, q, 5)
      .collect().map(_.getLong(0)).toSeq
    val manual = SimilarityOps.lshTopK(rest, q, 5,
        bits = SimilarityOps.derivedLshBits(n))
      .collect().map(_.getLong(0)).toSeq
    assert(auto == manual)
  }

  test("semantic dedup: deterministic clustering, seeds self-cluster, " +
    "planted duplicate dropped, equality with brute force") {
    val got = SimilarityOps.semanticDedup(emb, k = 8, threshold = 0.35)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // brute-force recomputation on the driver
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cluster = vecs.map { case (id, v) =>
      id -> (0L until 8L).minBy(s => (-cos(v, vecs(s)), s))
    }
    val survivors = vecs.keys.filter { id =>
      !vecs.keys.exists(u => u < id && cluster(u) == cluster(id) &&
        cos(vecs(u), vecs(id)) >= 0.35)
    }.toSet

    assert(got.keySet == survivors)
    got.foreach { case (id, c) => assert(c == cluster(id)) }
    (0L until 8L).foreach(s => assert(got(s) == s)) // seeds lead themselves

    // a verbatim copy of vector 3 with a later id must be dropped
    val v3 = emb.filter($"vec_id" === 3)
      .select(lit(100000L).as("vec_id"), $"embedding", $"label")
    val withDup = emb.select($"vec_id", $"embedding", $"label")
      .unionByName(v3)
    val afterDup = SimilarityOps.semanticDedup(withDup, k = 8,
      threshold = 0.35).select("vec_id").as[Long].collect().toSet
    assert(!afterDup.contains(100000L))
    assert(afterDup.contains(3L))
  }

  test("semantic dedup auto-k: k derived as ceil(N/target), matches " +
    "explicit k, and max cluster size stays a bounded fraction") {
    val n = emb.count()
    val target = 16L
    val kExpected = math.max(8L, (n + target - 1) / target).toInt
    assert(kExpected > 8, "fixture must exercise the derived regime")

    val auto = SimilarityOps.semanticDedup(emb, threshold = 0.35,
      targetClusterRows = target)
    val explicit = SimilarityOps.semanticDedup(emb, k = kExpected,
      threshold = 0.35)
    val autoRows = auto.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(autoRows.toSet ==
      explicit.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet)

    // the derivation's purpose: clusters small relative to the corpus,
    // so within-cluster pairwise work stays ~N*target, not N^2. The
    // ASSIGNMENT clusters (pre-dedup) are what bound the self-join;
    // nearest-seed sizes vary, so pin a generous-but-real fraction.
    val sizes = SimilarityOps.semanticDedup(emb, k = kExpected,
        threshold = 2.0) // threshold above +1: nothing dropped
      .groupBy("cluster").count().as[(Long, Long)].collect()
    assert(sizes.map(_._2).sum == n)
    assert(sizes.length >= kExpected / 2,
      s"expected >=${kExpected / 2} populated clusters, got ${sizes.length}")
    val maxFrac = sizes.map(_._2).max.toDouble / n
    assert(maxFrac <= 0.25,
      f"largest cluster holds $maxFrac%.2f of the corpus — the " +
        "sum(|c|^2) bound is not being exercised")
  }

  test("pq batched serving: per-query results equal the single-query " +
    "path, computed from ONE scan of the code table") {
    val dir = tmpDir("pq-batch")
    val (table, cbs) = SimilarityOps.pqPersist(emb, spark, s"$dir/codes")
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id", $"embedding").collect()
      .sortBy(_.getLong(0))
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    val batch = SimilarityOps.pqSearchPersistedBatch(table, cbs, qs, k = 5)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2)).toSeq
    val singles = qs.flatMap { case (qid, q) =>
      SimilarityOps.pqSearchPersisted(table, cbs, q, k = 5,
        excludeId = Some(qid)).collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sortBy(t => (t._1, t._3, t._2))
    assert(got == singles)
    // the batch plan reads the code table exactly once — the whole
    // point of the LUT-stack plan constant (flatten through AQE
    // wrappers and materialized stages to find the scan)
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(flatten)
    }
    val scans = flatten(batch.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"expected ONE code-table scan in the batch plan, got ${scans.size}")
  }

  test("pq top-k: codes and ADC distances equal brute force; " +
    "deterministic across runs") {
    val got = SimilarityOps.pqTopK(
      emb.filter($"vec_id" =!= 0), emb.filter($"vec_id" === 0),
      k = 10, codebookSource = Some(emb))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

    // driver-side brute force with the same deterministic codebooks
    val vecs = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val subDim = vecs(0L).length / 8
    def sub(v: Array[Double], j: Int) = v.slice(j * subDim, (j + 1) * subDim)
    def sq(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val adc = vecs.keys.filter(_ != 0L).map { id =>
      id -> (0 until 8).map { j =>
        val code = (0L until 16L)
          .minBy(c => (sq(sub(vecs(id), j), sub(vecs(c), j)), c))
        sq(sub(vecs(0L), j), sub(vecs(code), j))
      }.sum
    }.toMap
    val expect = adc.toSeq.sortBy { case (id, d) => (d, id) }.take(10)

    assert(got.map(_._1).toSeq == expect.map(_._1))
    got.zip(expect).foreach { case ((_, d1), (_, d2)) =>
      assert(math.abs(d1 - d2) <= 1e-9 * math.max(1.0, math.abs(d2))) }

    val again = SimilarityOps.pqTopK(
      emb.filter($"vec_id" =!= 0), emb.filter($"vec_id" === 0),
      k = 10, codebookSource = Some(emb))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == again.toSeq)
  }

  test("persisted PQ serving: identical answer to the in-query form, " +
    "and the code table is an order of magnitude smaller") {
    val inQuery = SimilarityOps.pqTopK(
      emb.filter($"vec_id" =!= 0), emb.filter($"vec_id" === 0),
      k = 10, codebookSource = Some(emb))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val dir = tmpDir("pq-serve")
    val (table, cbs) = SimilarityOps.pqPersist(emb, spark, s"$dir/codes")
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val served = SimilarityOps.pqSearchPersisted(table, cbs, q, k = 10,
      excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == inQuery)

    // compression: 8 int codes vs 64 floats per vector — the code
    // table's data bytes must be well under the embedding payload
    val vecBytes = emb.count() * 64 * 4
    val codeBytes = table.dataFiles.map(_.sizeBytes).sum
    assert(codeBytes < vecBytes / 2,
      s"code table $codeBytes B should be far under vectors $vecBytes B")
  }

  test("exact dedup finds injected duplicates") {
    val withDups = docs.select("doc_id", "text")
      .unionByName(docs.select(($"doc_id" + 100000).as("doc_id"), $"text")
        .limit(5))
    val d = DedupOps.exact(withDups)
    assert(d.filter($"n_copies" === 2).count() == 5)
  }

  test("incremental dedup vs a lake fingerprint index: batch dups " +
    "collapse, history hits drop, replays are no-ops") {
    import org.apache.spark.sql.types._
    import graft.functions.TextFunctions.fingerprint
    import graft.lake.LakeTable
    val index = LakeTable.create(spark, tmpDir("dedup-idx"), StructType(Seq(
      StructField("fp", StringType), StructField("doc_id", LongType))))
    val history = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    index.append(history.select(
      fingerprint($"text").as("fp"), $"doc_id"))

    val batch = Seq(
      (10L, "brand new"),
      (11L, "Seen BEFORE!"),   // normalizes to history doc 1 -> dropped
      (12L, "brand new"),      // within-batch copy of 10 -> collapsed
      (13L, "another fresh one")).toDF("doc_id", "text")
    val fresh = DedupOps.freshAgainstIndex(batch, index)
    val got = fresh.select("doc_id").as[Long].collect().toSet
    assert(got == Set(10L, 13L))

    // advancing the frontier: committed fresh rows dedupe the NEXT batch
    index.appendExactlyOnce(fresh, "w1", 1L)
    val next = Seq((20L, "brand NEW"), (21L, "truly unseen"))
      .toDF("doc_id", "text")
    val nextFresh = DedupOps.freshAgainstIndex(next, index)
      .select("doc_id").as[Long].collect().toSet
    assert(nextFresh == Set(21L))

    // replaying batch 1 under the same writer is a no-op commit
    val v = index.currentVersion
    index.appendExactlyOnce(fresh, "w1", 1L)
    assert(index.currentVersion == v)
    assert(index.read().count() == 4) // 2 history + 2 fresh
  }

  test("minhash LSH recalls high-jaccard pairs") {
    val truth = DedupOps.ngramJaccard(docs, minJaccard = 0.8)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture should contain near-dup docs")
    val found = DedupOps.minHashLsh(docs, k = 64, bands = 16,
        minEstJaccard = 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val recall = truth.count(found).toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
  }

  test("hash-based jaccard equals string-shingle reference computation") {
    // reference: string shingles via the kept shingleArrays path
    val sh = DedupOps.shingleArrays(docs)
      .select($"doc_id", explode($"shs").as("shingle"))
    val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val ref = sh.as("a")
      .join(sh.as("b"), $"a.shingle" === $"b.shingle" &&
        $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(cnt.as("ca"), $"d1" === $"ca.doc_id")
      .join(cnt.as("cb"), $"d2" === $"cb.doc_id")
      .select($"d1", $"d2",
        ($"inter" / ($"ca.n" + $"cb.n" - $"inter")).as("j"))
      .filter($"j" >= 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val got = DedupOps.ngramJaccard(docs, minJaccard = 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(ref.nonEmpty && got == ref)
  }

  test("near-dup clusters: transitive closure with min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 9L), (3L, 9L))
      .toDF("d1", "d2")
    val got = DedupOps.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // {1,2,3,7,9} chain through (3,9) -> label 1; {4,5} -> label 4
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 9L -> 1L,
      4L -> 4L, 5L -> 4L))
  }

  test("star contraction converges in O(log diameter) rounds on a " +
    "deep chain (one-hop propagation would need diameter rounds)") {
    val n = 100 // path graph 0-1-2-...-100: diameter 100
    val chain = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("d1", "d2")
    val (labels, rounds) = DedupOps.starClusters(chain, maxIters = 20)
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n + 1)
    assert(got.forall(_._2 == 0L), "every chain node labeled by the root")
    // log2(100) ~ 6.6; one-hop min-label needs ~100 rounds and would
    // not even converge within maxIters
    assert(rounds <= 10, s"took $rounds rounds")
  }

  test("LSH + true-jaccard verification equals the exact pipeline (q33)") {
    val exact = DedupOps.ngramJaccard(docs, minJaccard = 0.5)
      .select($"d1", $"d2", $"inter").as[(Long, Long, Long)].collect().toSet
    val viaLsh = DedupOps.minHashLshTrueJaccard(docs,
        k = 64, bands = 16, minJaccard = 0.5)
      .select($"d1", $"d2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(exact.nonEmpty && viaLsh == exact)
  }

  test("simhash banding finds exactly the brute-force hamming pairs") {
    val sample = docs.limit(200)
    val sh = DedupOps.simHash(sample)
    // all-pairs reference (fine at 200 docs; the operator exists so we
    // never have to do this at scale)
    val ref = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("h"))
      .filter($"h" <= 3)
      .select($"d1", $"d2", $"h").as[(Long, Long, Int)].collect().toSet
    val got = DedupOps.simHashPairs(sample, maxHamming = 3)
      .select($"d1", $"d2", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    // pigeonhole: hamming <= 3 over 4 bands guarantees a matching band,
    // so banding must find every reference pair (and nothing else)
    assert(got == ref)
  }

  test("probes refuse a postings table without its geometry stamp, " +
    "and refuse a mismatched geometry loudly") {
    import graft.lake.LakeTable
    val sample = docs.limit(30).localCheckpoint()
    val rows = DedupOps.signatureIndexRows(sample).localCheckpoint()
    val index = LakeTable.create(spark, tmpDir("gs-idx"), rows.schema,
      bucketBy = Some(("doc_id", 8)))
    index.append(rows)
    // unstamped: created without bandPostingsProps — the probe must
    // fail loudly instead of silently generating zero candidates
    val bare = LakeTable.create(spark, tmpDir("gs-bare"),
      DedupOps.bandPostingsSchema, bucketBy = Some(("pbh", 8)))
    bare.append(DedupOps.bandPostingsRows(rows))
    val ex = intercept[IllegalStateException] {
      DedupOps.nearDupSigsAgainstIndex(rows, index, minJaccard = 0.5,
        postings = Some(bare)).count()
    }
    assert(ex.getMessage.contains("geometry stamping"))
    // mismatched band count: stamped, but a different geometry
    val wrong = LakeTable.create(spark, tmpDir("gs-wrong"),
      DedupOps.bandPostingsSchema,
      properties = DedupOps.bandPostingsProps(bands = 8),
      bucketBy = Some(("pbh", 8)))
    wrong.append(DedupOps.bandPostingsRows(rows, bands = 8))
    intercept[IllegalArgumentException] {
      DedupOps.nearDupSigsAgainstIndex(rows, index, minJaccard = 0.5,
        postings = Some(wrong)).count()
    }

    // SimHash: unstamped, and stamped with a different band width only
    val sketches = DedupOps.simHashIndexRows(sample).localCheckpoint()
    val shIndex = LakeTable.create(spark, tmpDir("gs-sh-idx"),
      sketches.schema, bucketBy = Some(("doc_id", 8)))
    shIndex.append(sketches)
    def shPostings(tag: String, props: Map[String, String]) = {
      val p = LakeTable.create(spark, tmpDir(tag),
        DedupOps.simHashPostingsSchema, properties = props,
        bucketBy = Some(("pbh", 8)))
      p.append(DedupOps.simHashPostingsRows(sketches))
      p
    }
    val shBare = shPostings("gs-sh-bare", Map.empty)
    val shEx = intercept[IllegalStateException] {
      DedupOps.sketchesAgainstIndex(sketches, shIndex,
        postings = Some(shBare)).count()
    }
    assert(shEx.getMessage.contains("geometry stamping"))
    val shWrong = shPostings("gs-sh-wrong",
      DedupOps.simHashPostingsProps.updated("postings.bandBits", "8"))
    intercept[IllegalArgumentException] {
      DedupOps.sketchesAgainstIndex(sketches, shIndex,
        postings = Some(shWrong)).count()
    }

    // SRP: unstamped, and stamped with a different band geometry
    val vecs = emb.select($"vec_id", $"embedding").limit(30).localCheckpoint()
    val vIndex = LakeTable.create(spark, tmpDir("gs-srp-idx"), vecs.schema,
      bucketBy = Some(("vec_id", 8)))
    vIndex.append(vecs)
    def srpPostings(tag: String, props: Map[String, String]) = {
      val p = LakeTable.create(spark, tmpDir(tag),
        SimilarityOps.srpPostingsSchema, properties = props,
        bucketBy = Some(("pbh", 8)))
      p.append(SimilarityOps.srpPostingsRows(vecs))
      p
    }
    val srpBare = srpPostings("gs-srp-bare", Map.empty)
    val srpEx = intercept[IllegalStateException] {
      SimilarityOps.embeddingNearDupAgainstIndex(vecs, vIndex, 0.9,
        postings = Some(srpBare)).count()
    }
    assert(srpEx.getMessage.contains("geometry stamping"))
    val srpWrong = srpPostings("gs-srp-wrong",
      SimilarityOps.srpPostingsProps(bandBits = 8, bands = 4))
    intercept[IllegalArgumentException] {
      SimilarityOps.embeddingNearDupAgainstIndex(vecs, vIndex, 0.9,
        postings = Some(srpWrong)).count()
    }
  }

  test("index probes past maxProbe candidates (the checkpointed, " +
    "full-index fetch) return the same pairs as the bounded probe, " +
    "for MinHash, SimHash and SRP postings") {
    import graft.lake.LakeTable
    // the index holds every third row, the batch every second: the
    // overlap (every sixth) guarantees candidates in every modality
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a), col(b)).as[(Long, Long)].collect().toSet
    def tables(tag: String, rows: org.apache.spark.sql.DataFrame,
                  idCol: String, postingsSchema:
                    org.apache.spark.sql.types.StructType,
                  props: Map[String, String],
                  postingsRows: org.apache.spark.sql.DataFrame) = {
      val index = LakeTable.create(spark, tmpDir(s"$tag-idx"), rows.schema,
        bucketBy = Some((idCol, 8)))
      index.append(rows)
      val p = LakeTable.create(spark, tmpDir(s"$tag-post"), postingsSchema,
        properties = props, bucketBy = Some(("pbh", 8)))
      p.append(postingsRows)
      (index, Some(p))
    }

    val sigs = DedupOps.signatureIndexRows(docs.limit(120)).localCheckpoint()
    val sigHist = sigs.filter($"doc_id" % 3 === 0)
    val (mhIdx, mhPost) = tables("ov-mh", sigHist, "doc_id",
      DedupOps.bandPostingsSchema, DedupOps.bandPostingsProps(),
      DedupOps.bandPostingsRows(sigHist))
    val sigBatch = sigs.filter($"doc_id" % 2 === 0)
    def mh(maxProbe: Int) = pairs(DedupOps.nearDupSigsAgainstIndex(sigBatch,
      mhIdx, minJaccard = 0.5, maxProbe = maxProbe, postings = mhPost),
      "d_new", "d_idx")
    assert(mh(10000).nonEmpty && mh(1) == mh(10000))

    val sk = DedupOps.simHashIndexRows(docs.limit(120)).localCheckpoint()
    val skHist = sk.filter($"doc_id" % 3 === 0)
    val (shIdx, shPost) = tables("ov-sh", skHist, "doc_id",
      DedupOps.simHashPostingsSchema, DedupOps.simHashPostingsProps,
      DedupOps.simHashPostingsRows(skHist))
    val skBatch = sk.filter($"doc_id" % 2 === 0)
    def sh(maxProbe: Int) = pairs(DedupOps.sketchesAgainstIndex(skBatch,
      shIdx, maxProbe = maxProbe, postings = shPost), "d_new", "d_idx")
    assert(sh(10000).nonEmpty && sh(1) == sh(10000))

    val vecs = emb.select($"vec_id", $"embedding").limit(120)
      .localCheckpoint()
    val vHist = vecs.filter($"vec_id" % 3 === 0)
    val (vIdx, vPost) = tables("ov-srp", vHist, "vec_id",
      SimilarityOps.srpPostingsSchema, SimilarityOps.srpPostingsProps(),
      SimilarityOps.srpPostingsRows(vHist))
    val vBatch = vecs.filter($"vec_id" % 2 === 0)
    def srp(maxProbe: Int) = pairs(SimilarityOps.embeddingNearDupAgainstIndex(
      vBatch, vIdx, 0.35, maxProbe = maxProbe, postings = vPost),
      "v_new", "v_idx")
    assert(srp(10000).nonEmpty && srp(1) == srp(10000))
  }

  test("simHashAgainstIndex equals the brute-force cross-slice " +
    "hamming scan, through the postings probe (q95's contract)") {
    val sample = docs.limit(300).localCheckpoint()
    val hist = sample.filter($"doc_id" % 3 === 0)
    val batch = sample.filter($"doc_id" % 2 === 0)
    import graft.lake.LakeTable
    val rows = DedupOps.simHashIndexRows(hist).localCheckpoint()
    val index = LakeTable.create(spark, tmpDir("sh-idx"), rows.schema,
      bucketBy = Some(("doc_id", 8)))
    index.append(rows)
    val postings = LakeTable.create(spark, tmpDir("sh-post"),
      DedupOps.simHashPostingsSchema,
      properties = DedupOps.simHashPostingsProps,
      bucketBy = Some(("pbh", 16)))
    postings.append(DedupOps.simHashPostingsRows(rows))

    val got = DedupOps.simHashAgainstIndex(batch, index, maxHamming = 3,
        postings = Some(postings))
      .select($"d_new", $"d_idx", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    // brute-force reference over the same slices (includes the %6==0
    // overlap as hamming-0 self-pairs — the incremental contract is
    // "vs the index", not "vs others")
    val a = DedupOps.simHash(batch)
    val b = DedupOps.simHash(hist)
    val ref = a.as("a").join(b.as("b"), lit(true))
      .select($"a.doc_id".as("d_new"), $"b.doc_id".as("d_idx"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).as("h"))
      .filter($"h" <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == ref)
    assert(got.exists(p => p._1 == p._2), "self-pairs from %6 overlap")
    // same result without postings (the band-scan fallback)
    val legacy = DedupOps.simHashAgainstIndex(batch, index,
        maxHamming = 3)
      .select($"d_new", $"d_idx", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(legacy == got)
  }

  test("simhash of identical docs collides at hamming 0") {
    val base = docs.select("doc_id", "text").limit(3)
    val dups = base.select(($"doc_id" + 100000).as("doc_id"), $"text")
    val pairs = DedupOps.simHashPairs(base.unionByName(dups))
      .filter($"hamming" === 0)
      .filter($"d2" === $"d1" + 100000)
    assert(pairs.count() == 3)
  }

  test("cosine_sim expression matches manual computation") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f), 1.0 / math.sqrt(2)),
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f), 0.0) // zero-norm guard
    ).toDF("a", "b", "expected")
    val got = df.select(cosine_sim($"a", $"b").as("c"), $"expected")
      .as[(Double, Double)].collect()
    got.foreach { case (c, e) => assert(math.abs(c - e) < 1e-12) }
  }

  test("sign_bits: bit j is the sign of coordinate j, capped at 64") {
    import graft.functions.SignRandomProjection.sign_bits
    val df = Seq(
      (Array(1.0f, -1.0f, 0.5f, -0.5f), (1L << 0) | (1L << 2)),
      (Array(-1.0f, -1.0f), 0L),
      (Array.fill(70)(1.0f), -1L) // all 64 low bits set; tail ignored
    ).toDF("e", "expected")
    df.select(sign_bits($"e").as("s"), $"expected")
      .as[(Long, Long)].collect()
      .foreach { case (s, e) => assert(s == e) }
  }

  test("LSH-blocked embedding near-dup == banded brute-force reference") {
    // reference: all-pairs with the band predicate recomputed from RAW
    // coordinates (the same formula the DuckDB oracle runs), fine at
    // fixture scale — the operator exists so we never do this at 100 TB
    def bandEq(k: Int) = (0 until 8).map { j =>
      val i = k * 8 + j + 1
      (element_at($"a.embedding", i) >= 0) ===
        (element_at($"b.embedding", i) >= 0)
    }.reduce(_ && _)
    val anyBand = (0 until 8).map(bandEq).reduce(_ || _)
    val ref = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .filter(anyBand)
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
        cosine_sim($"a.embedding", $"b.embedding").as("cos"))
      .filter($"cos" >= 0.35)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    val got = SimilarityOps.embeddingNearDupLsh(emb, threshold = 0.35)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    assert(ref.nonEmpty && got == ref)
  }

  test("LSH-blocked near-dup: recall 1 on planted near-duplicates") {
    // true near-dups (cos >= 0.99 => per-bit agreement ~0.97, miss odds
    // (1-0.97^8)^8 ~ 1e-5 per pair, and deterministic under this seed) —
    // the regime the 8x8 operating point is designed for; weak-threshold
    // noise pairs (cos ~ 0.35) are NOT recallable by any LSH family
    // (see embeddingNearDupLsh scaladoc)
    val rnd = new scala.util.Random(7)
    val base = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().take(50)
    val planted = base.map { case (id, e) =>
      val n = math.sqrt(e.map(x => x.toDouble * x).sum)
      (id + 100000L, e.map(x => (x + (rnd.nextGaussian() * 0.04 * n /
        math.sqrt(e.length)).toFloat)))
    }
    val all = (base ++ planted).toSeq.toDF("vec_id", "embedding")
    val got = SimilarityOps.embeddingNearDupLsh(all, threshold = 0.95)
      .select($"v1", $"v2").as[(Long, Long)].collect().toSet
    base.foreach { case (id, _) =>
      assert(got.contains((id, id + 100000L)),
        s"planted near-dup pair for $id missed")
    }
  }

  test("LSH ANN top-k overlaps brute-force top-k") {
    val q = emb.filter($"vec_id" === 0)
    val rest = emb.filter($"vec_id" =!= 0)
    val brute = SimilarityOps.bruteForceTopK(rest, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val ann = SimilarityOps.lshTopK(rest, q, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(ann.size == 10)
    val recall = brute.count(ann).toDouble / brute.size
    assert(recall >= 0.2, s"ANN recall@10 = $recall") // multi-probe, 8 bits
  }

  test("persisted BM25 index: serving equals in-memory bm25Retrieve, " +
    "reads only term-probed bucket dirs, append == full rebuild") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val allDocs = Tables.load(spark, sf, "documents")
    val (pt, dt) = TextOps.buildLexicalIndex(spark, allDocs,
      tmpDir("lexidx"), buckets = 16)
    val served = TextOps.bm25FromIndex(pt, dt, queryDoc = 0L, k = 10)
    val mem = TextOps.bm25Retrieve(spark, sf, queryDoc = 0L, k = 10)
      .collect()
    val sRows = served.collect()
    assert(sRows.map(_.getLong(0)).toSeq == mem.map(_.getLong(0)).toSeq,
      "persisted-index ranking differs from the in-memory pipeline")
    sRows.zip(mem).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-9)
    }
    // serving touches only the bucket dirs the query's terms hash to
    // (the plan is adaptive — unwrap stages to reach the scans; both
    // postings scans, idf branch and scoring branch, must be pruned)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        other.children.flatMap(scans) ++
          other.subqueries.flatMap(scans)
    }
    val postingsScans = scans(served.queryExecution.executedPlan)
    assert(postingsScans.nonEmpty, "no postings scan found in the plan")
    postingsScans.foreach { s =>
      val probedBuckets = s.selectedPartitions.partitionCount
      assert(probedBuckets < 16,
        s"serving scanned $probedBuckets of 16 bucket dirs")
    }
    // incremental growth: half-build + exactly-once append of the
    // other half serves the same answer as a from-scratch full build
    val (pa, da) = TextOps.buildLexicalIndex(spark,
      allDocs.filter($"doc_id" % 2 === 0), tmpDir("lexidx-half"))
    TextOps.appendToLexicalIndex(pa, da,
      allDocs.filter($"doc_id" % 2 =!= 0), "crawl", 0L)
    TextOps.appendToLexicalIndex(pa, da,
      allDocs.filter($"doc_id" % 2 =!= 0), "crawl", 0L) // replay no-op
    val grown = TextOps.bm25FromIndex(pa, da, queryDoc = 0L, k = 10)
      .collect()
    assert(grown.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      sRows.map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "incrementally-grown index serves a different answer")
  }

  test("portable LSH: planes are md5-derived +-1, results deterministic " +
    "across calls, recall comparable to the seeded-Gaussian variant") {
    val planes = SimilarityOps.portablePlanes(64, 8)
    assert(planes.length == 8 && planes.forall(_.length == 64))
    assert(planes.flatten.forall(v => v == 1.0 || v == -1.0))
    // the derivation is a pure function — identical on every call/JVM
    assert(planes.map(_.toSeq) == SimilarityOps.portablePlanes(64, 8)
      .map(_.toSeq))
    val q = emb.filter($"vec_id" === 0)
    val rest = emb.filter($"vec_id" =!= 0)
    val a = SimilarityOps.lshTopKPortable(rest, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val b = SimilarityOps.lshTopKPortable(rest, q, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(a == b && a.size == 10)
    val brute = SimilarityOps.bruteForceTopK(rest, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.count(a.toSet).toDouble / brute.size
    assert(recall >= 0.2, s"portable ANN recall@10 = $recall")
  }

  test("IVF: clusters cover all vectors; search beats random recall") {
    val model = IvfIndex.train(emb, c = 16, iters = 2)
    assert(model.c == 16)
    val assigned = IvfIndex.assign(emb, model)
    assert(assigned.filter($"_cluster" < 0 || $"_cluster" >= 16).count() == 0)
    assert(assigned.count() == emb.count())

    val q = emb.filter($"vec_id" === 0)
    val rest = emb.filter($"vec_id" =!= 0)
    val brute = SimilarityOps.bruteForceTopK(rest, q, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = IvfIndex.search(rest, q, model, k = 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size == 10)
    // probing 4/16 clusters scans ~25% of vectors; correlated with the
    // query's neighborhood, recall must beat the random-scan baseline
    val recall = brute.count(ivf).toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall@10 = $recall")
  }

  test("persisted IVF index: serving scan reads ONLY the probed " +
    "partitions, results match the in-memory search") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val model = IvfIndex.train(emb, c = 16, iters = 2)
    val index = IvfIndex.buildIndex(spark, emb.filter($"vec_id" =!= 0),
      model, tmpDir("ivf-index"))

    val queryVec = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val nprobe = 4
    val served = IvfIndex.searchPersisted(index, queryVec, model,
      k = 10, nprobe = nprobe)

    // partition pruning is static: the planned scan touches exactly the
    // probed inverted lists, never the other C - nprobe partition dirs
    val scan = served.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    val total = index.read().queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get.selectedPartitions.partitionCount
    assert(scan.selectedPartitions.partitionCount == nprobe,
      s"scanned ${scan.selectedPartitions.partitionCount} of $total")
    assert(total > nprobe)

    // equivalence with the in-memory probe-join path on the same model
    val inMem = IvfIndex.search(emb.filter($"vec_id" =!= 0),
        emb.filter($"vec_id" === 0), model, k = 10, nprobe = nprobe)
      .select("vec_id").as[Long].collect().toSeq
    val persisted = served.select("vec_id").as[Long].collect().toSeq
    assert(persisted == inMem)
  }

  test("persisted IVF BATCH serving: per-query results equal " +
    "searchPersisted, scan reads only the probe-set UNION") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val model = IvfIndex.train(emb, c = 16, iters = 2)
    val index = IvfIndex.buildIndex(spark,
      emb.filter($"vec_id" % 50 =!= 0), model, tmpDir("ivf-batch"))
    // a 5-query batch: every %50==0 vector asks for its neighbors
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
      .limit(5).localCheckpoint()
    val nprobe = 4
    val served = IvfIndex.searchPersistedBatch(index, queries, model,
      k = 10, nprobe = nprobe)
    val got = served.select("query_id", "vec_id")
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    // per-query equality with the single-vector serving path (same
    // ordering contract: cos desc, vec_id)
    val qs = queries.select("query_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    assert(got.keySet == qs.map(_._1).toSet)
    for ((qid, qv) <- qs) {
      val single = IvfIndex.searchPersisted(index, qv.toArray, model,
        k = 10, nprobe = nprobe).select("vec_id").as[Long]
        .collect().toSeq
      assert(got(qid) == single, s"query $qid diverged from " +
        s"searchPersisted: ${got(qid)} vs $single")
    }

    // the scan is pruned to the UNION of the 5 probe sets at planning
    // time: more than one query's nprobe, fewer than all C lists (the
    // windowed plan wraps the scan in adaptive stages — flatten them)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case o                        => o.children
      }
      p +: kids.flatMap(flatten)
    }
    served.collect()
    val scan = flatten(served.queryExecution.executedPlan).collectFirst {
      case s: FileSourceScanExec
          if s.relation.location.inputFiles.exists(_.contains(index.root))
        => s
    }.get
    val total = index.read().queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get.selectedPartitions.partitionCount
    val scanned = scan.selectedPartitions.partitionCount
    assert(scanned >= nprobe && scanned < total,
      s"scanned $scanned of $total partitions for 5 queries")
  }

  test("IVF appendToIndex: incrementally-grown index serves the same " +
    "results as a from-scratch rebuild, exactly-once on replay") {
    val model = IvfIndex.train(emb, c = 16, iters = 2)
    val slice1 = emb.filter($"vec_id" % 2 === 0 && $"vec_id" =!= 0)
    val slice2 = emb.filter($"vec_id" % 2 === 1)
    val grown = IvfIndex.buildIndex(spark, slice1, model,
      tmpDir("ivf-grow"))
    IvfIndex.appendToIndex(grown, slice2, model, "crawl", 0L)
    IvfIndex.appendToIndex(grown, slice2, model, "crawl", 0L) // replay
    val full = IvfIndex.buildIndex(spark,
      emb.filter($"vec_id" =!= 0), model, tmpDir("ivf-full"))
    assert(grown.read().count() == full.read().count())

    val queryVec = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val servedGrown = IvfIndex.searchPersisted(grown, queryVec, model,
      k = 10, nprobe = 4).select("vec_id").as[Long].collect().toSeq
    val servedFull = IvfIndex.searchPersisted(full, queryVec, model,
      k = 10, nprobe = 4).select("vec_id").as[Long].collect().toSeq
    assert(servedGrown == servedFull)
  }

  test("langId + text stats agree with hand computation") {
    import graft.functions.TextFunctions._
    val df = Seq((1L, "the cat and the dog"), (2L, "der hund und die katze"))
      .toDF("doc_id", "text")
    val lang = df.select($"doc_id", langId("text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(lang(1L) == "en" && lang(2L) == "de")
    val wc = df.select(wordCount($"text")).as[Long].collect().toSeq
    assert(wc == Seq(5L, 5L))

    val ng = Seq(
      (1L, "the thing he was doing there"),
      (2L, "ich mochte schnell und einfach sprechen und singen"))
      .toDF("doc_id", "text")
      .select($"doc_id", langIdNgram("text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(ng(1L) == "en" && ng(2L) == "de")
  }

  test("bm25 batch: each query's ranking equals the single-query " +
    "bm25Retrieve; scores agree within the decimal band") {
    val batch = TextOps.bm25RetrieveBatch(spark, sf,
      queryDocs = Seq(0L, 1L, 2L), k = 5).collect()
    Seq(0L, 1L, 2L).foreach { q =>
      val single = TextOps.bm25Retrieve(spark, sf, queryDoc = q, k = 5)
        .collect()
      val b = batch.filter(_.getLong(0) == q)
        .sortBy(r => (-r.getDouble(2), r.getLong(1)))
      assert(b.map(_.getLong(1)).toSeq == single.map(_.getLong(0)).toSeq,
        s"query $q ranked differently in the batch")
      // the batch sums score terms as DECIMAL(18,12) (deterministic
      // order-independent addition); the single-query path sums raw
      // doubles — identical to ~1e-12, never bit-for-bit by contract
      b.zip(single).foreach { case (rb, rs) =>
        assert(math.abs(rb.getDouble(2) - rs.getDouble(1)) < 1e-9)
      }
    }
  }

  test("portable IVF: trainPortable is deterministic, centers are " +
    "corpus vectors, serve path prunes to nprobe partitions and " +
    "equals the in-memory probe-join search") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val m1 = IvfIndex.trainPortable(emb, c = 8)
    val m2 = IvfIndex.trainPortable(emb, c = 8)
    assert(m1.centroids.map(_.toSeq).toSeq ==
      m2.centroids.map(_.toSeq).toSeq)
    val all = emb.select("embedding").as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toSeq).toSet
    assert(m1.centroids.forall(c => all.contains(c.toSeq)),
      "a portable center is not an actual corpus vector")
    val index = IvfIndex.buildIndex(spark,
      emb.filter($"vec_id" =!= 0), m1, tmpDir("ivf-portable"))
    val qv = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val served = IvfIndex.searchPersisted(index, qv, m1, k = 10,
      nprobe = 2)
    val scan = served.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.selectedPartitions.partitionCount == 2,
      s"scanned ${scan.selectedPartitions.partitionCount} partitions")
    val inMem = IvfIndex.search(emb.filter($"vec_id" =!= 0),
        emb.filter($"vec_id" === 0), m1, k = 10, nprobe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(served.select("vec_id").as[Long].collect().toSeq == inMem)
  }

  test("IVF-PQ: full-probe serving equals flat persisted PQ " +
    "bit-for-bit, a 2-probe serve prunes the scan to the probed " +
    "partition dirs, and no raw-vector column survives in the index") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val model = IvfIndex.trainPortable(emb, c = 8)
    val (ivfpq, cbs) = SimilarityOps.ivfPqPersist(
      emb.filter($"vec_id" =!= 0), spark, tmpDir("ivfpq"), model,
      codebookSource = Some(emb))
    assert(!ivfpq.read().columns.contains("embedding"),
      "the compressed index must not store raw vectors")
    val (flat, flatCbs) = SimilarityOps.pqPersist(emb, spark,
      tmpDir("pq-flat"))
    val qv = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    // probing ALL 8 clusters prunes nothing, so the composition must
    // reproduce flat PQ exactly — same codebooks, same ADC doubles
    val full = SimilarityOps.ivfPqSearchPersisted(ivfpq, cbs, model,
        qv, k = 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flatRes = SimilarityOps.pqSearchPersisted(flat, flatCbs,
        qv.map(_.toDouble), k = 10, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == flatRes,
      "full-probe IVF-PQ differs from flat PQ over the same codebooks")
    // 2-probe serving: static partition pruning at planning time
    val served = SimilarityOps.ivfPqSearchPersisted(ivfpq, cbs, model,
      qv, k = 10, nprobe = 2)
    val scan = served.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get
    assert(scan.selectedPartitions.partitionCount == 2,
      s"scanned ${scan.selectedPartitions.partitionCount} of 8 lists")
    assert(served.collect().length == 10)
  }

  test("batched IVF-PQ serving: per-query results equal the " +
    "single-query path, and the scan is pruned to the probe-set UNION") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val model = IvfIndex.trainPortable(emb, c = 8)
    val (table, cbs) = SimilarityOps.ivfPqPersist(emb, spark,
      tmpDir("ivfpq-batch"), model)
    val qs = emb.filter($"vec_id" < 4)
      .select($"vec_id", $"embedding").collect().sortBy(_.getLong(0))
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    // excludeSelf=false makes each batch slice directly comparable to
    // the single-query serve over the same table
    val batch = SimilarityOps.ivfPqSearchPersistedBatch(table, cbs,
      model, qs, k = 5, nprobe = 2, excludeSelf = false)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    qs.foreach { case (qid, qv) =>
      val single = SimilarityOps.ivfPqSearchPersisted(table, cbs,
          model, qv, k = 5, nprobe = 2)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(got(qid).toSeq == single,
        s"query $qid: batch ${got(qid).toSeq} vs single $single")
    }
    // the one scan is pruned to the UNION of the 4 queries' probes
    // (the plan is adaptive — unwrap stages to reach the code-table
    // scan; the broadcast probe-pair side is a LocalTableScan)
    val probedUnion = qs.flatMap { case (_, qv) =>
      IvfIndex.probeIds(qv, model, 2) }.distinct
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val found = scans(batch.queryExecution.executedPlan)
    assert(found.nonEmpty, "no code-table scan found in the plan")
    found.foreach { scan =>
      assert(scan.selectedPartitions.partitionCount == probedUnion.size,
        s"scanned ${scan.selectedPartitions.partitionCount}, union is " +
          s"${probedUnion.size} of 8")
    }
  }

  test("hard negatives: equals brute force with the band excluded, " +
    "and a planted near-duplicate is banned from the negative pool") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // plant an exact copy of vec 0 under a new id: cosine 1.0 with
    // query 0, so it MUST be excluded from query 0's negatives
    val v0 = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head()
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, true), true)))
    val planted = spark.createDataFrame(
      java.util.Arrays.asList(Row(900000L, v0)), schema)
    val corpus = emb.select($"vec_id", $"embedding").union(planted)
    val qs = Seq(0L -> v0.toArray)
    val got = SimilarityOps.hardNegatives(corpus, qs, k = 10,
        dupThreshold = 0.95)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(!got.exists(_._1 == 900000L),
      "the planted near-duplicate leaked into the negative pool")
    // brute-force recomputation on the driver, band excluded
    val vecs = corpus.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    def cosd(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) -2.0 else d / den
    }
    val q0 = v0.map(_.toDouble).toArray
    val expected = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (id, cosd(v, q0)) }
      .filter(_._2 < 0.95)
      .sortBy { case (id, c) => (-c, id) }.take(10).toSeq
    assert(got == expected)
  }

  test("filtered vector search: results come only from the allowed " +
    "set and equal post-filtered brute force") {
    val docs = Tables.load(spark, sf, "documents")
    val allowed = docs.filter($"lang" === "en" && $"doc_id" =!= 0)
      .select($"doc_id")
    val allowedSet = allowed.as[Long].collect().toSet
    val qv = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val got = SimilarityOps.filteredCosineTopK(emb, allowed, qv, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.forall(r => allowedSet.contains(r._1)),
      "a result escaped the filter")
    // exact search: restricting BEFORE scoring == scoring then
    // filtering (the semi-join is an optimization, not approximation)
    val post = emb
      .select($"vec_id", cosine_sim($"embedding", typedlit(
        emb.filter($"vec_id" === 0).select("embedding")
          .as[Seq[Float]].head())).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(r => allowedSet.contains(r._1))
      .sortBy { case (id, c) => (-c, id) }.take(10).toSeq
    assert(got == post)
  }

  test("diversified RAG retrieval: one chunk per document, and it is " +
    "that document's argmax chunk") {
    val res = graft.operators.TextOps.ragRetrieveDiverse(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(res.map(_._1).distinct.length == res.length,
      "a document appears twice")
    // recompute every chunk's score; each result must be its doc's best
    val docs = Tables.load(spark, sf, "documents")
    val chunks = CorpusOps.chunkDocs(docs, 200, 50)
      .select($"doc_id", $"chunk_id",
        graft.operators.TextOps.hashEmbedExpr("chunk_text", 16).as("emb"))
    val qv = chunks.filter($"doc_id" === 0 && $"chunk_id" === 0)
      .select($"emb").as[Seq[Float]].head()
    val all = chunks.filter($"doc_id" =!= 0)
      .select($"doc_id", $"chunk_id",
        cosine_sim($"emb", typedlit(qv)).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    res.foreach { case (d, c, s) =>
      val best = all.filter(_._1 == d)
        .minBy { case (_, cid, cs) => (-cs, cid) }
      assert((best._2, best._3) == ((c, s)),
        s"doc $d: got chunk $c, best is ${best._2}")
    }
  }

  test("IVF-PQ refine: final ranking is the exact cosine over the ADC " +
    "shortlist, and the raw-vector fetch is id-probe pruned") {
    val model = IvfIndex.trainPortable(emb, c = 8)
    val (codes, cbs) = SimilarityOps.ivfPqPersist(
      emb.filter($"vec_id" =!= 0), spark, tmpDir("ivfpqr"), model,
      codebookSource = Some(emb))
    val vecs = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", $"embedding")
    val vt = graft.lake.LakeTable.create(spark, tmpDir("ivfpqr-vecs"),
      vecs.schema,
      properties =
        graft.lake.LakeTable.autoCompactProps(16, Some("vec_id")),
      bucketBy = Some(("vec_id", 16)))
    vt.append(vecs)
    val qv = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val refined = SimilarityOps.ivfPqSearchRefined(codes, cbs, model,
        vt, qv, k = 10, kPrime = 40, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // driver recomputation: exact cosine over the ADC top-40 shortlist
    val short = SimilarityOps.ivfPqSearchPersisted(codes, cbs, model,
        qv, k = 40, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val byId = vecs.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosd(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) -2.0 else d / den
    }
    val qd = qv.map(_.toDouble)
    val expected = short.toSeq.map(id => (id, cosd(byId(id), qd)))
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(refined == expected)
    // stage 2 touches only the shortlist ids' bucket dirs — 10 ids
    // can reach at most 10 of the 16 buckets
    val fetched = vt.probe("vec_id", refined.map(_._1))
    assert(fetched.inputFiles.length < vt.read().inputFiles.length,
      "the re-rank fetch read the whole vector table")
  }

  test("IVF-PQ refine metric=l2: same-metric convergence — full-list " +
    "kPrime equals the exact L2 top-k of the probed lists") {
    val model = IvfIndex.trainPortable(emb, c = 8)
    val (codes, cbs) = SimilarityOps.ivfPqPersist(
      emb.filter($"vec_id" =!= 0), spark, tmpDir("ivfpqr-l2"), model,
      codebookSource = Some(emb))
    val vecs = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", $"embedding")
    val vt = graft.lake.LakeTable.create(spark,
      tmpDir("ivfpqr-l2-vecs"), vecs.schema,
      properties =
        graft.lake.LakeTable.autoCompactProps(16, Some("vec_id")),
      bucketBy = Some(("vec_id", 16)))
    vt.append(vecs)
    val qv = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head().toArray
    val qd = qv.map(_.toDouble)
    def l2d(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - qd(i); s += d * d; i += 1 }
      s
    }
    val byId = vecs.collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // kPrime = 40: exact L2 over the ADC shortlist, ascending, tie->id
    val refined = SimilarityOps.ivfPqSearchRefined(codes, cbs, model,
        vt, qv, k = 10, kPrime = 40, nprobe = 2, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val short = SimilarityOps.ivfPqSearchPersisted(codes, cbs, model,
        qv, k = 40, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val expected = short.toSeq.map(id => (id, l2d(byId(id))))
      .sortBy { case (id, d) => (d, id) }.take(10)
    assert(refined == expected)
    // FAISS IndexRefineFlat convergence: with kPrime covering every
    // probed row, the refined top-k IS the exact L2 top-k of the
    // probed lists — only holds because both stages rank by L2
    val probed = IvfIndex.probeIds(qv, model, 2).toSet
    val probedIds = IvfIndex.assign(vecs, model)
      .filter($"_cluster".isin(probed.toSeq: _*))
      .select("vec_id").as[Long].collect().toSeq
    val converged = SimilarityOps.ivfPqSearchRefined(codes, cbs, model,
        vt, qv, k = 10, kPrime = probedIds.size, nprobe = 2,
        metric = "l2")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = probedIds.map(id => (id, l2d(byId(id))))
      .sortBy { case (id, d) => (d, id) }.take(10)
    assert(converged == exact,
      "full-list kPrime did not converge to the exact L2 top-k")
  }

  test("hamming-ball probe masks: count is sum C(b,d), popcount <= r, " +
    "and lshTopK equals the enumerate-all-buckets formulation") {
    // O(b^2) direct generation vs the old 2^b explode+filter
    val b = 8; val r = 2
    val masks = SimilarityOps.hammingBallMasks(b, r)
    assert(masks.size == 1 + b + b * (b - 1) / 2)
    assert(masks.distinct.size == masks.size)
    assert(masks.forall(m => java.lang.Long.bitCount(m) <= r))
    assert(masks.forall(m => m >= 0 && m < (1L << b)))
    // radius clamps to bits; radius 0 is just the identity
    assert(SimilarityOps.hammingBallMasks(2, 5).size == 4)
    assert(SimilarityOps.hammingBallMasks(16, 0) == Seq(0L))
    // ball(qb) = { qb ^ m } must equal { bucket : hamming <= r } — the
    // exact set the old sequence(0, 2^b-1) + bit_count filter produced
    val qb = 0xA5L
    val ball = masks.map(qb ^ _).toSet
    val byFilter = (0L until (1L << b)).filter(bk =>
      java.lang.Long.bitCount(qb ^ bk) <= r).toSet
    assert(ball == byFilter)
    // and the served results are unchanged by construction
    val q = emb.filter($"vec_id" === 0)
    val rest = emb.filter($"vec_id" =!= 0)
    val got = SimilarityOps.lshTopK(rest, q, 10)
      .collect().map(row => (row.getLong(0), row.getDouble(1))).toSeq
    assert(got.size == 10)
  }

  test("batched hybrid RRF: every query's slice equals the " +
    "single-query fusion bit-for-bit") {
    val batch = graft.operators.TextOps.hybridRrfRetrieveBatch(spark,
        sf, Seq(0L, 1L, 2L), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    Seq(0L, 1L, 2L).foreach { q =>
      val single = graft.operators.TextOps.hybridRrfRetrieve(spark, sf,
          queryDoc = q, k = 10)
        .collect().map(r => (q, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q).toSeq == single,
        s"query $q: batch ${batch(q).toSeq} vs single $single")
    }
  }

  test("hybrid RRF fusion: fused scores equal 1/(60+rank) arithmetic " +
    "recomputed from the two arms' own rankings") {
    val fused = graft.operators.TextOps.hybridRrfRetrieve(spark, sf,
        queryDoc = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // lexical arm: banded-BM25 top-20 -> rank map
    val lex = graft.operators.TextOps.bm25RetrieveBatch(spark, sf,
        Seq(0L), k = 20)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    // dense arm: exact-cosine top-20 -> rank map
    val qv = emb.filter($"vec_id" === 0)
      .select("embedding").as[Seq[Float]].head()
    val dense = emb.filter($"vec_id" =!= 0)
      .select($"vec_id", cosine_sim($"embedding", typedlit(qv)).as("cos"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, c) => (-c, id) }.take(20)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val expected = (lex.keySet ++ dense.keySet).toSeq.map { id =>
      val s = lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        dense.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(fused == expected, s"fused=$fused expected=$expected")
    // a doc ranked in BOTH arms must carry both contributions
    val both = (lex.keySet & dense.keySet)
    both.foreach { id =>
      val s = fused.toMap.get(id)
      s.foreach(v => assert(v ==
        1.0 / (60 + lex(id)) + 1.0 / (60 + dense(id))))
    }
  }
}
