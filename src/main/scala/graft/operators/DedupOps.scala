package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.TextFunctions

/** Deduplication operators for LLM training-data pipelines: exact,
  * normalized-exact, exact n-gram Jaccard (inverted-index join), MinHash
  * LSH, SimHash, and connected-component clustering. Everything is
  * groupBy/join-shaped — shuffle-parallel, no driver-side collection —
  * so the same plans run on a 1000-executor cluster over 100 TB of
  * documents. (North-star ops beyond the reference's surface, per the
  * build brief; the reference itself is ingestion-only,
  * /root/reference README.md:3-19.)
  */
object DedupOps {

  /** Exact dedup: one survivor (min id) per identical text + copy count.
    * Plain hash aggregation — map-side partial agg, single shuffle.
    * At 100 TB scale group by a 128-bit fingerprint instead of the raw
    * text to cut shuffle width (see `fingerprint` / q38). */
  def exact(docs: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Exact dedup after canonical normalization (case/punct/whitespace). */
  def normalized(docs: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame =
    docs.groupBy(TextFunctions.normText(col(textCol)).as("_norm"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Incremental exact dedup of a NEW batch against a persisted
    * fingerprint index — the streaming-corpus shape where history is
    * too large to re-scan per batch. The index is a LakeTable holding
    * one (fp, doc_id) row per ACCEPTED document, fp =
    * md5(normalized text) (the q38 fingerprint). Within-batch copies
    * collapse to their min doc_id first, then one anti-join drops
    * everything already committed. Returns the fresh (fp, doc_id)
    * rows; callers append exactly those back to the index (via the
    * lake's exactly-once batch-id commit) to advance the corpus
    * frontier — so replayed batches can never re-admit or double-count.
    *
    * 100 TB shape: the index side is NEVER shuffled. A batch small
    * enough to enumerate (<= maxProbe distinct fps, the incremental
    * case by definition) turns into a [[graft.lake.LakeTable.probe]]:
    * bucket-partition pruning + manifest IN pruning + parquet pushdown
    * reduce the index scan to the handful of bucket dirs the batch's
    * fps hash into, and the matching fps come back through a broadcast
    * semi-join — zero exchanges end to end on the index. Oversized
    * batches degrade to one full index scan, still shuffle-free: the
    * batch fps broadcast INTO the scan (broadcast semi-join), so index
    * rows cross the network exactly never. Compare bucketed SMJ
    * co-location, which still scans AND sort-merges 100% of history
    * per batch — this plan scans a pruned subset and merges nothing. */
  def freshAgainstIndex(batch: DataFrame, index: graft.lake.LakeTable,
                        textCol: String = "text", idCol: String = "doc_id",
                        maxProbe: Int = 10000): DataFrame = {
    // fingerprinting (md5 over normalized text) is the expensive part
    // of the batch side and feeds three consumers (the probe sample,
    // the semi-join, the anti-join): materialize it once — (fp, id)
    // rows, batch-scale — instead of re-running the regexes per use
    val batchFps = batch
      .select(TextFunctions.fingerprint(col(textCol)).as("fp"),
        col(idCol).as("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .localCheckpoint(eager = false)
    val hits = indexHits(index, batchFps.select("fp"), "fp", maxProbe)
    batchFps.join(broadcast(hits), Seq("fp"), "left_anti")
  }

  /** The distinct `keyCol` values of `keys` that exist in `index`,
    * computed without ever shuffling (or, when the key set is
    * enumerable, even fully scanning) the index side. Driver traffic is
    * bounded by maxProbe keys — metadata scale for incremental batches;
    * beyond it the plan falls back to a full (but still shuffle-free,
    * broadcast-probed) index scan. */
  private[operators] def indexHits(index: graft.lake.LakeTable,
                                   keys: DataFrame, keyCol: String,
                                   maxProbe: Int): DataFrame = {
    val base = collectAtMost(keys.distinct(), maxProbe) match {
      case Some(sample) => index.probe(keyCol, sample.map(_.get(0)))
      case None         => index.read()
    }
    base.select(col(keyCol))
      .join(broadcast(keys.select(col(keyCol))), Seq(keyCol), "left_semi")
  }

  /** Signature-index rows for accepted documents: (doc_id, shs, sig) —
    * the persisted state [[nearDupAgainstIndex]] compares new batches
    * against. Shingle-hash sets and MinHash signatures are computed
    * once here, committed to a lake table (exactly-once batch commits),
    * and never recomputed from raw text again. */
  def signatureIndexRows(docs: DataFrame, k: Int = 64,
                         shingleN: Int = 3): DataFrame =
    shingleHashArrays(docs, n = shingleN)
      .select(col("doc_id"), col("shs"),
        graft.functions.HashSig.minhash_sig(col("shs"), k).as("sig"))

  /** Incremental NEAR-dup of a new batch against a PERSISTED signature
    * index — the production crawl-ingest shape: history is indexed once
    * (see [[signatureIndexRows]]) and each new batch compares only
    * against the index through the banded LSH equi-join, never
    * rescanning raw history text. Candidate (new, indexed) pairs are
    * verified with the exact n-gram Jaccard from the stored (row-local,
    * pre-deduped) shingle-hash sets, so the output matches a full
    * cross-set exact comparison — the same bucket-then-verify contract
    * as [[minHashLshTrueJaccard]], which makes the cross-engine oracle
    * an LSH recall proof across the index boundary. Returns
    * (d_new, d_idx, inter, jaccard) with jaccard >= minJaccard. The
    * probe is [[bandedAgainstIndex]]: the index never shuffles, and
    * with a `postings` table it is read O(batch) per batch. */
  def nearDupAgainstIndex(batch: DataFrame, index: graft.lake.LakeTable,
                          minJaccard: Double = 0.5, k: Int = 64,
                          bands: Int = 16, shingleN: Int = 3,
                          maxProbe: Int = 10000,
                          postings: Option[graft.lake.LakeTable] = None)
      : DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // shingling + MinHash is the batch side's whole cost and feeds two
    // consumers (band buckets, exact verify): one materialization
    nearDupSigsAgainstIndex(
      signatureIndexRows(batch, k, shingleN).localCheckpoint(eager = false),
      index, minJaccard, bands, maxProbe, postings)
  }

  /** Schema of a BAND-POSTINGS table: one row per (band, band-hash,
    * doc) of every indexed signature, with `pbh = xxhash64(band, bh)`
    * as the single bucketable posting key. Create it
    * `bucketBy = ("pbh", n)` so a batch's band lookups compile to
    * bucket-dir + manifest-IN pruned probes — the O(batch) candidate
    * generation that replaces the per-batch O(index) band-scan. */
  def bandPostingsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("pbh", LongType),
      StructField("band", IntegerType), StructField("bh", LongType),
      StructField("doc_id", LongType)))
  }

  /** The geometry properties every MinHash band-postings table MUST be
    * created with — probes fail loudly on a table that lacks them
    * (see [[requirePostingsProp]]), because a geometry-mismatched
    * postings table silently generates zero candidates. */
  def bandPostingsProps(bands: Int = 16): Map[String, String] =
    Map("postings.kind" -> "minhash", "postings.bands" -> bands.toString)

  /** Geometry properties for a SimHash postings table (the banding is
    * fixed at 4 x 16 bits by the pigeonhole-recall argument in
    * [[simHashAgainstIndex]]). */
  def simHashPostingsProps: Map[String, String] =
    Map("postings.kind" -> "simhash", "postings.bands" -> "4",
      "postings.bandBits" -> "16")

  /** Mandatory geometry-property read: a postings table created
    * without its `postings.*` stamp cannot prove probe compatibility,
    * and probing it under the wrong geometry yields zero candidates
    * silently — the exact failure the stamp exists to surface. */
  private[graft] def requirePostingsProp(p: graft.lake.LakeTable,
                                         key: String): String =
    postingsProp(p, p.properties, key)

  private def postingsProp(p: graft.lake.LakeTable,
                           props: Map[String, String], key: String): String =
    props.getOrElse(key, throw new IllegalStateException(
      s"postings table at ${p.root} lacks the '$key' property — it was " +
        "created without geometry stamping (use bandPostingsProps/" +
        "simHashPostingsProps/srpPostingsProps at createTable), so probe " +
        "compatibility cannot be verified"))

  /** The one postings-geometry check: every key of `expected` (a
    * modality's `*PostingsProps`) must be stamped on `p` with the same
    * value — a missing key is an [[IllegalStateException]], a
    * different value an [[IllegalArgumentException]]. */
  private[graft] def requirePostings(p: graft.lake.LakeTable,
                                     expected: Map[String, String]): Unit = {
    val props = p.properties
    expected.foreach { case (key, want) =>
      val got = postingsProp(p, props, key)
      require(got == want, s"postings table at ${p.root} has $key = " +
        s"'$got', the probe expects '$want'")
    }
  }

  /** Posting rows (pbh, band, bh, doc_id) for signature-index rows —
    * what a curation writer commits alongside each index commit.
    * Derived 1:1 from the sig column (null-sig rows — docs too short
    * to shingle — carry no postings and are inert on the LSH side).
    * The exact (band, bh) ride along so probes re-join on the REAL
    * band key: a pbh hash collision can only add a candidate that the
    * exact-join (and then the exact-Jaccard verify) discards. */
  def bandPostingsRows(sigRows: DataFrame, bands: Int = 16): DataFrame =
    sigRows.filter(col("sig").isNotNull)
      .select(col("doc_id"),
        posexplode(graft.functions.HashSig.band_hashes(col("sig"), bands)))
      .select(xxhash64(col("pos"), col("col")).as("pbh"),
        col("pos").as("band"), col("col").as("bh"), col("doc_id"))

  /** `df`'s `keep` columns, one row per band of its MinHash `sig`, with
    * the band key `bk` = (band, bh) — the band keys of the index probe
    * and the within-batch pairs. */
  private def minHashBandKeys(df: DataFrame, bands: Int,
                              keep: Column*): DataFrame =
    df.select(keep :+
        posexplode(graft.functions.HashSig.band_hashes(col("sig"), bands)): _*)
      .withColumn("bk", struct(col("pos").as("band"), col("col").as("bh")))
      .drop("pos", "col")

  /** [[nearDupAgainstIndex]] over PRE-COMPUTED batch signature rows
    * (doc_id, shs, sig) — for callers that already hold them (the
    * curation MV computes them once and also commits them to the
    * index; recomputing the shingling per consumer would triple the
    * batch's dominant cost).
    *
    * With `postings` (a [[bandPostingsSchema]] lake table bucketed by
    * pbh, maintained by the index's writer), candidate generation
    * probes ONLY the bucket dirs the batch's own band hashes fall in —
    * per-batch cost tracks the batch, not the index, so a crawl loop
    * stays O(batch) as history grows. The postings are ADVISORY:
    * correctness is anchored by the exact-verify fetch against the
    * authoritative index (a posting with no index row yields a
    * candidate pair that verifies against nothing and drops out), so a
    * stale or over-complete postings table can never change results —
    * only completeness matters, and the writer guarantees it by
    * committing postings BEFORE the index rows they describe (see
    * [[graft.streaming.MVManager.curateStepNearDup]]). Without
    * `postings`, falls back to the one-pass band-scan of the index. */
  def nearDupSigsAgainstIndex(newRows: DataFrame,
                              index: graft.lake.LakeTable,
                              minJaccard: Double = 0.5, bands: Int = 16,
                              maxProbe: Int = 10000,
                              postings: Option[graft.lake.LakeTable] = None)
      : DataFrame =
    bandedAgainstIndex(newRows, index, postings, bandPostingsProps(bands),
      (df, side) => minHashBandKeys(df, bands, col("doc_id").as(side)), "bh", "doc_id", "doc_id", "shs", ("d_new", "d_idx"), maxProbe)(
      (a, b) => exactJaccard(a, b, size(a), size(b)),
      col("jaccard") >= minJaccard)

  /** The banded index probe of every sketch modality — one streaming
    * similarity join in which only the band keys and the verify depend
    * on the similarity function. Candidates are the (batch, indexed)
    * id pairs sharing an exact band key `bk`, a struct of `band` and
    * `valueField`:
    *  - with `postings` (bucketed by `pbh = xxhash64(band, value)`,
    *    stamped with `geometry`, see [[requirePostings]]), the postings
    *    rows under the batch's own posting keys, read through
    *    [[graft.lake.LakeTable.probeTiered]] — per-batch cost tracks
    *    the batch while history grows;
    *  - without, the band keys of one column-pruned index scan,
    *    streamed through a broadcast join against the batch's keys.
    * The index never shuffles. The distinct candidate pairs come back
    * in ONE bounded collect that serves both the verify join (as a
    * local relation) and the ids of the verify fetch, which reads only
    * those rows' payloads through [[graft.lake.LakeTable.probe]] on
    * `idCol`; both verify joins broadcast their small side. Past
    * `maxProbe` posting keys or candidate ids the read is a full scan,
    * and past `maxProbe` pairs the banded join is checkpointed and its
    * ids re-collected. The cap counts pairs, not distinct indexed ids,
    * so one collect serves the common batch; an overflow is a slower
    * batch, never a wrong one.
    *
    * Postings are advisory: every candidate is verified against the
    * authoritative index, so a posting without its index row verifies
    * against nothing, and a stale or over-complete postings table can
    * never change results — only completeness matters (writers commit
    * postings BEFORE the index rows they describe, see
    * [[graft.streaming.MVManager.curateStepNearDup]]).
    *
    * `bandKeys(df, side)` projects (side, bk) rows from the batch or
    * the index; `idCol` and `payloadCol` name the id and the verified
    * payload in both, `postingsIdCol` the id in the postings. Returns
    * (new side, index side, `verify(batch payload, index payload)`...)
    * rows passing `keep`. */
  private[operators] def bandedAgainstIndex(batch: DataFrame,
      index: graft.lake.LakeTable, postings: Option[graft.lake.LakeTable],
      geometry: Map[String, String],
      bandKeys: (DataFrame, String) => DataFrame, valueField: String,
      idCol: String, postingsIdCol: String, payloadCol: String,
      sides: (String, String), maxProbe: Int)(
      verify: (Column, Column) => Seq[Column], keep: Column): DataFrame = {
    val (newSide, idxSide) = sides
    val newBk = bandKeys(batch, newSide)
    val idxBk = postings match {
      case Some(p) =>
        requirePostings(p, geometry)
        val pbhs = collectAtMost(newBk
          .select(xxhash64(col("bk.band"), col(s"bk.$valueField")).as("pbh"))
          .distinct(), maxProbe)
        pbhs.fold(p.read())(
          ks => p.probeTiered("pbh", ks.map(_.get(0)), maxProbe))
          .select(col(postingsIdCol).as(idxSide),
            struct(col("band"), col(valueField)).as("bk"))
      case None => bandKeys(index.read(), idxSide)
    }
    val candQ = idxBk.join(broadcast(newBk), "bk")
      .select(col(newSide), col(idxSide))
      .distinct() // a pair colliding in several bands verifies once
    val (cand, candIds) = collectAtMost(candQ, maxProbe) match {
      case Some(candRows) =>
        (batch.sparkSession.createDataFrame(
          java.util.Arrays.asList(candRows: _*), candQ.schema),
          Some(candRows.map(_.get(1)).distinct))
      case None =>
        val ck = candQ.localCheckpoint()
        (ck, collectAtMost(ck.select(col(idxSide)).distinct(), maxProbe)
          .map(_.map(_.get(0))))
    }
    val idxDocs = candIds.fold(index.read())(index.probe(idCol, _))
    val p2 = idxDocs.select(col(idCol).as(idxSide), col(payloadCol).as("_p2"))
      .join(broadcast(cand), Seq(idxSide))
    batch.select(col(idCol).as(newSide), col(payloadCol).as("_p1"))
      .join(broadcast(p2), Seq(newSide))
      .select(Seq(col(newSide), col(idxSide)) ++
        verify(col("_p1"), col("_p2")): _*)
      .filter(keep)
  }

  /** The exact Jaccard of two distinct-hash sets `a` and `b` of sizes
    * `n1` and `n2`, as (inter, jaccard) columns: `inter / (n1 + n2 -
    * inter)` in doubles — the one definition of the within-batch pairs
    * ([[trueJaccardFromSigRows]]) and the index probe's verify. */
  private def exactJaccard(a: Column, b: Column, n1: Column, n2: Column)
      : Seq[Column] = {
    val inter = size(array_intersect(a, b)).cast("long")
    Seq(inter.as("inter"), (inter / (n1 + n2 - inter)).as("jaccard"))
  }

  /** The most within-batch pairs a curation step collapses on the
    * driver; a batch with more takes its distributed path. */
  private[graft] val MaxWithinBatchPairs = 100000

  /** The batch side of a near-dup curation step, as one projection:
    * per document its id, fingerprint, shingle-hash set, MinHash
    * signature ([[signatureIndexRows]]' defaults), the signature's band
    * hashes and their posting keys (`pbhs`, as [[bandPostingsRows]]
    * computes them); `shs`, `sig`, `bks` and `pbhs` are null for a
    * document too short to shingle. No shuffle: the batch keeps its
    * scan partitioning. */
  private def curationBatch(docs: DataFrame, bands: Int, textCol: String,
                            idCol: String): DataFrame = {
    val shs = graft.functions.ShingleHashes.shingle_hashes(col(textCol), 3)
    docs.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.fingerprint(col(textCol)).as("fp"),
        when(size(shs) >= 1, shs).as("shs"))
      .withColumn("sig", graft.functions.HashSig.minhash_sig(col("shs"), 64))
      .withColumn("bks",
        graft.functions.HashSig.band_hashes(col("sig"), bands))
      .withColumn("pbhs",
        transform(col("bks"), (bh, band) => xxhash64(band, bh)))
  }

  /** Every row of `df` in ONE Spark job when it holds at most `max`
    * rows; None when it holds more. Each task ships at most its share
    * of the bound (`max + 1` split evenly over the tasks, rounded up),
    * so the driver never holds much more than `max` rows; a task
    * whose partition holds more than its share reports overflow, so a
    * skewed input can overflow below `max` — the caller's fallback
    * then runs, which costs time, never correctness. `limit(n)
    * .collect()` would scan partitions in growing waves, one job per
    * wave. */
  private[graft] def collectAtMost(df: DataFrame, max: Int)
      : Option[Seq[Row]] = {
    val rdd = df.rdd
    val share = (max + rdd.getNumPartitions) / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (buf.length < share && it.hasNext) buf += it.next()
      Iterator.single((buf.toArray, it.hasNext))
    }.collect()
    val rows = parts.toSeq.flatMap(_._1)
    if (parts.exists(_._2) || rows.length > max) None else Some(rows)
  }

  /** What one near-dup curation step commits: the accepted document
    * ids and their index rows
    * ([[graft.streaming.MVManager.curationIndexSchema]]). */
  private[graft] final case class NearDupBatch(accepted: Set[Long],
                                               indexRows: Seq[Row])

  /** One document of a curation batch on the driver (see
    * [[curationBatch]]). */
  private final case class BatchDoc(id: Long, fp: String, shs: Array[Long],
                                    sig: Array[Long], bks: Array[Long],
                                    pbhs: Array[Long])

  /** The exact Jaccard of two distinct shingle-hash sets on the
    * driver, with the arithmetic of [[exactJaccard]]:
    * `inter / (n1 + n2 - inter)` in doubles. */
  private def jaccard(a: Array[Long], b: Array[Long]): Double = {
    val inA = a.toSet
    val inter = b.count(inA)
    inter.toDouble / (a.length + b.length - inter)
  }

  /** The near-dup curation decision for a batch small enough to hold
    * on the driver — [[freshAgainstIndex]], the within-batch collapse of
    * [[trueJaccardFromSigRows]] + [[nearDupDropIds]] and
    * [[nearDupSigsAgainstIndex]] with the same results, in at most three
    * Spark jobs and a fixed set of plan shapes:
    *  1. the [[curationBatch]] projection, collected once (at most
    *     `maxProbe` documents);
    *  2. one scan for the index's fingerprint hits and the postings
    *     rows under the batch's band keys (at most `maxProbe` keys and
    *     rows; without `postings`, one band scan of the index);
    *  3. the shingle sets of the index candidates (at most `maxProbe`),
    *     skipped when there is no candidate.
    * Within-batch fingerprint copies keep their min doc_id; the fresh
    * documents' band collisions are verified with exact Jaccard and
    * collapse to each cluster's min doc_id (at most
    * [[MaxWithinBatchPairs]] candidate pairs); a survivor drops when an
    * indexed document sharing one of its band keys reaches
    * `minJaccard`. None when any bound is exceeded: the caller runs the
    * distributed step instead, before anything was committed. */
  private[graft] def nearDupBatch(docs: DataFrame,
                                  index: graft.lake.LakeTable,
                                  postings: Option[graft.lake.LakeTable],
                                  minJaccard: Double, bands: Int,
                                  textCol: String, idCol: String,
                                  maxProbe: Int)
      : Option[NearDupBatch] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    def longs(r: Row, i: Int): Array[Long] =
      if (r.isNullAt(i)) null else r.getSeq[Long](i).toArray
    val batch = collectAtMost(curationBatch(docs, bands, textCol, idCol),
        maxProbe).getOrElse(return None)
      .map(r => BatchDoc(r.getLong(0), r.getString(1), longs(r, 2),
        longs(r, 3), longs(r, 4), longs(r, 5)))
    val keys = batch.filter(_.pbhs != null).flatMap(_.pbhs).distinct
    // fingerprint hits and band-key postings, fused into one scan
    val fpHits = index.probe("fp", batch.flatMap(d => Option(d.fp)).distinct)
      .select(col("fp"), lit(null).cast(LongType).as("d_idx"),
        lit(null).cast(IntegerType).as("band"),
        lit(null).cast(LongType).as("bh"))
    val postingHits = (postings match {
      case Some(p) =>
        requirePostings(p, bandPostingsProps(bands))
        // more keys than maxProbe: the probe would read the whole
        // table, and planning a hash-set filter on its claimed bucket
        // column costs one generated projection per key
        if (keys.length > maxProbe) return None
        p.probeTiered("pbh", keys, maxProbe)
      case None => bandPostingsRows(index.read(), bands)
    }).filter(ColumnBridge.inSet(col("pbh"), keys.toSet[Any]))
      .select(lit(null).cast(StringType).as("fp"), col("doc_id").as("d_idx"),
        col("band"), col("bh"))
    val probed = collectAtMost(fpHits.unionByName(postingHits), maxProbe)
      .getOrElse(return None)
    val (fpRows, postingRows) = probed.partition(r => !r.isNullAt(0))
    val indexed = fpRows.map(_.getString(0)).toSet
    val fresh = batch.groupBy(d => Option(d.fp)).values.map(_.minBy(_.id))
      .filterNot(d => d.fp != null && indexed(d.fp)).toSeq.sortBy(_.id)
    // within-batch collapse: band collisions among the fresh docs,
    // verified exactly, one survivor (min id) per connected cluster
    val freshSigs = fresh.filter(_.sig != null)
    val wbCands = (0 until bands).flatMap { b =>
      freshSigs.groupBy(_.bks(b)).values.filter(_.size > 1)
    }
    if (wbCands.map(g => g.size.toLong * (g.size - 1) / 2).sum >
        MaxWithinBatchPairs)
      return None
    val wbPairs = wbCands.flatMap(g => g.combinations(2).map {
      case Seq(a, c) => (a, c)
    }).distinctBy { case (a, c) => (a.id, c.id) }
      .filter { case (a, c) => jaccard(a.shs, c.shs) >= minJaccard }
      .map { case (a, c) => (a.id, c.id) }
    val wbDrop = nearDupDropIds(wbPairs).toSet
    val survivors = fresh.filterNot(d => wbDrop(d.id))
    // index candidates: survivors sharing an exact (band, bh) key with
    // a posting; verified against the candidates' stored shingle sets
    val byKey = survivors.filter(_.sig != null)
      .flatMap(d => d.bks.indices.map(b => (b, d.bks(b)) -> d))
      .groupMap(_._1)(_._2)
    val cands = postingRows.flatMap { r =>
      byKey.getOrElse((r.getInt(2), r.getLong(3)), Nil)
        .map(d => (d, r.getLong(1)))
    }.distinctBy { case (d, idx) => (d.id, idx) }
    val candIds = cands.map(_._2).distinct
    val idxShs =
      if (candIds.isEmpty) Map.empty[Long, Seq[Array[Long]]]
      else collectAtMost(index.probe("doc_id", candIds)
          .select(col("doc_id"), col("shs")), maxProbe)
        .getOrElse(return None)
        .filter(!_.isNullAt(1)).groupMap(_.getLong(0))(longs(_, 1))
    val nearIds = cands.collect {
      case (d, idx) if idxShs.getOrElse(idx, Nil)
          .exists(jaccard(d.shs, _) >= minJaccard) => d.id
    }.toSet
    val accepted = survivors.filterNot(d => nearIds(d.id))
    def seq(a: Array[Long]) =
      if (a == null) null else scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    Some(NearDupBatch(accepted.map(_.id).toSet,
      accepted.map(d => Row(d.fp, d.id, seq(d.shs), seq(d.sig)))))
  }

  /** `concat(w[i], ' ', w[i+1], ...)` — direct indexed concat, no
    * per-shingle slice allocation (measurably faster than
    * concat_ws(slice(...)) on long documents). */
  private def shingleConcat(n: Int): String =
    (0 until n).map(j => s"w[i+$j]").mkString("concat(", ", ' ', ", ")")

  /** Distinct word n-gram shingles per document as one array column —
    * dedup happens row-locally (array_distinct), so shingling costs ZERO
    * shuffles regardless of corpus size. */
  def shingleArrays(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", n: Int = 3): DataFrame =
    graft.Tables.widen(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), expr(
        s"array_distinct(transform(sequence(0, size(w)-$n), " +
          s"i -> ${shingleConcat(n)}))").as("shs"))

  /** Same, but shingles as 64-bit hashes computed by the native one-pass
    * ShingleHashes expression (the HoF formulation was interpreted
    * per-shingle and dominated every dedup operator). Only hash identity
    * matters downstream (collision odds ~n^2/2^64, negligible). */
  def shingleHashArrays(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", n: Int = 3): DataFrame =
    graft.Tables.widen(docs)
      .select(col(idCol).as("doc_id"),
        graft.functions.ShingleHashes.shingle_hashes(col(textCol), n)
          .as("shs"))
      .filter(size(col("shs")) >= 1)

  /** Exploded form: (doc_id, shingle), distinct by construction. */
  def shingles(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id", n: Int = 3): DataFrame =
    shingleArrays(docs, textCol, idCol, n)
      .select(col("doc_id"), explode(col("shs")).as("shingle"))

  import graft.functions.PairExplode.pair_explode

  /** Hash-repartition on `cols` pinned to defaultParallelism: the
    * following groupBy reuses this partitioning (single shuffle), but
    * AQE can no longer coalesce it below cluster parallelism — these
    * stages are CPU-dense with few bytes per row, so byte-based
    * coalescing would serialize them. */
  private def pinned(df: DataFrame, cols: String*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      cols.map(col): _*)

  /** EXACT n-gram Jaccard near-dup pairs via inverted-index self-join:
    * pairs sharing >= 1 shingle get their true Jaccard; keep >= minJaccard.
    *
    * This is the exact (oracle-checkable) path; the shingle self-join is
    * the classic inverted-index candidate generator — cost is bounded by
    * sum over shingles of df^2, so at 100 TB you first drop ultra-frequent
    * shingles (maxDf) or switch to [[minHashLsh]]. */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.5,
                   n: Int = 3, maxDf: Option[Int] = None): DataFrame =
    setJaccardPairs(shingleHashArrays(docs, n = n), minJaccard, maxDf)

  /** Exact Jaccard pairs over ANY (doc_id, shs) element-set rows —
    * the recall-exact core of [[ngramJaccard]], factored set-agnostic
    * so the binary axis reuses it on frame-hash sets
    * ([[MultimodalOps.frameSignatureRows]]): candidates come from
    * SHARED ELEMENTS (jaccard >= any positive threshold implies one),
    * so unlike the MinHash-banded path there is no probabilistic
    * recall to prove — small sets near the threshold are found
    * unconditionally. */
  def setJaccardPairs(sets: DataFrame, minJaccard: Double = 0.5,
                      maxDf: Option[Int] = None): DataFrame = {
    // per-doc element count rides along with every exploded element, so
    // the whole computation is TWO shuffles: group-by-element (inverted
    // index) and group-by-pair. No self-join, no count-table joins.
    // Elements travel as 64-bit hashes (8B vs ~25B strings on the wire;
    // collision odds ~n^2/2^64 leave the exact counts intact).
    val sh = sets
      .select(col("doc_id"), size(col("shs")).as("n"),
        explode(col("shs")).as("shingle"))
    val byShingle = pinned(sh, "shingle").groupBy(col("shingle"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
      .filter(size(col("ds")) > 1)
    val capped = maxDf match {
      case Some(m) => byShingle.filter(size(col("ds")) <= m)
      case None => byShingle
    }
    val combos = capped.select(
      pair_explode(sort_array(col("ds"))).as(Seq("d1", "n1", "d2", "n2")))
    pinned(combos, "d1", "d2")
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("inter") / (col("n1") + col("n2") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Schema of an ELEMENT-postings table — the exact-recall sibling of
    * the MinHash band postings for SMALL sets (media frame hashes):
    * one row per (element hash, owning doc, owner's set size). The
    * denormalized `n` makes the incremental Jaccard probe resolve
    * entirely from postings — no index fetch at all. */
  def elementPostingsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("eh", LongType),
      StructField("doc_id", LongType), StructField("n", IntegerType)))
  }

  /** Geometry stamp for element-postings tables (probes refuse
    * unstamped tables, as with every postings family). */
  def elementPostingsProps: Map[String, String] =
    Map("postings.kind" -> "elements")

  /** Posting rows (eh, doc_id, n) from (doc_id, shs) set rows. */
  def elementPostingsRows(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), size(col("shs")).as("n"),
        explode(col("shs")).as("eh"))
      .select(col("eh"), col("doc_id"), col("n"))

  /** Incremental EXACT set-Jaccard of a new batch against a PERSISTED
    * element-postings index — the recall-exact twin of
    * [[nearDupSigsAgainstIndex]] for modalities whose sets are SMALL
    * (media frame-hash sets, ~20-60 elements): there, borderline pairs
    * at jaccard ~ threshold are real and the banded MinHash candidate
    * join measurably drops them (P[any of 16 4-row bands matches] is
    * only .64 at j = 0.5), while text shingle sets are large enough
    * that the fixtures never exhibit a miss.
    *
    * 100 TB shape: candidates come from probing the eh-bucketed
    * postings on the BATCH'S OWN element hashes (bucket-dir +
    * manifest-IN pruned — O(batch) keys, the fp-probe pattern), every
    * shared element is by definition in the batch's own sets, and the
    * owner's set size rides on each posting row — so the whole
    * (inter, jaccard) computation resolves from the probed rows plus
    * one broadcast of the exploded batch; the index tables are never
    * read. Cost per batch tracks batch size; history grows only the
    * bucketed postings. `maxDf` drops elements shared by more than
    * that many indexed docs (ubiquitous boilerplate frames) from
    * CANDIDATE GENERATION only — the skew guard against the pair
    * explosion — while inter/jaccard are computed from the UNCAPPED
    * probed rows restricted to the candidate pairs: a ubiquitous
    * element contributes intersection rows only for pairs already
    * qualified through a rarer one, so the explosion stays bounded by
    * (candidate pairs x shared elements) and jaccard stays EXACT for
    * every emitted pair. A pair ALL of whose shared elements are
    * capped is never emitted (that is the guard's point). */
  def setJaccardAgainstIndex(newRows: DataFrame,
                             postings: graft.lake.LakeTable,
                             minJaccard: Double = 0.5,
                             maxProbe: Int = 10000,
                             maxDf: Option[Int] = None): DataFrame = {
    requirePostings(postings, elementPostingsProps)
    val batch = newRows
      .select(col("doc_id").as("d_new"), size(col("shs")).as("n1"),
        explode(col("shs")).as("eh"))
      .localCheckpoint(eager = false) // key enumeration + the probe join share it
    val keys = collectAtMost(batch.select(col("eh")).distinct(), maxProbe)
    val probed = keys.fold(postings.read())(
      ks => postings.probeTiered("eh", ks.map(_.get(0)), maxProbe))
      .select(col("eh"), col("doc_id").as("d_idx"), col("n").as("n2"))
    val joined = probed.join(broadcast(batch), Seq("eh"))
    val scoped = maxDf match {
      case Some(m) =>
        // candidates through rare elements only; inter from ALL shared
        // elements of those candidates (exact jaccard, bounded blowup)
        val rare = probed.groupBy(col("eh"))
          .agg(count(lit(1)).as("df")).filter(col("df") <= m)
          .select(col("eh"))
        val candidates = probed
          .join(broadcast(rare), Seq("eh"), "left_semi")
          .join(broadcast(batch.select(col("d_new"), col("eh"))),
            Seq("eh"))
          .select(col("d_new"), col("d_idx")).distinct()
        joined.join(broadcast(candidates), Seq("d_new", "d_idx"),
          "left_semi")
      case None => joined
    }
    scoped
      .groupBy(col("d_new"), col("d_idx"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d_new"), col("d_idx"), col("inter"),
        (col("inter") / (col("n1") + col("n2") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash + LSH banding near-dup candidates with estimated Jaccard
    * (fraction of matching signature positions). bands*rowsPerBand = k.
    * Candidate generation is an equi-join on (band, bandHash) — fully
    * shuffle-parallel; collision probability follows the standard
    * (1-(1-s^r)^b) S-curve. */
  def minHashLsh(docs: DataFrame, k: Int = 64, bands: Int = 16,
                 minEstJaccard: Double = 0.5, shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // signature computed per-row from the shingle-hash array: ZERO
    // shuffles before banding (the grouped MinHashAgg variant serves
    // streaming/SQL aggregation shapes)
    val sig = shingleHashArrays(docs, n = shingleN)
      .select(col("doc_id"),
        graft.functions.HashSig.minhash_sig(col("shs"), k).as("sig"))
    // one native band-hash loop + posexplode (band index, band hash)
    val buckets = minHashBandKeys(sig, bands, col("doc_id"), col("sig"))
    // signatures ride along into the buckets; candidate pairs are
    // generated in-place per bucket (group-by-bucket + combos), then
    // deduped per pair — two shuffles, no self-join of the bucket table
    val combos = buckets.groupBy(col("bk"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(pair_explode(sort_array(col("ds")))
        .as(Seq("d1", "s1", "d2", "s2")))
    combos
      .select(col("d1"), col("d2"),
        (aggregate(zip_with(col("s1"), col("s2"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k).as("est_jaccard"))
      .groupBy(col("d1"), col("d2"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** MinHash-LSH candidates VERIFIED with the true n-gram Jaccard: the
    * standard two-phase near-dup pipeline (bucket -> candidate pairs ->
    * exact verification). Candidate generation is the banded equi-join
    * of [[minHashLsh]]; each surviving pair then gets its exact Jaccard
    * from one array_intersect over the two (row-local, pre-deduped)
    * shingle-hash sets, fetched by two equi-joins on the SMALL candidate
    * set — the full corpus is never self-joined and shingle arrays never
    * ride through the 16x band explosion. Output matches the exact
    * [[ngramJaccard]] (same columns, true values), so it shares its
    * cross-engine oracle — which also turns the oracle check into a
    * recall proof for the LSH phase. */
  def minHashLshTrueJaccard(docs: DataFrame, k: Int = 64, bands: Int = 16,
                            minJaccard: Double = 0.5,
                            shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    trueJaccardFromSigRows(signatureIndexRows(docs, k, shingleN),
      bands, minJaccard)
  }

  /** [[minHashLshTrueJaccard]] over PRE-COMPUTED signature rows
    * (doc_id, shs, sig) — for callers that already hold them (the
    * curation MV's within-batch collapse reuses the batch's one
    * shingling pass). Returns (d1, d2, inter, jaccard), d1 < d2. */
  def trueJaccardFromSigRows(sigRows: DataFrame, bands: Int = 16,
                             minJaccard: Double = 0.5): DataFrame = {
    val sh = sigRows.select(col("doc_id"), col("shs"))
    val buckets = minHashBandKeys(sigRows, bands,
      struct(col("doc_id"), size(col("shs")).as("n")).as("dn"))
    val cands = buckets.groupBy(col("bk"))
      .agg(collect_list(col("dn")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(pair_explode(sort_array(col("ds"))).as(Seq("d1", "n1", "d2", "n2")))
      .distinct() // a pair colliding in several bands verifies once
    val s1 = sh.select(col("doc_id").as("d1"), col("shs").as("shs1"))
    val s2 = sh.select(col("doc_id").as("d2"), col("shs").as("shs2"))
    cands.join(s1, "d1").join(s2, "d2")
      .select(Seq(col("d1"), col("d2")) ++ exactJaccard(col("shs1"),
        col("shs2"), col("n1"), col("n2")): _*)
      .filter(col("jaccard") >= minJaccard)
  }

  /** Driver-side union-find for SMALL pair sets (a micro-batch's
    * within-batch near-dups — near-dup-sparse by nature): returns the
    * doc_ids to DROP, i.e. every clustered doc except its component's
    * minimum. Semantics identical to [[nearDupClusters]] filtered to
    * `doc_id != cluster_id`; use the distributed contraction when the
    * pair count can exceed driver bounds. */
  def nearDupDropIds(pairs: Seq[(Long, Long)]): Seq[Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // root at the smaller id: cluster min wins
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    members.filter(m => find(m) != m)
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise near-dup hits into dedup groups with one canonical
    * survivor. Every doc in a pair gets the minimum doc_id reachable
    * through pairs as its cluster id.
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each
    * round re-parents nodes onto their neighborhood minimum, so chains
    * halve every round and the edge set converges to stars rooted at
    * component minima in O(log diameter) rounds — vs the DIAMETER
    * rounds of one-hop min-label propagation. At 100 TB the round
    * count IS the shuffle count, so this is the difference between ~6
    * and ~60 shuffles on a deep chain. The driver only orchestrates
    * (reads one (count, xor-hash) pair per round); all data stays
    * distributed.
    */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    starClusters(pairs, maxIters)._1

  /** Exposes the round count for convergence tests. */
  private[operators] def starClusters(pairs: DataFrame, maxIters: Int)
      : (DataFrame, Int) = {
    // localCheckpoint (eager), not persist: each round references the
    // previous round's edges several times, so the LOGICAL plan grows
    // ~4x per round — after a handful of rounds the lineage alone blows
    // the driver. Checkpointing materializes the round AND truncates
    // lineage, the standard shape for iterative graph algorithms
    // (production clusters would use reliable checkpoints instead of
    // local ones to survive executor loss).
    // canonical directed edges: u > v (parent pointer toward smaller id)
    var edges = pairs
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var stats = edgeStats(edges)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val ns = edgeStats(next)
      converged = ns == stats // fixpoint: star edges are stable
      edges.unpersist()
      edges = next; stats = ns; rounds += 1
    }
    val labels = edges
      .select(col("u").as("node"), col("v").as("label"))
      .unionByName(edges.select(col("v").as("node"), col("v").as("label")))
      .groupBy("node").agg(min("label").as("label"))
    (labels.select(col("node").as("doc_id"), col("label").as("cluster_id")),
      rounds)
  }

  /** Large-star: every neighbor of u LARGER than u is re-parented onto
    * m = min(u, N(u)). One shuffle (groupBy) + one equi-join. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u").as("c"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, sym("u") === mins("c"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")) // m <= old u < new u
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: u's smaller neighbors (and u itself) are re-parented
    * onto the minimum of that set. Input/output keep u > v. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("m"))
    val vm = e.join(mins, "u").filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v")) // v > m by minimality
    val um = mins.select(col("u"), col("m").as("v"))
    vm.unionByName(um).filter(col("u") =!= col("v")).distinct()
  }

  /** One action per round: (edge count, xor of edge hashes). Equality of
    * both = set fixpoint (edges are distinct + canonical). bit_xor, not
    * sum — ANSI mode makes an overflowing sum throw, and xor of 64-bit
    * hashes is order-independent and collision-safe for this purpose. */
  private def edgeStats(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Portable 64-bit token hash: the first 16 hex chars of md5,
    * assembled from two 32-bit halves (the hi<<32 wraps to the signed
    * two's-complement long, so the BIT PATTERN equals the unsigned
    * parse any other engine does). md5 rather than xxhash64 because
    * SimHash fingerprints persist into index tables other engines may
    * read or audit — a DuckDB/Trino/pandas consumer can recompute the
    * exact sketch from the text, which also makes the q34/q95 oracles
    * checkable. ~2x the hash cost of xxhash64, paid once per distinct
    * token; the sketch pipeline stays codegen'd end to end.
    *
    * Applied as a nested transform — md5 once per token in the inner
    * lambda, the two 32-bit halves folded in the outer — because
    * writing both `substring(md5(t), ...)` halves in ONE lambda body
    * evaluates md5 twice per token: Catalyst's common-subexpression
    * elimination does not reach inside higher-order-function lambdas.
    * Same bit pattern, half the hash work. */
  private def md5Tokens64(arrayExpr: String): String =
    s"transform(transform($arrayExpr, t -> md5(t)), m -> " +
      "(shiftleft(cast(conv(substring(m, 1, 8), 16, 10) as bigint), 32)" +
      " | cast(conv(substring(m, 9, 8), 16, 10) as bigint)))"

  /** 64-bit SimHash per document over distinct word tokens, computed
    * per-row from the token-hash array (shuffle-free; the grouped
    * SimHashAgg variant serves streaming/SQL aggregation shapes). */
  def simHash(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame =
    graft.Tables.widen(docs)
      .select(col(idCol).as("doc_id"), expr(
        md5Tokens64(s"array_remove(array_distinct(split(lower($textCol)" +
          s", ' ')), '')")).as("toks"))
      // A document with no non-empty tokens has no sketch: drop it here
      // so the Spark side agrees with the DuckDB oracle CTE, where such
      // docs vanish at the unnest (no token rows -> no simhash row).
      // Without this filter the aggregator would emit -1 (all 64
      // counters are 0 and each bit is set iff counter >= 0) and the
      // two engines would diverge on whitespace-only fixtures.
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.HashSig.simhash_sig(col("toks")).as("simhash"))

  /** One (doc_id, simhash) row per document — what a SimHash index
    * table persists (bucket by doc_id for the verify probe). */
  def simHashIndexRows(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    simHash(docs, textCol, idCol)

  /** The band keys of a `simhash` column: a generator of its 4 16-bit
    * bands as (band, bv) structs — the one band-key expression of the
    * postings rows, the index probe and the within-batch pairs. */
  private def simHashBandKeys: Column =
    explode(array((0 until 4).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("simhash"), j * 16).bitwiseAND(0xFFFFL).as("bv"))
    }: _*))

  /** Posting rows (pbh, band, bv, doc_id) for a SimHash index — the
    * fourth member of the postings family. 4 x 16-bit bands; same
    * advisory-candidates contract as the MinHash/SRP twins. */
  def simHashPostingsRows(sigRows: DataFrame): DataFrame =
    sigRows.select(col("doc_id"), simHashBandKeys.as("bk"))
      .select(xxhash64(col("bk.band"), col("bk.bv")).as("pbh"),
        col("bk.band").as("band"), col("bk.bv").as("bv"), col("doc_id"))

  /** Schema of a SimHash band-postings table (pbh, band, bv, doc_id). */
  def simHashPostingsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("pbh", LongType),
      StructField("band", IntegerType), StructField("bv", LongType),
      StructField("doc_id", LongType)))
  }

  /** Incremental SimHash near-dup of a new batch against a PERSISTED
    * (doc_id, simhash) index — completing the incremental family for
    * all four modalities (exact fp, MinHash text, embeddings, SimHash).
    * Pigeonhole recall is EXACT: hamming <= 3 over a 64-bit sketch
    * forces at least one of the 4 16-bit bands to match, so the banded
    * candidate join finds every qualifying cross-slice pair; the
    * hamming verify reads only candidate docs' sketches through the
    * doc_id probe. Same 100 TB shape as the text twin: postings-probed
    * candidate generation is O(batch) per batch, the index never
    * shuffles. Returns (d_new, d_idx, hamming). */
  def simHashAgainstIndex(batch: DataFrame, index: graft.lake.LakeTable,
                          maxHamming: Int = 3, maxProbe: Int = 10000,
                          postings: Option[graft.lake.LakeTable] = None,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame =
    sketchesAgainstIndex(simHash(batch, textCol, idCol), index,
      maxHamming, maxProbe, postings)

  /** [[simHashAgainstIndex]] over PRE-COMPUTED batch sketches
    * (doc_id, simhash) — the sketch-agnostic core: any 64-bit
    * locality-sensitive signature with the 4x16-bit band layout probes
    * the same way (text-token SimHash, the perceptual frame-hash
    * sketch of [[MultimodalOps.perceptualSketch]], ...). The index and
    * postings tables only ever see the sketch column, so one banded
    * machine serves every modality that can produce one. */
  def sketchesAgainstIndex(batchSketches: DataFrame,
                           index: graft.lake.LakeTable,
                           maxHamming: Int = 3, maxProbe: Int = 10000,
                           postings: Option[graft.lake.LakeTable] = None)
      : DataFrame = {
    // the 4-band pigeonhole only guarantees a shared band for
    // distances that can't place one differing bit in every band
    require(maxHamming <= 3,
      s"banded candidate generation is recall-exact only for " +
        s"maxHamming <= 3 (4 bands), got $maxHamming")
    bandedAgainstIndex(batchSketches.localCheckpoint(eager = false), index,
      postings, simHashPostingsProps,
      (df, side) => df.select(col("doc_id").as(side), simHashBandKeys.as("bk")),
      "bv", "doc_id", "doc_id", "simhash", ("d_new", "d_idx"), maxProbe)(
      (h1, h2) => Seq(bit_count(h1.bitwiseXOR(h2)).as("hamming")),
      col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, blocked
    * by 16-bit bands: distance <= 3 guarantees at least one of the 4 bands
    * matches exactly (pigeonhole), so candidates come from an equi-join. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    sketchPairs(simHash(docs), maxHamming)

  /** [[simHashPairs]] over pre-computed (doc_id, simhash) sketches —
    * the banded all-pairs core shared with the perceptual-hash
    * modality (see [[sketchesAgainstIndex]] for the factoring
    * rationale). */
  def sketchPairs(sh: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"banded candidate generation is recall-exact only for " +
        s"maxHamming <= 3 (4 bands), got $maxHamming")
    val buckets = sh.select(col("doc_id"), col("simhash"),
      simHashBandKeys.as("bk"))
    buckets.groupBy(col("bk"))
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(pair_explode(sort_array(col("ds")))
        .as(Seq("d1", "h1", "d2", "h2")))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("d1"), col("d2"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Exact repeated-substring spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * recipe): every n-token window whose token sequence occurs more
    * than once in the corpus — any document, any position, including
    * within-document repeats — marks its span duplicated; per
    * document, overlapping/adjacent duplicated windows merge into
    * MAXIMAL spans (the paper removes these spans from training
    * text). Returns (doc_id, n_spans, dup_tokens) for documents
    * holding at least one duplicated span — all integers, so the
    * result is bit-deterministic in any engine.
    *
    * The reference algorithm builds a corpus-wide suffix array; the
    * distributed shape here reaches the same n-grained answer with
    * lake-native primitives: window hashes (64-bit md5 halves —
    * portable bit pattern, collision odds ~W^2/2^64 for W windows)
    * are counted by a hash-keyed aggregation with map-side combine,
    * repeated hashes semi-join back (hash-keyed, no skew: uniform
    * md5 keys), and span merging is a per-DOCUMENT window (cumulative
    * max of span ends), so no stage ever sees more than one
    * document's positions in one partition chain. Three shuffles
    * total, all key-uniform; never a corpus-wide sort. At 100 TB the
    * window-hash explode is the cost (tokens x n bytes hashed); a
    * rolling-hash variant cuts that to O(tokens) but gives up the
    * cross-engine md5 oracle, so this operator keeps the portable
    * form and documents the swap point. */
  def repeatedSpans(docs: DataFrame, n: Int = 8,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the lambda emits the md5 STRING once per window; the two 32-bit
    // halves fold into the 64-bit key OUTSIDE the lambda. Writing the
    // fold inside the lambda (the original form) evaluated
    // md5(array_join(slice(...))) twice per window — Catalyst CSE does
    // not reach inside higher-order-function lambdas — doubling the
    // whole hash kernel. The window string must stay INSIDE the
    // lambda either way: exploding raw window strings (or positions
    // with `ws` kept for a later projection) would copy each
    // document's token array once per window into the generate
    // output, O(tokens^2) materialized bytes. Same bit pattern, same
    // oracle.
    val positioned = docs
      .select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $n), " +
          s"i -> md5(array_join(slice(ws, i + 1, $n), ' ')))")))
      .select(col("doc_id"), col("pos"),
        expr("(shiftleft(cast(conv(substring(col, 1, 8), 16, 10) " +
          "as bigint), 32) | " +
          "cast(conv(substring(col, 9, 8), 16, 10) as bigint))")
          .as("sh"))
    val dup = positioned.groupBy(col("sh"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("sh"))
    val marked = positioned.join(dup, "sh")
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + n)
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    marked
      // a window starts a NEW span iff it clears every earlier
      // window's end (cumulative-max interval union; adjacent spans
      // — pos == prevEnd — merge, their tokens are contiguous)
      .withColumn("ns",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("ns")).over(byPos))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("dup_tokens"))
  }
}
