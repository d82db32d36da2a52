package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.lake.LakeTable

/** Materialized-view manager: the Spark-native replacement for the
  * reference's whole ingestion orchestrator (ingestor.go:58-203 in
  * /root/reference — reader goroutines, channel pipeline, committer).
  *
  * Each MV is one StreamingQuery: source -> transform -> foreachBatch ->
  * LakeTable.appendExactlyOnce. Compared to the reference this upgrades
  * (a) at-least-once + silent drops to exactly-once per micro-batch
  * (checkpoint offsets + idempotent batchId commit), (b) the unwired
  * batching/metrics config to real trigger intervals and a
  * StreamingQueryListener, (c) errors-logged-and-dropped to fail-fast
  * queries restartable from checkpoint.
  */
class MVManager(spark: SparkSession, checkpointRoot: String,
                metricsConfig: graft.MetricsConfig = graft.MetricsConfig()) {

  private val queries = TrieMap.empty[String, StreamingQuery]
  val metrics = new MVMetricsListener(metricsConfig.collectionPath)
  // lazily registered on first query, removed on stopAll: session-level
  // listeners outlive the manager otherwise, so a long-lived driver
  // creating many managers would accumulate dead listeners
  private val listenerOn = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def ensureListener(): Unit =
    if (metricsConfig.enabled && listenerOn.compareAndSet(false, true))
      spark.streams.addListener(metrics)

  /** Start an MV that continuously appends micro-batches into a
    * LakeTable. `transformed` must be a streaming DataFrame.
    *
    * The exactly-once writer identity is the query's checkpoint-stored
    * id (stable across restarts from the same checkpoint; fresh when the
    * checkpoint is wiped — so a restarted-from-scratch query whose batch
    * ids reset to 0 starts a NEW idempotence sequence instead of having
    * every batch silently dropped against the old high-water mark, and
    * two queries feeding one table never suppress each other). The id is
    * only known once start() returns, so the sink parks on a latch for
    * the first micro-batch — a one-time, sub-ms handshake. */
  def startToLake(name: String, transformed: DataFrame, table: LakeTable,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startWriterSink(name, transformed, trigger) { (wid, batch, id) =>
      table.appendExactlyOnce(batch, wid, id)
      // per-batch commits accumulate small files; the table's own
      // compaction policy (if declared) bounds the live-file count —
      // append-vs-replace races with concurrent writers are safe
      // (replace commits name exactly the files they supersede)
      table.autoCompactIfNeeded(); ()
    }

  /** Continuous CROSS-ENGINE TABLE MIRROR MV — the q186 CDC-apply
    * loop as a first-class operator: consume a table's row-level
    * changelog (`sourceChanges` = `spark.readStream.table(
    * "cat.ns.t.changes")`, or any stream of (visible columns,
    * `_change_type`, `_commit_version`) events) and maintain `mirror`
    * as an exact replica across a session/engine boundary. Each batch
    * applies its commits in `_commit_version` order — the version's
    * delete events land as ONE O(keys) equality-delete commit on
    * `keyCols`, then its insert events as ONE append — and EVERY
    * commit is idempotent per (writer, SOURCE VERSION): the guard
    * value is the source version itself (monotone across batches), so
    * a replayed foreachBatch (crash after the offset write, restart
    * before the commit log advanced — or a crash BETWEEN a version's
    * delete and insert halves) re-applies as a pure no-op up to the
    * exact commit where it died, then continues. Requires `keyCols`
    * to be a row identity of the source (any CDC apply does); the
    * mirror must start empty on a fresh checkpoint (a fresh query id
    * starts a fresh idempotence sequence).
    *
    * This is the reference's premise — continuously-maintained
    * downstream state — expressed ACROSS an engine boundary: the
    * upstream is any table in the catalog, the downstream any lake
    * table, and GDPR deletes propagate as O(keys) equality deletes
    * end to end. */
  def startTableMirror(name: String, sourceChanges: DataFrame,
                       mirror: LakeTable, keyCols: Seq[String],
                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    // CDF typing folds back onto the apply algebra: update_preimage
    // IS a delete of the old row version, update_postimage an insert
    // of the new one (the types exist for consumers that care WHY)
    val delTypes = Seq("delete",
      graft.sources.GraftLakeChangesMicroBatchStream.UpdatePreimage)
    val insTypes = Seq("insert",
      graft.sources.GraftLakeChangesMicroBatchStream.UpdatePostimage)
    startWriterSink(name, sourceChanges, trigger) { (wid, batch, _) =>
      // one metadata pass decides which (version, op) slices exist
      val slices = batch
        .groupBy("_commit_version", "_change_type").count().collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      slices.map(_._1).toSeq.sorted.foreach { v =>
        if (delTypes.exists(t => slices((v, t))))
          mirror.deleteWhereEqualExactlyOnce(
            batch.filter(col("_commit_version") === v &&
              col("_change_type").isin(delTypes: _*))
              .select(keyCols.map(col): _*),
            keyCols, s"$wid-del", v)
        if (insTypes.exists(t => slices((v, t))))
          mirror.appendExactlyOnce(
            batch.filter(col("_commit_version") === v &&
              col("_change_type").isin(insTypes: _*))
              .drop("_change_type", "_commit_version",
                "_commit_timestamp"),
            s"$wid-ins", v)
      }
      mirror.autoCompactIfNeeded(); ()
    }
  }

  /** Shared scaffold for every exactly-once foreachBatch MV: the
    * writerId = query.id handshake (the id is only known once start()
    * returns, so the sink parks on a latch for the first micro-batch
    * — a one-time, sub-ms wait), checkpoint/trigger wiring, and
    * registration. The six MV classes differ ONLY in their per-batch
    * body; one definition keeps the exactly-once startup race fix in
    * one place. */
  private def startWriterSink(name: String, stream: DataFrame,
                              trigger: Trigger,
                              outputMode: Option[String] = None)
      (body: (String, Dataset[Row], Long) => Unit): StreamingQuery = {
    ensureListener()
    val writerId = new java.util.concurrent.atomic.AtomicReference[String]()
    val started = new java.util.concurrent.CountDownLatch(1)
    val sink: (Dataset[Row], Long) => Unit = (batch, id) => {
      started.await()
      body(writerId.get(), batch, id)
    }
    var w = stream.writeStream.queryName(name)
    outputMode.foreach(m => w = w.outputMode(m))
    val q = w.option("checkpointLocation", s"$checkpointRoot/$name")
      .foreachBatch(sink)
      .trigger(trigger)
      .start()
    writerId.set(q.id.toString)
    started.countDown()
    queries.put(name, q)
    q
  }

  /** Commit-log variant of [[startWriterSink]]: the stream is the
    * source table's version log, and the body receives the batch's
    * version range as changesBetween bounds (vMin - 1, vMax]; empty
    * log batches are skipped. */
  private def startCommitLogSink(name: String, source: LakeTable,
                                 trigger: Trigger)
      (body: (String, Long, Int, Int) => Unit): StreamingQuery =
    startWriterSink(name,
      spark.readStream.format("graft-lake-log").load(source.root),
      trigger) { (wid, logBatch, id) =>
      val versions = logBatch.select("version").collect().map(_.getInt(0))
      if (versions.nonEmpty) body(wid, id, versions.min - 1, versions.max)
    }

  /** Continuous incremental-curation MV — the reference's reason to
    * exist (continuous ingestion, ingestor.go:58-102) running our
    * flagship LLM operator: a restartable streaming pipeline that
    * watches `source`'s commit log, and for every newly committed
    * version range computes the batch's FRESH documents against the
    * persisted fingerprint `index` (zero shuffles on the index side —
    * see [[graft.operators.DedupOps.freshAgainstIndex]]), appends the
    * accepted document rows to `out`, and advances the corpus frontier
    * by committing the fresh fingerprints back to `index`.
    *
    * Exactly-once across crashes and restarts, with NO cross-table
    * transaction needed, by commit ORDER (see [[MVManager.curateStep]]):
    * both appends are idempotent per (writerId, batchId), and `out` is
    * committed BEFORE `index` — so a replay after any crash point
    * recomputes the same fresh set (the index only advances in the
    * final step) and each commit lands exactly once. */
  def startCurationFromLake(name: String, source: LakeTable,
                            index: LakeTable, out: LakeTable,
                            textCol: String = "text",
                            idCol: String = "doc_id",
                            nearDupMinJaccard: Option[Double] = None,
                            trigger: Trigger = Trigger.AvailableNow(),
                            postings: Option[LakeTable] = None,
                            wap: Option[MVManager.WapAudit] = None)
      : StreamingQuery =
    startCommitLogSink(name, source, trigger) { (wid, id, lo, hi) =>
      // drop the source's derived bucket-layout column: it is the
      // SOURCE's routing state, not document data, and must not leak
      // into the curated table (whose own layout derives its own)
      MVManager.curateText(source.changesBetween(lo, hi)
          .drop(LakeTable.BucketCol), index, out, wid, id, nearDupMinJaccard,
        textCol, idCol, postings, wap)
    }

  /** DELETE-AWARE variant of [[startCurationFromLake]] — the
    * q162/q163 CDC pattern applied to the curation loop itself, which
    * closes the last GDPR gap: under the insert-only loop a forget on
    * the RAW source leaves the forgotten document (a) SERVABLE from
    * the curated output forever, (b) its fingerprint/shingle-set/
    * MinHash signature — derived content of a forgotten document —
    * persisted in the dedup index and postings, and (c) any
    * legitimate LATER resubmission of the same content rejected as a
    * duplicate of a document that no longer exists.
    *
    * The loop walks the batch's version range one commit at a time.
    * Pure appends (the common step, decided by
    * [[graft.lake.LakeTable.addedEntriesBetween]] — one metadata read
    * per version, no job) curate exactly like the insert-only loop. A
    * step that removed rows consumes the row-level changelog (for an equality
    * delete: a key semi-join over covered files, zero diff shuffles)
    * and propagates the removed ids as equality deletes — O(keys),
    * zero files rewritten — to the curated OUT table (stops serving),
    * the signature INDEX (frees the fingerprint frontier, drops the
    * derived content), and the POSTINGS (stops generating LSH
    * candidates); the step's insert side then curates normally, so an
    * upsert on the source converges (removal precedes insertion).
    *
    * Exactly-once at VERSION granularity, batchId = source version:
    * the delete half runs on its own writer key (`#del`) per table,
    * so a crash at ANY point replays the version and every
    * already-applied commit no-ops on its guard — the same
    * no-cross-table-transaction argument as [[curateStep]], now
    * covering four tables. Note the within-batch collapse scope is
    * ONE SOURCE COMMIT here (vs the whole trigger range in the
    * insert-only loop): two copies arriving in different source
    * commits dedupe via the index frontier, same result. */
  def startCurationCdc(name: String, source: LakeTable,
                       index: LakeTable, out: LakeTable,
                       textCol: String = "text",
                       idCol: String = "doc_id",
                       nearDupMinJaccard: Option[Double] = None,
                       trigger: Trigger = Trigger.AvailableNow(),
                       postings: Option[LakeTable] = None,
                       wap: Option[MVManager.WapAudit] = None)
      : StreamingQuery =
    startVersionWalk(name, source, trigger)(
        forgetCurated(idCol, "doc_id", index, out, postings)) {
      (wid, docs, v) => MVManager.curateText(docs, index, out, wid, v,
        nearDupMinJaccard, textCol, idCol, postings, wap)
    }

  /** The delete-aware loops' sink: the batch's source versions are
    * walked one commit at a time, from one
    * [[graft.lake.LakeTable.addedEntriesBetween]] pass (one metadata
    * read per version, no job). A pure append hands its rows to `step`;
    * a commit that removed rows first hands `forget` its changelog's
    * removed rows, then hands `step` its inserted rows, so an upsert
    * converges (removal precedes insertion). A compaction removes no
    * row and adds none. Both get (writer id, rows, source version). */
  private def startVersionWalk(name: String, source: LakeTable,
                               trigger: Trigger)(
      forget: (String, DataFrame, Long) => Unit)(
      step: (String, DataFrame, Long) => Unit): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    startCommitLogSink(name, source, trigger) { (wid, _, lo, hi) =>
      for ((v, _, removes) <- source.addedEntriesBetween(lo, hi)) {
        val rows =
          if (removes) {
            val ch = source.readChangelog(v - 1, v)
            forget(wid, ch.filter(col("_change_type") === "delete"), v)
            ch.filter(col("_change_type") === "insert").drop("_change_type")
          } else source.changesBetween(v - 1, v)
        step(wid, rows.drop(LakeTable.BucketCol), v)
      }
    }
  }

  /** The forget half of the delete-aware curation loops: the removed
    * ids (`idCol` in the source, `indexIdCol` in the index and
    * postings) leave out, index and postings
    * ([[MVManager.propagateForget]]). */
  private def forgetCurated(idCol: String, indexIdCol: String,
                            index: LakeTable, out: LakeTable,
                            postings: Option[LakeTable])
      : (String, DataFrame, Long) => Unit = { (wid, removed, v) =>
    import org.apache.spark.sql.functions.col
    MVManager.propagateForget(removed.select(col(idCol)).distinct(), idCol,
      indexIdCol, out, index, postings, wid, v)
  }

  /** Delete-aware twin of [[startEmbeddingCurationFromLake]] — the
    * [[startCurationCdc]] contract on the dense axis: a forgotten
    * source vector leaves the curated output, the vector index (so a
    * later legitimate re-embedding of the same content is
    * re-admitted), and the SRP postings, all as O(keys) equality
    * deletes at version granularity. */
  def startEmbeddingCurationCdc(name: String, source: LakeTable,
                                index: LakeTable, out: LakeTable,
                                threshold: Double,
                                bandBits: Int = graft.operators
                                  .SimilarityOps.DefaultIndexBandBits,
                                bands: Int = graft.operators
                                  .SimilarityOps.DefaultIndexBands,
                                idCol: String = "vec_id",
                                embCol: String = "embedding",
                                trigger: Trigger = Trigger.AvailableNow(),
                                postings: Option[LakeTable] = None,
                                wap: Option[MVManager.WapAudit] = None)
      : StreamingQuery =
    startVersionWalk(name, source, trigger)(
        forgetCurated(idCol, "vec_id", index, out, postings)) {
      (wid, vecs, v) => MVManager.curateStepEmbedding(vecs, index, out,
        wid, v, threshold, bandBits, bands, idCol, embCol, postings, wap)
    }

  /** Continuous PERCEPTUAL curation MV — the binary-axis member of the
    * curation-loop family (exact fp, MinHash text, SRP embedding, and
    * now frame-hash perceptual): watch `source`'s commit log of
    * (id, payload) media rows, sketch each batch once
    * ([[graft.operators.MultimodalOps.perceptualSketch]] — 64-byte
    * frames, md5 frame hashes, SimHash bit-vote), collapse within-batch
    * near-dup clusters to their min id, drop batch survivors within
    * `maxHamming` of the persisted sketch `index` (banded candidates
    * probed through simhash-layout `postings` — O(batch) per batch,
    * zero index-side shuffles), append accepted media to `out`, and
    * advance the sketch frontier. There is no separate exact frontier:
    * an exact copy of an accepted payload sketches identically
    * (hamming 0) and always band-collides with its indexed original.
    *
    * DELETE-AWARE from birth (this loop postdates the q164 CDC
    * pattern, so it never had an insert-only form): versions are
    * walked one at a time, a row-removing commit propagates its
    * forgotten ids as O(keys) equality deletes to out/index/postings
    * BEFORE its insert side curates ([[MVManager.propagateForget]]),
    * so a GDPR forget un-serves the media, drops its sketch — derived
    * content — and frees the frontier for a legitimate re-upload.
    * Commit order and crash analysis are [[MVManager.curateStepNearDup]]'s
    * (out -> postings -> index, postings advisory, index last;
    * exactly-once at version granularity). */
  def startPerceptualCurationFromLake(name: String, source: LakeTable,
                                      index: LakeTable, out: LakeTable,
                                      maxHamming: Int = 3,
                                      idCol: String = "doc_id",
                                      payloadCol: String = "payload",
                                      trigger: Trigger =
                                        Trigger.AvailableNow(),
                                      postings: Option[LakeTable] = None,
                                      wap: Option[MVManager.WapAudit] =
                                        None)
      : StreamingQuery =
    startVersionWalk(name, source, trigger)(
        forgetCurated(idCol, "doc_id", index, out, postings)) {
      (wid, media, v) => MVManager.curateStepPerceptual(media, index, out,
        wid, v, maxHamming, idCol, payloadCol, postings, wap)
    }

  /** Continuous LEXICAL-INDEX maintenance MV — the commit-log loop of
    * [[startCurationFromLake]] applied to the persisted BM25 index
    * (TextOps.buildLexicalIndex): every newly committed batch of
    * documents is tokenized and its postings/docstats rows appended
    * exactly-once per (queryId, batchId), so a crawl loop grows a
    * SERVING retrieval index continuously with no rebuilds. Correct
    * because every query-time statistic (df, N, avgdl) derives from
    * stored rows — appends never re-weight existing postings. The
    * two table commits share one idempotence key: a crash between
    * them replays the batch, the postings commit no-ops, the
    * docstats commit applies, and the pair converges (between the
    * two commits a concurrent query sees a transiently conservative
    * N/avgdl — bounded by one batch, never wrong postings). */
  def startLexicalIndexFromLake(name: String, source: LakeTable,
                                postings: LakeTable,
                                docstats: LakeTable,
                                textCol: String = "text",
                                idCol: String = "doc_id",
                                trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    startCommitLogSink(name, source, trigger) { (wid, id, lo, hi) =>
      val docs = source.changesBetween(lo, hi)
        .drop(LakeTable.BucketCol)
        .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      graft.operators.TextOps.appendToLexicalIndex(postings, docstats,
        docs, wid, id)
    }
  }

  /** CDC variant of [[startLexicalIndexFromLake]]: the serving index
    * MIRRORS source deletes. The insert-only commit-log loop grows
    * the index but structurally cannot shrink it — a GDPR forget on
    * the source would leave the forgotten documents SERVABLE from
    * postings forever. This loop walks the batch's version range
    * one commit at a time: pure appends (the overwhelmingly common
    * step, decided by [[graft.lake.LakeTable.addedEntriesBetween]] —
    * one metadata read per version, no job) index exactly like the
    * insert-only loop; a step that removed rows consumes the row-level changelog
    * (`readChangelog(v-1, v)` — for an equality delete that is a key
    * semi-join over the covered files, no diff shuffle) and
    * propagates the deleted doc ids as equality deletes on BOTH
    * index tables (O(|keys|), zero index files rewritten — BM25's
    * df/N/avgdl need no fixup, they derive from stored rows).
    *
    * Exactly-once at VERSION granularity: batchId = source version,
    * monotone per writer key, with the delete half on its own writer
    * key (`#del`) — a crash anywhere in the range replays the
    * versions, and every already-applied step no-ops on its guard.
    * Removal precedes insertion within a step, so an upsert commit
    * (delete+insert of one doc) converges to exactly the new
    * postings. */
  def startLexicalIndexCdc(name: String, source: LakeTable,
                           postings: LakeTable, docstats: LakeTable,
                           textCol: String = "text",
                           idCol: String = "doc_id",
                           trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    startVersionWalk(name, source, trigger) { (wid, removed, v) =>
      graft.operators.TextOps.removeFromLexicalIndex(postings, docstats,
        removed.select(col(idCol).as("doc_id")), s"$wid#del", v)
    } { (wid, docs, v) =>
      graft.operators.TextOps.appendToLexicalIndex(postings, docstats,
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        wid, v)
    }
  }

  /** CDC variant of [[startVectorIndexFromLake]] — the dense-axis
    * twin of [[startLexicalIndexCdc]]: deleted source vectors leave
    * the serving inverted lists via an equality delete on the id
    * (partition-pruned serving applies it as a key anti-join), and
    * every surviving step indexes exactly as the insert-only loop
    * does. Same version-granular exactly-once contract. */
  def startVectorIndexCdc(name: String, source: LakeTable,
                          index: LakeTable,
                          model: graft.operators.IvfIndex.Model,
                          idCol: String = "vec_id",
                          embCol: String = "embedding",
                          trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    startVersionWalk(name, source, trigger) { (wid, removed, v) =>
      graft.operators.IvfIndex.removeFromIndex(index,
        removed.select(col(idCol)), s"$wid#del", v, idCol)
    } { (wid, vecs, v) =>
      graft.operators.IvfIndex.appendToIndex(index,
        vecs.select(col(idCol), col(embCol)), model, wid, v, embCol)
    }
  }

  /** Continuous VECTOR-INDEX maintenance MV — the commit-log loop of
    * [[startLexicalIndexFromLake]] on the dense axis: every newly
    * committed batch of (id, embedding) rows is assigned to its
    * nearest FROZEN centroid (broadcast model, row-local — the
    * standard serving-time IVF contract; retrain offline when drift
    * matters) and appended into the `_cluster`-partitioned inverted
    * lists exactly-once per (queryId, batchId) via
    * `IvfIndex.appendToIndex`, so a crawl loop grows a SERVING ANN
    * index continuously with no rebuilds and previously-computed
    * probe sets stay valid. Partition-pruned serving
    * (`searchPersisted`) sees each batch as soon as its commit
    * lands; the appendToIndex auto-compaction gate (sized to the
    * cluster count) bounds per-list file counts under continuous
    * growth. */
  def startVectorIndexFromLake(name: String, source: LakeTable,
                               index: LakeTable,
                               model: graft.operators.IvfIndex.Model,
                               idCol: String = "vec_id",
                               embCol: String = "embedding",
                               trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    startCommitLogSink(name, source, trigger) { (wid, id, lo, hi) =>
      val vecs = source.changesBetween(lo, hi)
        .drop(LakeTable.BucketCol)
        .select(col(idCol), col(embCol))
      graft.operators.IvfIndex.appendToIndex(index, vecs, model,
        wid, id, embCol)
      ()
    }
  }

  /** Continuous EMBEDDING curation MV — the commit-log-driven loop of
    * [[startCurationFromLake]] running
    * [[MVManager.curateStepEmbedding]] per version range: every newly
    * committed batch of (id, embedding) rows is collapsed within-batch
    * and deduped against the persisted vector index at `threshold`
    * cosine, exactly-once across crashes and restarts. */
  def startEmbeddingCurationFromLake(name: String, source: LakeTable,
                                     index: LakeTable, out: LakeTable,
                                     threshold: Double,
                                     bandBits: Int = graft.operators
                                       .SimilarityOps.DefaultIndexBandBits,
                                     bands: Int = graft.operators
                                       .SimilarityOps.DefaultIndexBands,
                                     idCol: String = "vec_id",
                                     embCol: String = "embedding",
                                     trigger: Trigger =
                                       Trigger.AvailableNow(),
                                     postings: Option[LakeTable] = None,
                                     wap: Option[MVManager.WapAudit] =
                                       None)
      : StreamingQuery =
    startCommitLogSink(name, source, trigger) { (wid, id, lo, hi) =>
      val vecs = source.changesBetween(lo, hi).drop(LakeTable.BucketCol)
      MVManager.curateStepEmbedding(vecs, index, out, wid,
        id, threshold, bandBits, bands, idCol, embCol, postings, wap)
    }

  /** Incrementally-MAINTAINED aggregate MV — the reference system's
    * upstream half (RisingWave keeps MV aggregates current per key;
    * the reference only ships their output). `transformed` must be a
    * streaming AGGREGATE in update output mode: each micro-batch emits
    * only the keys whose aggregate changed, and those rows MERGE into
    * the lake table by `keyCols` (copy-on-write upsert touching only
    * the files holding updated keys). The table always holds the
    * current aggregate per key — readers get the answer with no
    * read-time re-aggregation, unlike append MVs. Replayed batches
    * are suppressed by the (writerId, batchId) guard — for
    * deterministic aggregates re-upserting the same deltas would be
    * idempotent anyway, but the guard also covers non-deterministic
    * aggregates (first(), sampled values), whose replay would
    * otherwise merge different rows the second time. */
  def startAggregateToLake(name: String, transformed: DataFrame,
                           table: LakeTable, keyCols: Seq[String],
                           trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    startWriterSink(name, transformed, trigger,
      outputMode = Some("update")) { (wid, batch, id) =>
      if (!batch.isEmpty) {
        table.upsertExactlyOnce(batch, keyCols, wid, id); ()
      }
    }

  /** MV whose micro-batches are exported as Arrow IPC directories —
    * the reference's alternate sink format (batch_writer.go:200-222),
    * upgraded to exactly-once: each batch writes to a staging dir and
    * atomically renames to `dir/batch-<id>`; a replayed batch finds the
    * target already present and skips, so retries never duplicate. */
  def startToArrow(name: String, transformed: DataFrame, dir: String,
                   trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery = {
    ensureListener()
    import java.nio.file.Paths
    val sink: (Dataset[Row], Long) => Unit = (batch, id) => {
      val target = Paths.get(dir, s"batch-$id")
      if (!java.nio.file.Files.exists(target)) {
        val staging = Paths.get(dir, s".staging-batch-$id-${java.util.UUID.randomUUID()}")
        graft.sources.ArrowSink.write(batch, staging.toString)
        MVManager.publishStaging(staging, target)
      }
    }
    val q = transformed.writeStream
      .queryName(name)
      .option("checkpointLocation", s"$checkpointRoot/$name")
      .foreachBatch(sink)
      .trigger(trigger)
      .start()
    queries.put(name, q)
    q
  }

  def get(name: String): Option[StreamingQuery] = queries.get(name)
  def awaitAll(): Unit = queries.values.foreach(_.awaitTermination())
  def stopAll(): Unit = {
    queries.values.foreach(_.stop())
    if (listenerOn.compareAndSet(true, false))
      spark.streams.removeListener(metrics)
  }
}

object MVManager {
  import java.nio.file.{Files, Path, StandardCopyOption}

  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.MVManager")

  /** A write-audit-publish gate for curation commits: every batch of
    * accepted rows is STAGED on a WAP branch of the out table (main
    * consumers keep reading the pinned pre-batch version), audited by
    * `failIf` — a SQL predicate over the staged rows; any match is a
    * violation — and then atomically published, or, on violation,
    * abandoned and parked row-for-row in `quarantine` for human
    * re-drive. The audit scope is the STAGED DELTA (O(batch) per
    * batch, the Iceberg WAP pattern); table-level invariants can be
    * audited with a custom gate over readBranch at the caller's cost. */
  final case class WapAudit(failIf: String, quarantine: LakeTable)

  /** Commit `rows` to `out` under (writerId, batchId), optionally
    * through a [[WapAudit]] stage-audit-publish cycle.
    *
    * Crash-replay analysis on top of [[curateStep]]'s. The branch
    * name is derived from (writerId, batchId), so a replay finds at
    * most ITS OWN crashed branch and RESUMES it — never abandons it:
    * the batchId high-water mark deliberately SURVIVES a rollback
    * (a replayed delete must not re-commit), so abandoning a crashed
    * pass-case attempt would make the replayed append no-op into an
    * empty branch and lose the batch. Resuming is always safe: the
    * staged commit either landed (append no-ops, the staged rows are
    * still the branch head) or did not (append lands now). Crash
    * after publish: the replay stages an empty branch (append no-ops
    * on its guard), the deterministic audit passes again, publish
    * releases the no-op pin. Crash after an audit-fail abandon but
    * before the quarantine commit: the replay's append no-ops (guard
    * survived the rollback), the audit — which runs over the
    * RECOMPUTED rows, not the staged delta — fails again, the no-op
    * abandon releases the pin, and the quarantine append lands under
    * its own key. A deterministic audit therefore converges to
    * exactly one of: published once, or quarantined once — never
    * both, never neither. */
  private[graft] def wapAppend(out: LakeTable,
                               rows: org.apache.spark.sql.DataFrame,
                               writerId: String, batchId: Long,
                               wap: Option[WapAudit]): Unit = wap match {
    case None =>
      // a leftover WAP branch (a crashed audited loop, restarted with
      // the audit removed) would make this commit INVISIBLE staged
      // data: main stays pinned, and a later abandon would discard the
      // batch. Refuse loudly — the operator resolves the branch
      // (publishBranch keeps the staged rows, abandonBranch discards)
      // and restarts; committing into it silently is never right.
      out.activeBranch.foreach { case (br, _) =>
        throw new IllegalStateException(
          s"table at ${out.root} has an active WAP branch '$br' but " +
            "this loop runs unaudited — publish or abandon the branch " +
            "before restarting (a commit now would stage invisibly " +
            "and be lost on abandon)")
      }
      out.appendExactlyOnce(rows, writerId, batchId)
    case Some(a) =>
      import org.apache.spark.sql.functions.expr
      val br = s"wap-$writerId-$batchId"
      // resume a crashed attempt of THIS batch; a different branch
      // name would mean a foreign writer — createBranch throws loudly
      if (!out.activeBranch.exists(_._1 == br)) out.createBranch(br)
      out.appendExactlyOnce(rows, writerId, batchId)
      val violations = rows.filter(expr(a.failIf)).count()
      if (violations == 0L) { out.publishBranch(br); () }
      else {
        out.abandonBranch(br)
        a.quarantine.appendExactlyOnce(rows, s"$writerId#quarantine",
          batchId)
        log.warn(s"curation batch $batchId quarantined: $violations " +
          s"row(s) match audit predicate '${a.failIf}' — staged " +
          s"branch abandoned, rows parked in ${a.quarantine.root}")
      }
  }

  /** Propagate one source commit's forgotten ids to a curation loop's
    * derived tables as O(keys) equality deletes, exactly-once per
    * (writer `#del` key, source version): curated OUT stops serving
    * the documents, the signature INDEX frees the dedup frontier (and
    * drops derived content — fingerprints/shingle sets/signatures ARE
    * data about the forgotten text), POSTINGS stop yielding LSH
    * candidates. Order out -> index -> postings: serving exposure
    * ends first; each commit is idempotence-guarded per table, so a
    * crash between any two replays the version and the applied ones
    * no-op. The ids frame is localCheckpointed — three commits must
    * delete the same key set, and the changelog scan runs once. */
  private[streaming] def propagateForget(
      ids: org.apache.spark.sql.DataFrame, idCol: String,
      indexIdCol: String, out: LakeTable, index: LakeTable,
      postings: Option[LakeTable], writerId: String, v: Long): Unit = {
    import org.apache.spark.sql.functions.col
    val keys = ids.localCheckpoint(eager = false)
    out.deleteWhereEqualExactlyOnce(keys, Seq(idCol), s"$writerId#del", v)
    val idxKeys = keys.select(col(idCol).as(indexIdCol))
    index.deleteWhereEqualExactlyOnce(idxKeys, Seq(indexIdCol),
      s"$writerId#del", v)
    postings.foreach(_.deleteWhereEqualExactlyOnce(idxKeys,
      Seq(indexIdCol), s"$writerId#del", v))
  }

  /** The text curation step a loop runs: near-dup at `nearDupMinJaccard`
    * when given ([[curateStepNearDup]]), exact otherwise ([[curateStep]]). */
  private def curateText(docs: org.apache.spark.sql.DataFrame,
                         index: LakeTable, out: LakeTable, writerId: String,
                         batchId: Long, nearDupMinJaccard: Option[Double],
                         textCol: String, idCol: String,
                         postings: Option[LakeTable],
                         wap: Option[WapAudit]): Unit =
    nearDupMinJaccard match {
      case Some(j) => curateStepNearDup(docs, index, out, writerId, batchId,
        j, textCol, idCol, postings, wap)
      case None => curateStep(docs, index, out, writerId, batchId, textCol,
        idCol, wap)
    }

  /** One exactly-once curation step: dedupe `docs` against `index`,
    * append the accepted rows to `out`, then advance the frontier in
    * `index` — both under the same (writerId, batchId) idempotence key.
    *
    * Crash-safety is pure commit ordering, no 2PC:
    *  - fresh is computed against the index snapshot pinned BEFORE
    *    either commit, and localCheckpointed so both commits write the
    *    exact same row set;
    *  - crash before the `out` commit: replay recomputes the identical
    *    fresh set (index unmoved) and runs both commits;
    *  - crash between the commits: replay recomputes the identical
    *    fresh set, `out` no-ops on its batch id, `index` lands;
    *  - crash after both: replay no-ops twice.
    * The reverse order would lose rows: once the index advances, a
    * replayed batch computes fresh = empty. */
  def curateStep(docs: org.apache.spark.sql.DataFrame,
                 index: LakeTable, out: LakeTable,
                 writerId: String, batchId: Long,
                 textCol: String = "text", idCol: String = "doc_id",
                 wap: Option[WapAudit] = None)
      : Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val fresh = graft.operators.DedupOps
      .freshAgainstIndex(docs, index, textCol, idCol)
      .localCheckpoint(eager = false) // one evaluation; both commits see one row set
    val accepted0 = docs.join(
      broadcast(fresh.select(col("doc_id").as(idCol))), Seq(idCol),
      "left_semi")
    // the WAP audit evaluates the frame twice (stage + predicate):
    // pin it so both see one row set; the unaudited path keeps its
    // single-evaluation plan
    val accepted =
      if (wap.isDefined) accepted0.localCheckpoint(eager = false) else accepted0
    wapAppend(out, accepted, writerId, batchId, wap)
    index.appendExactlyOnce(fresh, writerId, batchId)
    // keep both tables' layouts bounded under continuous tiny commits
    out.autoCompactIfNeeded()
    index.autoCompactIfNeeded()
  }

  /** Schema of the UNIFIED curation index: exact-dedup fingerprint plus
    * the near-dup signature state (shingle-hash set + MinHash sig) for
    * every ACCEPTED document, in one lake table. One table means one
    * frontier — the 2-commit crash protocol of [[curateStep]] carries
    * over unchanged; split fp/sig indexes would need a cross-table
    * transaction to replay correctly (a crash between their commits
    * leaves the replay recomputing against a half-advanced state). */
  def curationIndexSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shs",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)),
      org.apache.spark.sql.types.StructField("sig",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))))

  /** Full curation step: EXACT dedup then NEAR-dup filtering, both
    * against one persisted index, with the same exactly-once-by-order
    * guarantee. A batch doc is accepted iff its fingerprint is unseen
    * (within-batch copies collapse to the min id) AND no indexed
    * document is a near-duplicate at `minJaccard` (banded LSH + exact
    * verification from stored shingle sets — the index side never
    * shuffles, see [[graft.operators.DedupOps.nearDupAgainstIndex]]).
    * Near-dup relations WITHIN one batch collapse to ONE survivor per
    * connected near-dup cluster (the min doc_id), reusing the batch's
    * single shingling pass — so two near-identical docs arriving in
    * the same micro-batch can no longer both slip past the
    * index-vs-batch filter. A cluster's survivor is then still subject
    * to the index probe (if IT is a near-dup of history it drops, and
    * its collapsed siblings are NOT reconsidered — cluster semantics,
    * not greedy re-admission); each accepted doc's signatures enter
    * the index, so later batches dedupe against it. Crash analysis is
    * [[curateStep]]'s: replay recomputes the identical accepted set
    * until the single index commit lands last.
    *
    * With `postings` (a [[graft.operators.DedupOps.bandPostingsSchema]]
    * table bucketed by pbh), each batch also commits its accepted
    * docs' band postings, and the LSH probe reads THOSE instead of
    * band-scanning the index — per-batch cost O(batch), not
    * O(history). The third table does NOT reopen the cross-table
    * transaction problem the unified index solved, because postings
    * are advisory-only: the exact-verify fetch anchors every candidate
    * to the authoritative index, so a posting whose index row never
    * landed produces a candidate that verifies against nothing and
    * drops out. Commit order is out -> postings -> index: the index
    * commit stays LAST (it alone advances the fp frontier that replay
    * determinism rests on), and postings land BEFORE the rows they
    * describe, so no batch can ever probe an index row whose postings
    * are missing. Crash between postings and index: replay recomputes
    * the identical accepted set (frontier unmoved; its own pre-crash
    * postings only generate self-candidates that verify-drop),
    * postings no-ops on its batch id, index lands. */
  def curateStepNearDup(docs: org.apache.spark.sql.DataFrame,
                        index: LakeTable, out: LakeTable,
                        writerId: String, batchId: Long,
                        minJaccard: Double = 0.5,
                        textCol: String = "text",
                        idCol: String = "doc_id",
                        postings: Option[LakeTable] = None,
                        wap: Option[WapAudit] = None): Unit =
    curateStepNearDup(docs, index, out, writerId, batchId, minJaccard,
      textCol, idCol, postings, wap, maxProbe = 10000)

  /** [[curateStepNearDup]] with the driver-side bound: a batch whose
    * decision fits `maxProbe` (documents, probe rows, candidates) is
    * decided on the driver by [[graft.operators.DedupOps.nearDupBatch]]
    * — a handful of Spark jobs over plan shapes that repeat every
    * batch, so steady-state batches recompile no generated class — and
    * its index rows are committed from the driver, its postings rows
    * derived from them by [[graft.operators.DedupOps.bandPostingsRows]]
    * as in the distributed step; a larger one runs the distributed
    * step. Both decide the same rows, and the switch point is not
    * tuned: it reuses the probe bound. */
  private[graft] def curateStepNearDup(docs: org.apache.spark.sql.DataFrame,
                                       index: LakeTable, out: LakeTable,
                                       writerId: String, batchId: Long,
                                       minJaccard: Double, textCol: String,
                                       idCol: String,
                                       postings: Option[LakeTable],
                                       wap: Option[WapAudit],
                                       maxProbe: Int): Unit = {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    import graft.operators.DedupOps
    // ADOPT the postings table's stamped band count (the SRP twin's
    // contract): geometry is a property of the TABLE, not of whichever
    // binary drives the loop — a pre-existing table banded != 16 keeps
    // probing and committing at ITS geometry instead of require-failing
    // every batch against the driver's default
    val bands = postings.map(p =>
      DedupOps.requirePostingsProp(p, "postings.bands").toInt).getOrElse(16)
    DedupOps.nearDupBatch(docs, index, postings, minJaccard, bands, textCol,
        idCol, maxProbe) match {
      case Some(b) =>
        val idxRows = docs.sparkSession.createDataFrame(b.indexRows.asJava,
          curationIndexSchema)
        // the accepted rows re-read from the batch's files: a scan and a
        // hash-set filter, deterministic for the WAP audit's second pass
        commitNearDup(docs.filter(org.apache.spark.sql.graft.ColumnBridge
            .inSet(col(idCol).cast("long"), b.accepted.toSet[Any])),
          idxRows, DedupOps.bandPostingsRows(idxRows, bands),
          index, out, postings, writerId, batchId, wap)
      case None => curateNearDupDistributed(docs, index, out, writerId,
        batchId, minJaccard, bands, idCol, textCol, postings, wap)
    }
  }

  /** The commits of a near-dup, perceptual or embedding curation step,
    * in the crash-safe order out -> postings -> index (see
    * [[curateStepNearDup]]), then each table's auto-compaction. */
  private def commitNearDup(accepted: org.apache.spark.sql.DataFrame,
                            idxRows: org.apache.spark.sql.DataFrame,
                            postingsRows: org.apache.spark.sql.DataFrame,
                            index: LakeTable, out: LakeTable,
                            postings: Option[LakeTable], writerId: String,
                            batchId: Long, wap: Option[WapAudit]): Unit = {
    wapAppend(out, accepted, writerId, batchId, wap)
    postings.foreach(_.appendExactlyOnce(postingsRows, writerId, batchId))
    index.appendExactlyOnce(idxRows, writerId, batchId)
    out.autoCompactIfNeeded()
    postings.foreach(_.autoCompactIfNeeded())
    index.autoCompactIfNeeded()
  }

  /** The ids a batch's within-batch near-dup pairs (d1, d2) drop, as
    * one `idCol` column: every member of a connected cluster but its
    * min id. Pairs are sparse relative to the batch, so the common case
    * collects them (at most [[graft.operators.DedupOps.MaxWithinBatchPairs]])
    * and union-finds on the driver in one job; more take the
    * distributed O(log d) contraction. */
  private def withinBatchDrops(pairs: org.apache.spark.sql.DataFrame,
                               idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import graft.operators.DedupOps
    val max = DedupOps.MaxWithinBatchPairs
    DedupOps.collectAtMost(pairs.select(col("d1"), col("d2")), max) match {
      case Some(some) =>
        val ss = pairs.sparkSession
        import ss.implicits._
        DedupOps.nearDupDropIds(
          some.map(r => (r.getLong(0), r.getLong(1)))).toDF(idCol)
      case None => DedupOps.nearDupClusters(pairs)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as(idCol))
    }
  }

  /** The distributed near-dup curation step, for batches over the
    * driver-side bound of [[curateStepNearDup]]. */
  private def curateNearDupDistributed(docs: org.apache.spark.sql.DataFrame,
                                       index: LakeTable, out: LakeTable,
                                       writerId: String, batchId: Long,
                                       minJaccard: Double, bands: Int,
                                       idCol: String, textCol: String,
                                       postings: Option[LakeTable],
                                       wap: Option[WapAudit]): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.operators.DedupOps
    val fresh = DedupOps.freshAgainstIndex(docs, index, textCol, idCol)
      .localCheckpoint(eager = false)
    val freshDocs = docs.join(
      broadcast(fresh.select(col("doc_id").as(idCol))), Seq(idCol),
      "left_semi")
    // shingle + MinHash the fresh docs ONCE; the same rows feed the
    // within-batch collapse, the LSH probe, and (filtered to accepted)
    // the index commit
    val sigRows = DedupOps.signatureIndexRows(freshDocs)
      .localCheckpoint(eager = false)
    // within-batch collapse: connected near-dup clusters keep their
    // min doc_id
    val wbDrop = withinBatchDrops(
      DedupOps.trueJaccardFromSigRows(sigRows, minJaccard = minJaccard),
      idCol)
    val survivorSigs = sigRows
      .join(broadcast(wbDrop.select(col(idCol).as("doc_id"))),
        Seq("doc_id"), "left_anti")
    val nearIds = DedupOps
      .nearDupSigsAgainstIndex(survivorSigs, index, minJaccard,
        bands = bands, postings = postings)
      .select(col("d_new").as(idCol)).distinct()
    val accepted = freshDocs
      .join(broadcast(wbDrop), Seq(idCol), "left_anti")
      .join(broadcast(nearIds), Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
    // LEFT join from the accepted fingerprints: a doc too short to
    // shingle still advances the fp frontier (null sig rows are inert
    // on the LSH side — explode skips them), so an exact copy of it
    // can never be re-admitted later
    val idxRows = fresh
      .join(broadcast(accepted.select(col(idCol).as("doc_id"))),
        Seq("doc_id"), "left_semi")
      .join(sigRows, Seq("doc_id"), "left")
      .select(col("fp"), col("doc_id"), col("shs"), col("sig"))
      .localCheckpoint(eager = false) // two consumers: postings rows + index commit
    commitNearDup(accepted, idxRows, DedupOps.bandPostingsRows(idxRows, bands),
      index, out, postings, writerId, batchId, wap)
  }

  /** The PERCEPTUAL curation step — the binary-axis twin of
    * [[curateStepNearDup]]: one sketch pass feeds the within-batch
    * collapse (banded pairs -> bounded driver union-find, min-id
    * survivor per connected cluster; distributed contraction
    * fallback), the index probe
    * ([[graft.operators.DedupOps.sketchesAgainstIndex]], postings-
    * probed O(batch)), and — filtered to accepted — the index commit.
    * Sketch-free payloads (empty/null) are DROPPED and logged, the
    * zero-norm-vector argument on the binary axis: a frame-less
    * payload can never match anything, not even its own copies, so
    * admitting it would re-admit every future duplicate. Commit order
    * out -> postings -> index with the [[curateStepNearDup]] crash
    * analysis (postings advisory; the index commit alone advances the
    * frontier replay determinism rests on). */
  def curateStepPerceptual(media: org.apache.spark.sql.DataFrame,
                           index: LakeTable, out: LakeTable,
                           writerId: String, batchId: Long,
                           maxHamming: Int = 3,
                           idCol: String = "doc_id",
                           payloadCol: String = "payload",
                           postings: Option[LakeTable] = None,
                           wap: Option[WapAudit] = None): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, length}
    import graft.operators.{DedupOps, MultimodalOps}
    val sketchless = media.filter(
      col(payloadCol).isNull || length(col(payloadCol)) === 0).count()
    if (sketchless > 0)
      log.warn(s"perceptual curation writer=$writerId batch=$batchId: " +
        s"dropped $sketchless sketch-free payload(s) (empty or null) — " +
        "they cannot match anything, not even their own copies")
    val sk = MultimodalOps.perceptualSketch(media,
        idCol = idCol, payloadCol = payloadCol)
      .localCheckpoint(eager = false) // feeds collapse, probe, and the index commit
    val wbDrop = withinBatchDrops(DedupOps.sketchPairs(sk, maxHamming), idCol)
    val survivorSk = sk
      .join(broadcast(wbDrop.select(col(idCol).as("doc_id"))),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false)
    val nearIds = DedupOps
      .sketchesAgainstIndex(survivorSk, index, maxHamming,
        postings = postings)
      .select(col("d_new").as("doc_id")).distinct()
    val acceptedSk = survivorSk
      .join(broadcast(nearIds), Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = false) // three consumers: out semi-join, postings, index
    val accepted0 = media.join(
      broadcast(acceptedSk.select(col("doc_id").as(idCol))), Seq(idCol),
      "left_semi")
    // a WAP audit evaluates the frame twice (stage + predicate)
    val accepted =
      if (wap.isDefined) accepted0.localCheckpoint(eager = false) else accepted0
    commitNearDup(accepted, acceptedSk, DedupOps.simHashPostingsRows(acceptedSk),
      index, out, postings, writerId, batchId, wap)
  }

  /** The EMBEDDING curation step — the vector twin of
    * [[curateStepNearDup]], completing the continuous-loop story for
    * the third incremental-dedup modality (exact fp = curateStep,
    * MinHash text = curateStepNearDup, embeddings = this). A batch
    * vector is accepted iff no within-batch cluster sibling has a
    * smaller id (SRP-banded cosine pairs, min-id survivor per
    * connected cluster) AND no indexed vector is cosine-similar at
    * `threshold` through the seed-free SRP band join
    * ([[graft.operators.SimilarityOps.embeddingNearDupAgainstIndex]] —
    * zero index-side shuffles, postings-probed when given). There is
    * no separate exact-dup frontier: an exact copy of an accepted
    * vector has cosine 1.0 with its indexed original and always
    * band-collides with it, so the near-dup filter subsumes it.
    * Commit order and crash analysis are [[curateStepNearDup]]'s
    * (out -> postings -> index; postings advisory, index last). */
  def curateStepEmbedding(vecs: org.apache.spark.sql.DataFrame,
                          index: LakeTable, out: LakeTable,
                          writerId: String, batchId: Long,
                          threshold: Double,
                          bandBits: Int = graft.operators.SimilarityOps
                            .DefaultIndexBandBits,
                          bands: Int = graft.operators.SimilarityOps
                            .DefaultIndexBands,
                          idCol: String = "vec_id",
                          embCol: String = "embedding",
                          postings: Option[LakeTable] = None,
                          wap: Option[WapAudit] = None): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.operators.SimilarityOps
    import graft.functions.VectorFunctions.cosine_sim
    // FULL rows ride to the curated output (metadata columns must not
    // silently drop); the LSH machinery sees only (id, embedding).
    // Zero-norm vectors are REJECTED up front: cosine_sim is defined
    // 0.0 when either norm is zero, so an all-zero vector can never
    // match anything — not even an exact copy of itself — and without
    // this guard identical degenerate vectors would be re-admitted on
    // every batch, breaking the "exact copies are subsumed by the
    // near-dup filter" contract. A direction-free vector carries no
    // curatable signal, so dropping it is the semantically honest
    // fast-path (the text modality's fp frontier has no such hole).
    // The test is the codegen'd self-cosine (1.0 for any nonzero-norm
    // vector, 0.0 for zero norm, NaN/null for degenerate payloads —
    // all of which must not be curated), not a CodegenFallback
    // higher-order lambda on the hot per-batch path. The drop is
    // COUNTED and logged: a whole batch of zeros usually means the
    // upstream embedding job is failing, and silence would make that
    // undiagnosable (the count is one narrow job over the
    // already-checkpointed partitions).
    val flagged = vecs
      .withColumn("_ok", cosine_sim(col(embCol), col(embCol)) > 0.5)
      .localCheckpoint(eager = false)
    val degenerate = flagged.filter(!col("_ok")).count()
    if (degenerate > 0)
      log.warn(s"embedding curation writer=$writerId batch=$batchId: " +
        s"dropped $degenerate degenerate vector(s) (zero-norm, NaN or " +
        "null embedding) — they cannot match anything, not even their " +
        "own copies; a nonzero count here usually means the upstream " +
        "embedding job is emitting failures")
    val batch = flagged.filter(col("_ok")).drop("_ok")
    val batchVecs = batch.select(col(idCol), col(embCol))
    // within-batch collapse: min-id survivor per cosine cluster
    val wbDrop = withinBatchDrops(SimilarityOps.embeddingNearDupLsh(
        batchVecs, threshold, bandBits, bands, idCol, embCol)
      .select(col("v1").as("d1"), col("v2").as("d2")), idCol)
    val survivors = batch
      .join(broadcast(wbDrop), Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
    val nearIds = SimilarityOps.embeddingNearDupAgainstIndex(
        survivors.select(col(idCol), col(embCol)), index, threshold,
        bandBits, bands, idCol, embCol, postings = postings)
      .select(col("v_new").as(idCol)).distinct()
    val accepted = survivors
      .join(broadcast(nearIds), Seq(idCol), "left_anti")
      .localCheckpoint(eager = false)
    val acceptedVecs = accepted.select(col(idCol), col(embCol))
    commitNearDup(accepted, acceptedVecs, SimilarityOps.srpPostingsRows(
        acceptedVecs, bandBits, bands, idCol, embCol),
      index, out, postings, writerId, batchId, wap)
  }

  /** Atomically publish a fully-written staging dir as `target`. If a
    * concurrent replay of the same batch already published `target`,
    * ours is redundant: delete the staging dir and return. Linux
    * rename(2) onto an existing EMPTY dir raises FileAlreadyExists-
    * Exception but onto a non-empty one raises ENOTEMPTY
    * (DirectoryNotEmptyException), so accept any FileSystemException
    * where the target verifiably exists — and never touch the winner's
    * published files. */
  private[streaming] def publishStaging(staging: Path, target: Path): Unit =
    try Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileSystemException if Files.exists(target) =>
        val s = Files.walk(staging)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally s.close()
    }
}

/** Wires the reference's dead `metrics` config block (config.go:54-57)
  * to a live listener: rows/batches per query, queryable in-process;
  * with `collectionPath` set, a JSON stats file per query is flushed to
  * that directory on every progress event (crash-safe: the file is
  * always the latest complete snapshot, written atomically). */
class MVMetricsListener(collectionPath: Option[String] = None)
    extends StreamingQueryListener {
  case class QueryStats(batches: Long, inputRows: Long)
  private val stats = TrieMap.empty[String, QueryStats]

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
    val cur = stats.getOrElse(name, QueryStats(0, 0))
    val next = QueryStats(cur.batches + 1,
      cur.inputRows + e.progress.numInputRows)
    stats.put(name, next)
    collectionPath.foreach(dir => persist(dir, name, next))
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def apply(name: String): Option[QueryStats] = stats.get(name)

  private def persist(dir: String, name: String, s: QueryStats): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val tmp = Files.createTempFile(d, s".$name", ".tmp")
    Files.writeString(tmp,
      s"""{"query":"$name","batches":${s.batches},"inputRows":${s.inputRows}}""")
    Files.move(tmp, d.resolve(s"$name.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}
