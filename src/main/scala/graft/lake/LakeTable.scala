package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Iceberg-style transactional table: immutable parquet data files + an
  * atomically-committed JSON snapshot log.
  *
  * Supersedes the reference's committer/catalog/schema-conversion trio
  * (iceberg_committer.go:54-147, schema_conversion.go:11-254 in
  * /root/reference) with deliberate upgrades the reference lacks:
  * real field-ID assignment (globally unique, monotone — the reference
  * hardcodes colliding positional IDs), additive schema evolution with
  * Iceberg-style type widening (the reference's "evolution handling" is
  * a README claim with no code), and optimistic-concurrency commits
  * (the reference loses batches on write/commit races).
  *
  * Layout under `root/`:
  *   data/[<k=v>/]<uuid>.parquet        -- immutable data files
  *   metadata/v%08d.json                -- snapshot log, one file per commit
  *
  * Commit protocol: conditionally create the snapshot at its version
  * slot via [[CommitStore.putIfAbsent]] — the put fails atomically if
  * the version already exists, which is the whole concurrency story:
  * losers re-read the latest snapshot, rebase their (already-written,
  * immutable) files on top, and retry. No locks, no coordinator. The
  * store is a SEAM, not prose: [[PosixCommitStore]] (temp + link(2))
  * is the default; an object-store deployment supplies the native
  * conditional put (S3 `If-None-Match: *`, GCS
  * `if-generation-match: 0`) and nothing else changes — the full
  * chaos suite runs against a deliberately-racy non-POSIX store
  * (CommitStoreContractSpec) to keep the protocol honest about
  * depending on nothing beyond that interface.
  *
  * Exactly-once writers: every snapshot carries a `highWater` map of
  * monotone offsets (per-writer streaming batch ids, pipe consumption
  * offsets). Commits can be guarded on a key — either idempotent-replay
  * (no-op when the offset was already reached; Delta's txn appId/version
  * pattern) or compare-and-set (abort when another committer moved the
  * offset). Because the map rides in EVERY snapshot and the guard is
  * evaluated inside the optimistic commit loop, interleaved plain
  * appends/compactions can never blind the check, and the offset update
  * is atomic with the data commit.
  */
class LakeTable private (
    val spark: SparkSession, val root: String,
    private[lake] val commitStore: CommitStore) extends Commit {

  import Commit._
  import LakeTable._

  /** The table's commit seam, exposed so sidecar persistence (frozen
    * IVF models, serving-index metadata) writes AND reads through the
    * same storage abstraction as the table's own commits. */
  def store: CommitStore = commitStore

  private[lake] def metaDir = Paths.get(root, "metadata")

  // ---- snapshot state ------------------------------------------------

  /** One parsed snapshot of the log: every field [[Commit.snapshotJson]]
    * writes, read once. Operations take ONE of these and derive all
    * they need from it, so a commit landing mid-operation can never
    * hand them two versions' worth of state. The manifest-list format
    * is the only one this engine reads: a snapshot lacking a field
    * every writer stamps is rejected, naming the table and the
    * version. `files`/`deletes` read the (immutable, cached) manifests
    * on first use. */
  private[graft] final class Snapshot private[lake] (
      val version: Int, raw: String) {
    private val node = mapper.readTree(raw)
    private def required(key: String): JsonNode =
      Option(node.get(key)).getOrElse(throw malformed(s"'$key'"))
    private[LakeTable] def malformed(what: String) =
      new IllegalStateException(
        s"snapshot v$version at $root has no $what: not the " +
          "manifest-list format this engine writes")
    private def refs(arr: JsonNode): Seq[ManifestRef] =
      arr.elements().asScala.map(m =>
        ManifestRef(m.get("path").asText(), m.get("entries").asInt())).toSeq
    private def strings(key: String): Map[String, String] =
      required(key).properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap

    val committedAtMs: Long = required("committedAtMs").asLong()
    val fieldIds: Map[String, Int] = required("fieldIds").properties()
      .asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    /** Monotone last-assigned field ID (Iceberg's last-column-id). */
    val lastFieldId: Int = required("lastFieldId").asInt()
    val properties: Map[String, String] = strings("properties")
    val partitionBy: Seq[String] =
      required("partitionBy").elements().asScala.map(_.asText()).toSeq
    /** Monotone offset map carried through every snapshot (see
      * [[highWaterMarks]]). */
    val highWater: Map[String, Long] = required("highWater").properties()
      .asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    val appMeta: Map[String, String] = strings("appMeta")
    /** The MANIFEST LIST (Iceberg's split): the snapshot names
      * immutable manifest files, each holding a group of file entries
      * — an append references every unchanged group and writes only
      * its own batch, so per-commit metadata is O(batch), not O(live
      * files). */
    val manifests: Seq[ManifestRef] = refs(required("manifests"))
    val deleteManifests: Seq[ManifestRef] =
      Option(node.get("deleteManifests")).map(refs).getOrElse(Nil)
    private val schemaJson = required("schemaJson").asText()
    lazy val schema: StructType = DataTypeBridge.fromJson(schemaJson)
    /** Hash-bucket layout, when declared at create time: (column,
      * count) — see [[LakeTable.bucketSpec]]. */
    val bucketSpec: Option[(String, Int)] = for {
      c <- properties.get("bucket.column")
      n <- properties.get("bucket.count")
    } yield (c, n.toInt)
    def bucketCols: Seq[String] =
      bucketSpec.map(_._1.split(",").toSeq.map(_.trim)).getOrElse(Nil)
    /** Declared hidden-partitioning transforms, parsed against THIS
      * snapshot's schema, so the source column's presence/type is
      * re-validated on every use. */
    lazy val transforms: Seq[PTransform] = specList(TransformsProp)
      .map(spec => parseTransformSpec(spec, schema).getOrElse(
        throw new IllegalStateException(
          s"unparseable partition transform '$spec' at $root")))
    /** Every transform that ever governed a write — current spec plus
      * history — for pruning and alter guards. History specs that no
      * longer parse (their source column was since dropped) are
      * skipped: their files can then only be pruned by raw-column
      * stats. */
    lazy val pruningTransforms: Seq[PTransform] =
      (transforms ++ specList(TransformsHistoryProp).flatMap(spec =>
        scala.util.Try(parseTransformSpec(spec, schema)).toOption.flatten))
        .distinctBy(_.phys)
    private def specList(prop: String): Seq[String] = properties.get(prop)
      .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    def isCompaction: Boolean = appMeta.get("compaction").contains("true")
    lazy val files: Seq[FileEntry] = manifests.flatMap(readManifest)
    lazy val deletes: Seq[DeleteEntry] =
      deleteManifests.flatMap(readDeleteManifest)
  }

  /** THE snapshot reader: version `v` through the commit store, None
    * when it was never committed or has been expired. */
  private def readSnapshot(v: Int): Option[Snapshot] =
    commitStore.read(versionPath(metaDir, v)).map(new Snapshot(v, _))

  /** Snapshot `v` of the log (time travel); fails when it is absent. */
  private def snapshotAt(v: Int): Snapshot =
    readSnapshot(v).getOrElse(throw new java.nio.file.NoSuchFileException(
      versionPath(metaDir, v).toString))

  /** Retained snapshots with versions in (from, to], oldest first —
    * one read per version in the range; expired versions are
    * skipped. */
  private[graft] def snapshotsBetween(from: Int, to: Int): Seq[Snapshot] =
    ((from + 1) to to).flatMap(readSnapshot)

  /** Versions of every retained snapshot, oldest first (one LIST). */
  private def retainedVersions: Seq[Int] =
    commitStore.list(metaDir).map(_.getFileName.toString)
      .collect { case VersionRe(n) => n.toInt }.sorted

  /** The latest committed snapshot: one read of the `_latest` hint +
    * a forward probe (versions are dense, so the first missing v+1 is
    * the frontier), all through the commit store. The hint is
    * ADVISORY — written best-effort after each won commit, it may lag
    * or regress under races; the probe absorbs lag, and a missing
    * hint, or one naming a missing snapshot (cleared, expired), falls
    * back to the full listing. At O(100k) commits the listing is the
    * scale hazard (every read paying an O(versions) LIST); hint +
    * probe is O(1 + lag). The probe keeps the content it read, so the
    * frontier snapshot is read once. */
  private[lake] def latestRaw(): Option[(Int, String)] = {
    def at(v: Int) = commitStore.read(versionPath(metaDir, v)).map(v -> _)
    commitStore.read(metaDir.resolve(LatestHint))
      .flatMap(_.trim.toIntOption).filter(_ >= 0).flatMap(at)
      .orElse(retainedVersions.lastOption.flatMap(at))
      .map { first =>
        var cur = first
        var next = at(cur._1 + 1)
        while (next.isDefined) { cur = next.get; next = at(cur._1 + 1) }
        cur
      }
  }

  private[lake] def latest(): Snapshot = {
    val found = latestRaw()
    require(found.isDefined, s"no snapshots at $root")
    new Snapshot(found.get._1, found.get._2)
  }

  /** Latest committed version (-1 before the table's first commit). */
  def currentVersion: Int = latestRaw().map(_._1).getOrElse(-1)

  /** The snapshot `read()` serves: the WAP pin while a branch is
    * staging, else the latest. */
  private def mainSnapshot(): Snapshot =
    activeBranch.map(b => snapshotAt(b._2)).getOrElse(latest())

  def schema: StructType = latest().schema

  def properties: Map[String, String] = latest().properties

  /** This incarnation's identity ([[LakeTable.TableUuidProp]], minted
    * at create): distinguishes a table from a same-root predecessor
    * that was dropped and recreated — their version numbers collide
    * (both dense from 0) but their uuids never do. Pre-uuid tables
    * (none are produced by this codebase) answer a constant; caches
    * keyed on it must also key on version, which such tables already
    * invalidate by normal commits. */
  def incarnationId: String =
    properties.getOrElse(LakeTable.TableUuidProp, "pre-uuid")

  def fieldIds: Map[String, Int] = latest().fieldIds

  /** Read one manifest's file entries through the process-wide cache:
    * manifests are immutable and UUID-named, so a parsed value can
    * never go stale — repeated snapshot reads (every query plans from
    * the manifest set) parse each manifest once per process. */
  private[lake] def readManifest(ref: ManifestRef): Seq[FileEntry] = {
    val p = metaDir.resolve(ref.path).toAbsolutePath.normalize()
    val key = p.toString
    val cached = manifestCache.get(key)
    if (cached != null) cached
    else {
      // through the SAME store the manifest was published through
      // (CommitStore.read's contract) — never a bare local-disk read
      val raw = commitStore.read(p).getOrElse(
        throw new java.nio.file.NoSuchFileException(p.toString))
      val fs = parseFileArray(mapper.readTree(raw).get("files"), key)
      if (manifestCache.size > ManifestCacheMax) manifestCache.clear()
      manifestCache.put(key, fs)
      fs
    }
  }

  // ---- position-delete manifests (merge-on-read DELETE) --------------
  //
  // The delete half of the metadata mirrors the data half exactly:
  // snapshots reference immutable `dm-*.json` delete manifests, each
  // holding a group of [[DeleteEntry]]s; appends reference the
  // unchanged refs untouched, so a positional delete commits O(its
  // own positions) metadata and a plain append commits none.

  private[lake] def readDeleteManifest(ref: ManifestRef): Seq[DeleteEntry] = {
    val p = metaDir.resolve(ref.path).toAbsolutePath.normalize()
    val key = p.toString
    val cached = deleteManifestCache.get(key)
    if (cached != null) cached
    else {
      val raw = commitStore.read(p).getOrElse(
        throw new java.nio.file.NoSuchFileException(p.toString))
      val node = mapper.readTree(raw)
      val es = node.get("deletes").elements().asScala.map { d =>
        DeleteEntry(d.get("path").asText(), d.get("rows").asLong(),
          d.get("covers").elements().asScala.map(_.asText()).toSeq,
          kind = Option(d.get("kind")).map(_.asText()).getOrElse("pos"),
          seq = Option(d.get("seq")).map(_.asLong()).getOrElse(0L),
          keyCols = Option(d.get("keyCols"))
            .map(_.elements().asScala.map(_.asText()).toSeq)
            .getOrElse(Nil))
      }.toSeq
      if (deleteManifestCache.size > ManifestCacheMax)
        deleteManifestCache.clear()
      deleteManifestCache.put(key, es)
      es
    }
  }

  /** Live position-delete files of the current snapshot (empty unless
    * [[deleteWherePositional]] has committed and compaction has not
    * yet absorbed them). */
  def deleteEntries: Seq[DeleteEntry] = latest().deletes

  def dataFiles: Seq[FileEntry] = latest().files

  /** File entries of a historical snapshot (time-travel file listing;
    * a commit's own additions are `filesAt(v) -- filesAt(v-1)`). */
  def filesAt(version: Int): Seq[FileEntry] = snapshotAt(version).files

  def appMeta(key: String): Option[String] = latest().appMeta.get(key)

  /** appMeta of a specific historical snapshot. */
  def appMetaAt(version: Int, key: String): Option[String] =
    snapshotAt(version).appMeta.get(key)

  /** Number of retained NON-compaction commits — the table's
    * data-batch frontier. Poll this (not [[currentVersion]]) to wait
    * for a writer's batch to land: auto-compaction interleaves its own
    * commits with the data stream, so the raw version advances on
    * rewrites that add no rows — a waiter keyed on it can resume (or
    * tear the writer down) before the batch it is waiting for has
    * committed. Expired versions count as data: compaction commits are
    * the minority and retention expires oldest-first, so the count
    * stays monotone across expiry. */
  def dataCommitCount: Int = dccLock.synchronized {
    // incremental: versions are immutable and dense, so each poll
    // folds only the versions committed since the last one — a
    // waiter polling every 10 ms costs O(new commits), not
    // O(all versions) JSON reads per poll. Expiry only removes
    // versions already folded (below the frontier), so the count
    // stays monotone across retention exactly as before.
    val cur = currentVersion
    ((dccSeen + 1) to cur).foreach { v =>
      if (readSnapshot(v).forall(!_.isCompaction)) dccCount += 1
    }
    dccSeen = cur
    dccCount
  }
  private[this] val dccLock = new Object
  private[this] var dccSeen = -1
  private[this] var dccCount = 0

  /** Monotone offset map carried through every snapshot: per-writer
    * streaming batch ids (`writer.<id>`), pipe offsets
    * (`pipe.<id>.sourceVersion`). */
  def highWaterMarks: Map[String, Long] = latest().highWater

  def highWater(key: String): Option[Long] = highWaterMarks.get(key)

  def partitionBy: Seq[String] = latest().partitionBy

  /** Declared hidden-partitioning transforms (empty for plain tables).
    * Re-parsed from the frozen creation-time property against the
    * current schema, so the source column's presence/type is
    * re-validated on every use (a rename/drop of a transform source
    * is blocked the same way bucket columns are). */
  def partitionTransforms: Seq[PTransform] = latest().transforms

  /** Hash-bucket layout, when declared at create time: (column, count).
    * Rows land in hive partition `_bucket = pmod(murmur3(col, 42),
    * count)` — Spark's OWN bucket-id function, exactly
    * `HashPartitioning.partitionIdExpression` (stamped at create time
    * as [[LakeTable.SparkBucketHash]], the only family), which lets
    * reads surface the layout to Catalyst as a first-class V1
    * `BucketSpec`: co-bucketed joins and bucket-key aggregations plan
    * with ZERO exchange on the bucketed side(s). The writer computes
    * the column — so equality/IN probes on the bucket
    * column prune to the matching bucket directories at the MANIFEST
    * level (partition values ride in each file's stats) before any
    * file opens. This is the layout half of point lookups at 100 TB:
    * a probe for k keys touches at most k of `count` buckets no matter
    * how big history grows. */
  def bucketSpec: Option[(String, Int)] = latest().bucketSpec

  /** The LOGICAL partition spec as declared — identity column names and
    * transform specs (`days(ts)`, `truncate(4,s)`, ...), in layout
    * order, bucket excluded: the inverse of `create(partitionBy=...)`'s
    * parsing, reconstructed from the physical column naming convention
    * ([[partitionBy]] stores derived columns as `_p_<unit>_<src>`). */
  def partitionSpecs: Seq[String] = {
    val timeRe = """_p_(days|hours|months)_(\w+)""".r
    val truncRe = """_p_trunc(\d+)_(\w+)""".r
    partitionBy.filterNot(_ == LakeTable.BucketCol).map {
      case timeRe(unit, src) => s"$unit($src)"
      case truncRe(w, src)   => s"truncate($w,$src)"
      case ident             => ident
    }
  }

  /** The bucket key's columns: a COMPOSITE key is declared as a
    * comma-separated `bucket.column` ("event_type,uid_bucket") and
    * hashed as one multi-argument hash — the layout an
    * aggregate MV keyed on several columns needs so a delta batch's
    * rewrite touches only the buckets holding its changed keys. */
  def bucketCols: Seq[String] = latest().bucketCols

  /** The bucket a value of the (single-column) bucket key lands in —
    * driver-side evaluation of the exact expression the writer uses
    * (murmur3, seed 42), so probe pruning and layout can never
    * disagree. */
  def bucketIdOf(value: Any): Int = bucketIdOfKey(Seq(value))

  /** Composite-key form: one value per [[bucketCols]] entry, hashed
    * with the same multi-argument hash chain the writer codegens. */
  def bucketIdOfKey(values: Seq[Any]): Int = bucketIds(latest())(values)

  /** Bucket-id function of snapshot `s`'s layout: column types and
    * count resolved once, so a probe of k keys hashes k literals
    * against one snapshot. */
  private def bucketIds(s: Snapshot): Seq[Any] => Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val (_, n) = s.bucketSpec.getOrElse(
      throw new IllegalStateException(s"table at $root is not bucketed"))
    val types = s.bucketCols.map(c => s.schema(c).dataType)
    values => {
      require(values.length == types.length,
        s"bucket key has ${types.length} columns, got ${values.length} values")
      val lits = types.zip(values).map { case (t, v) => Literal.create(v, t) }
      val h = new Murmur3Hash(lits, 42).eval(null).asInstanceOf[Int].toLong
      (((h % n) + n) % n).toInt
    }
  }

  /** The writer-side bucket-assignment expression: literally
    * `HashPartitioning(bucketCols, n).partitionIdExpression`
    * (`pmod(murmur3(cols, 42), n)`) — the guarantee that lets reads
    * expose the layout as a Spark `BucketSpec` without any custom
    * physical operator: a file named for bucket k really does hold
    * exactly the rows Spark's own hash would route to partition k. */
  private def bucketWriteExpr(s: Snapshot): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val (_, n) = s.bucketSpec.get
    pmod(hash(s.bucketCols.map(col): _*), lit(n)).cast("int")
  }

  /** Point-lookup read: rows whose `keyCol` is one of `values`, using
    * every layout lever the table has — bucket-partition pruning (when
    * `keyCol` is the bucket column), manifest range/IN pruning on the
    * key itself, and parquet pushdown of the residual filter. The
    * returned plan never shuffles: it is a pruned scan. */
  def probe(keyCol: String, values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = mainSnapshot()
    if (values.isEmpty) return readAt(s).filter(lit(false))
    val base = col(keyCol).isin(values: _*)
    val cond = s.bucketSpec match {
      case Some((c, _)) if c == keyCol && !c.contains(",") =>
        val bucketOf = bucketIds(s)
        col(BucketCol).isin(values.map(v => bucketOf(Seq(v))).distinct: _*) &&
          base
      case _ => base
    }
    // long and string keys filter rows through a hash set (see
    // ColumnBridge.inSet): a small `In` list would compile a new class
    // for every new key set
    val keySet: Option[Set[Any]] =
      s.schema.fields.find(_.name == keyCol).map(_.dataType).collect {
        case LongType if values.forall(_.isInstanceOf[Long]) => values.toSet
        case StringType if values.forall(_.isInstanceOf[String]) =>
          values.map(v => org.apache.spark.unsafe.types.UTF8String
            .fromString(v.asInstanceOf[String])).toSet
      }
    val rowFilter = keySet.fold(base)(
      org.apache.spark.sql.graft.ColumnBridge.inSet(col(keyCol), _))
    // probes feed broadcast joins: the bucket claim can't remove an
    // exchange there but would cap scan parallelism at numBuckets
    readEntries(pruneFiles(s, cond), s, claimBucket = false,
      deletes = s.deletes).filter(rowFilter)
  }

  /** Bucket-dir-only point read: every row of the bucket dirs the
    * `keyCol` values hash into, with NO per-value residual filter —
    * for callers that re-join on the key anyway (LSH band probes), a
    * mid-size key set would otherwise compile to a thousands-literal
    * IN whose planning cost eats the pruning win. Degrades to a full
    * read when the values cover every bucket or the table is
    * unbucketed on `keyCol`. */
  def probeBuckets(keyCol: String, values: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = mainSnapshot()
    if (values.isEmpty) return readAt(s).filter(lit(false))
    s.bucketSpec match {
      case Some((c, n)) if c == keyCol && !c.contains(",") =>
        val bucketOf = bucketIds(s)
        val ids = values.map(v => bucketOf(Seq(v))).distinct
        if (ids.size >= n) readAt(s)
        else readWhereAt(s, col(BucketCol).isin(ids: _*), claimBucket = false)
      case _ => readAt(s)
    }
  }

  /** Tiered candidate-provisioning read, the one policy every LSH
    * postings probe shares: small key sets take the full [[probe]]
    * (bucket dirs + manifest IN + parquet pushdown), mid-size sets
    * take [[probeBuckets]] (a thousands-literal IN costs more to
    * plan/push than it prunes), and beyond `maxProbe` a plain full
    * read (the batch is no longer "incremental" relative to the
    * index). Callers re-join on the exact key, so the coarser tiers
    * never change results — only how much gets read. */
  def probeTiered(keyCol: String, values: Seq[Any], maxProbe: Int,
                  inListCap: Int = 2048): DataFrame =
    if (values.length > maxProbe) read()
    else if (values.length <= inListCap) probe(keyCol, values)
    else probeBuckets(keyCol, values)

  /** Commit wall-clock of one retained snapshot (the `_commit_timestamp`
    * CDF column's source) — one metadata-node read. */
  private[graft] def committedAtMs(v: Int): Long = retained(v).committedAtMs

  /** Retained snapshots only (expired versions are absent). `rows`
    * is the REFERENCED file-row total; live merge-on-read delete
    * files (deleteEntries) are not subtracted — an exact live count
    * needs a read (concurrent overlapping deletes may record a
    * position twice, so metadata alone cannot be exact). */
  def snapshots: Seq[SnapshotInfo] =
    retainedVersions.flatMap(readSnapshot).map { s =>
      SnapshotInfo(s.version, s.committedAtMs, s.files.size,
        s.files.map(_.rows).sum)
    }

  // ---- read ----------------------------------------------------------

  /** The MAIN-visible table: the latest snapshot, unless a WAP branch
    * is staging — then the version pinned at `createBranch` (staged
    * commits are invisible here until `publishBranch`). */
  def read(): DataFrame = readAt(mainSnapshot())

  /** Time travel by timestamp (Iceberg's `TIMESTAMP AS OF`): read the
    * latest snapshot committed at or before `tsMs`. Fails when the
    * timestamp predates every retained snapshot (same contract as
    * Iceberg after snapshot expiry). While a WAP branch is staging,
    * eligibility is capped at the pinned main version — a time-travel
    * read at "now" must serve the same state as `read()`, never the
    * staged head (the branch isolation contract; use `readBranch` to
    * see staged data). */
  def readAsOf(tsMs: Long): DataFrame = readVersion(versionAt(tsMs))

  /** The snapshot version a `TIMESTAMP AS OF tsMs` read resolves to:
    * latest committed at or before `tsMs`, capped at the pinned main
    * version while a WAP branch stages (see [[readAsOf]]). */
  def versionAt(tsMs: Long): Int = {
    val cap = mainVersion
    val snaps = retainedVersions.filter(_ <= cap).flatMap(readSnapshot)
    val eligible = snaps.filter(_.committedAtMs <= tsMs)
    require(eligible.nonEmpty,
      s"no snapshot at or before $tsMs at $root " +
        s"(earliest retained: ${snaps.headOption.map(_.committedAtMs)})")
    eligible.last.version
  }

  /** Manifest-derived scan statistics — (rows, bytes) of the files a
    * range analysis of `condition` cannot exclude, at `version`
    * (default: the main-visible snapshot). Metadata-only: no file is
    * opened, no DataFrame is built — what a join planner needs to
    * decide broadcast vs shuffle BEFORE any plan exists. Estimates in
    * the proper direction: MOR deletes are not subtracted and residual
    * row-level filtering is not applied, so the numbers upper-bound
    * the scan (a table reported slightly large never mis-broadcasts). */
  def scanStats(condition: Option[org.apache.spark.sql.Column] = None,
                version: Option[Int] = None): (Long, Long) = {
    val s = version.map(snapshotAt).getOrElse(mainSnapshot())
    val entries = condition match {
      case Some(c) => pruneFiles(s, c)
      case None    => s.files
    }
    (entries.map(_.rows).sum, entries.map(_.sizeBytes).sum)
  }

  /** Time travel: read the file set of any committed snapshot, under the
    * CURRENT schema of that snapshot (old files missing later-added
    * columns surface them as null; files written before a type widening
    * are upcast by the parquet reader — verified int32->long and
    * float->double on both the vectorized and row-based paths; files
    * written before a rename surface their data under the new name via
    * field-ID resolution). */
  def readVersion(v: Int): DataFrame = readAt(snapshotAt(v))

  private def readAt(s: Snapshot): DataFrame =
    readEntries(s.files, s, deletes = s.deletes)

  /** Plan a read of `entries` under snapshot `snap`'s schema and bucket
    * layout, resolving each file's
    * physical columns to current columns BY FIELD ID (Iceberg
    * semantics). Files whose physical names already equal their current
    * names — the overwhelmingly common case — share one scan, identical
    * to the pre-rename plan; only files actually written before a
    * rename (or carrying a retired ID whose name was reused) get a
    * per-epoch scan with an aliasing projection, and the union of those
    * scans stays fully distributed, prunable, and pushdown-friendly. */
  private def readEntries(entries: Seq[FileEntry], snap: Snapshot,
                          tag: Boolean = false,
                          claimBucket: Boolean = true,
                          tagPos: Boolean = false,
                          deletes: Seq[DeleteEntry] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol}
    val snapSchema = snap.schema
    val ids = snap.fieldIds
    val tagged = StructType(snapSchema.fields ++
      (if (tag) Seq(StructField(FileTag, StringType, nullable = false))
       else Nil) ++
      (if (tagPos) Seq(StructField(PosTag, LongType, nullable = false))
       else Nil))
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tagged)
    // merge-on-read position deletes: rows named by any RELEVANT
    // delete file (covers-pruned — a delete file referencing none of
    // the scanned data files cannot match) are anti-joined away on
    // (file, position). The file key is the terminal UUID FILE NAME,
    // not a reconstructed absolute path: _metadata.file_path is
    // URI-encoded while manifest paths are not, so prefix surgery
    // would silently fail on roots/partition dirs containing
    // URI-special characters — UUID names are encoding-invariant and
    // unique per table by construction (the same uniqueness
    // writeManifest's putIfAbsent relies on). Name-keying also makes
    // delete files relocation-proof for free.
    val entryPaths = entries.map(_.path).toSet
    val posDeletes = deletes.filter(e =>
      e.kind != "eq" && e.covers.exists(entryPaths.contains))
    // an equality delete is relevant iff some scanned file PREDATES it
    // (rows appended at or after its seq are out of its scope); its
    // key columns must still exist — rename/drop of a live eq-delete
    // key is blocked at alter time, so absence here is corruption,
    // not a skippable condition (skipping would resurrect rows)
    val minEntrySeq =
      if (entries.isEmpty) Long.MaxValue else entries.map(_.seq).min
    val eqDeletes = deletes.filter(e =>
      e.kind == "eq" && e.seq > minEntrySeq)
    eqDeletes.foreach(e => e.keyCols.foreach(c =>
      require(snapSchema.fieldNames.contains(c),
        s"equality-delete key column $c (of ${e.path}) missing from " +
          s"schema at $root")))
    lazy val delKeyed: DataFrame = {
      import org.apache.spark.sql.functions.substring_index
      spark.read.schema(deleteSchema)
        .parquet(posDeletes.map(e => s"$root/${e.path}"): _*)
        .select(
          substring_index(fcol(DeleteFileCol), "/", -1).as("__dn"),
          fcol(DeletePosCol).as("__dpp"))
    }
    // per-row data sequence number, recovered from the (metadata-scale)
    // fileName -> seq map — UUID names are unique and encoding-stable
    lazy val seqByName: DataFrame = {
      val sp2 = spark
      import sp2.implicits._
      entries.map(e => (e.path.split("/").last, e.seq))
        .toDF("__fn", "__fseq")
    }
    def finish(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.functions.{broadcast, lit, substring_index}
      val needFp = tag || posDeletes.nonEmpty || eqDeletes.nonEmpty
      val needPos = tagPos || posDeletes.nonEmpty
      var d = df
      if (needFp) d = d.withColumn(FileTag, fcol("_metadata.file_path"))
      if (needPos) d = d.withColumn(PosTag, fcol("_metadata.row_index"))
      if (posDeletes.nonEmpty) {
        d = d.withColumn("__fn",
          substring_index(fcol(FileTag), "/", -1))
        d = d.join(delKeyed,
          d("__fn") === delKeyed("__dn") &&
            d(PosTag) === delKeyed("__dpp"), "left_anti")
          .drop("__fn")
      }
      if (eqDeletes.nonEmpty) {
        d = d.withColumn("__fn",
            substring_index(fcol(FileTag), "/", -1))
          .join(broadcast(seqByName), Seq("__fn"))
        // one anti-join per key-column set: delete keys (null-safe
        // equality, Iceberg semantics) scoped to rows whose file
        // predates the delete — re-inserted keys survive
        eqDeletes.groupBy(_.keyCols).foreach { case (cols, es) =>
          val keySchema = StructType(cols.map(c => snapSchema(c)))
          val keysDf = es.map(e =>
            spark.read.schema(keySchema).parquet(s"$root/${e.path}")
              .withColumn("__dseq", lit(e.seq)))
            .reduce(_ unionByName _)
          val renamed = cols.foldLeft(keysDf)((x, c) =>
            x.withColumnRenamed(c, s"__eq_$c"))
          val cond = cols.map(c => d(c) <=> renamed(s"__eq_$c"))
            .reduce(_ && _) && d("__fseq") < renamed("__dseq")
          d = d.join(renamed, cond, "left_anti")
        }
        d = d.drop("__fn").drop("__fseq")
      }
      if (needFp && !tag) d = d.drop(FileTag)
      if (needPos && !tagPos) d = d.drop(PosTag)
      d
    }
    val idToField: Map[Int, StructField] =
      snapSchema.fields.flatMap(f => ids.get(f.name).map(_ -> f)).toMap
    val currentNames = snapSchema.fieldNames.toSet

    // a file reads correctly BY NAME iff every live column sits at its
    // current name and no retired column's name shadows a current one
    def nameCompatible(e: FileEntry): Boolean =
      e.cols.forall { case (physName, id) =>
        idToField.get(id) match {
          case Some(f) => f.name == physName        // live, un-renamed
          case None    => !currentNames.contains(physName) // retired, no shadow
        }
      }

    val (byName, byId) = entries.partition(nameCompatible)

    // the partition columns a FILE was actually written under — its
    // spec epoch. After partition-spec evolution, epochs coexist in
    // one table; every scan below is built per epoch, so partition
    // discovery never sees two layouts at once.
    def epochCols(e: FileEntry): Seq[String] =
      e.path.split("/").filter(_.contains("="))
        .map(_.split("=", 2)(0)).toSeq

    def baseRead(paths: Seq[String], s: StructType,
                 parts: Seq[String]): DataFrame =
      if (parts.isEmpty) spark.read.schema(s).parquet(paths: _*)
      else
        // hive-style partition dirs live directly under data/ — basePath
        // lets Spark recover partition columns AND prune partitions from
        // filters before touching any file
        spark.read.option("basePath", s"$root/data")
          .schema(s).parquet(paths: _*)

    // Manifest-served planning: every entry carries its size, so the
    // scan is built from manifest metadata alone — ZERO driver-side
    // filesystem listing (spark.read stats every path before
    // planning; on an object store that is one HEAD per file, the
    // dominant constant of a bucket-pruned probe). Partition values
    // are decoded from the manifest paths with the same escape rules
    // the writer used. Falls back to listing-based planning for
    // partition types it does not decode.
    def manifestRead(es: Seq[FileEntry], s: StructType,
                     parts: Seq[String]): Option[DataFrame] = {
      if (!parts.forall(s.fieldNames.contains)) return None
      val partSchema = StructType(parts.map(p => s(p)))
      val dataSchema =
        StructType(s.fields.filterNot(f => parts.contains(f.name)))
      def partValues(e: FileEntry): Option[Seq[Any]] = {
        val segs = e.path.split("/").filter(_.contains("=")).map { seg =>
          val Array(k, raw) = seg.split("=", 2)
          k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(raw)
        }.toMap
        val vs = partSchema.fields.map { f =>
          segs.get(f.name).map {
            case "__HIVE_DEFAULT_PARTITION__" => Some(null)
            case v => try f.dataType match {
              case ByteType    => Some(v.toByte)
              case ShortType   => Some(v.toShort)
              case IntegerType => Some(v.toInt)
              case LongType    => Some(v.toLong)
              case FloatType   => Some(v.toFloat)
              case DoubleType  => Some(v.toDouble)
              case StringType  => Some(v)
              case BooleanType => Some(v.toBoolean)
              case _           => None // exotic type: fall back
            } catch { case _: IllegalArgumentException => None }
          }.getOrElse(None) // partition col absent from path: fall back
        }
        if (vs.exists(_.isEmpty)) None else Some(vs.map(_.get).toSeq)
      }
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def qualified(e: FileEntry): String =
        fs.makeQualified(new org.apache.hadoop.fs.Path(s"$root/${e.path}"))
          .toString
      val grouped = es.map(e => partValues(e).map(_ -> e))
      if (grouped.exists(_.isEmpty)) return None
      val partitions = grouped.flatten
        .groupBy(_._1)
        .map { case (vals, ges) =>
          org.apache.spark.sql.graft.ManifestScan.ManifestPartition(vals,
            ges.map { case (_, e) =>
              (qualified(e), e.sizeBytes, e.modTimeMs)
            })
        }.toSeq
      // Surface the bucket layout to Catalyst as a first-class V1
      // BucketSpec when it is PROVABLY Spark's own: every live file's
      // name-encoded bucket id (what FileSourceScanExec trusts) agrees
      // with its _bucket dir (what the writer computed with Spark's
      // bucket hash). Co-bucketed joins and bucket-key aggregations
      // then plan with zero exchange on this side. Mixed-name file
      // sets read unbucketed — the claim is simply not made.
      //
      // The claim is NOT free: a bucketed scan caps its parallelism at
      // numBuckets (files can't split or pack across buckets), and
      // when a join key merely EQUALS the bucket column Spark keeps
      // the bucketed scan for its exchange saving even where the join
      // is broadcast anyway. Callers whose plans can't benefit — the
      // probe family, whose downstream joins are all broadcast, and
      // compaction rewrites, which have no join at all — pass
      // claimBucket=false and read at full parallelism (measured 1.5x
      // end-to-end on the incremental-dedup path at 8 buckets vs 32
      // cores).
      val bucketCols = snap.bucketCols
      val v1Bucket = if (!claimBucket) None else snap.bucketSpec.collect {
        case (_, n) if bucketCols.forall(dataSchema.fieldNames.contains) &&
            es.forall { e =>
              val segs = e.path.split("/")
              val dirId = segs.collectFirst {
                case seg if seg.startsWith(s"${LakeTable.BucketCol}=") =>
                  seg.split("=", 2)(1).toIntOption
              }.flatten
              dirId.isDefined && org.apache.spark.sql.graft.ManifestScan
                .fileBucketId(segs.last) == dirId
            } =>
          org.apache.spark.sql.catalyst.catalog.BucketSpec(
            n, bucketCols, Nil)
      }
      val df = org.apache.spark.sql.graft.ManifestScan.parquet(
        spark, dataSchema, partSchema, partitions, s"$root/data",
        bucketSpec = v1Bucket)
      // relation output is dataSchema ++ partSchema: restore s's order
      Some(df.select(s.fieldNames.map(fcol).toSeq: _*))
    }

    // one scan per spec EPOCH: each group's partition schema is the
    // columns its files' paths actually encode (intersected with the
    // live schema — an old identity partition column since dropped is
    // simply not served). Current-spec columns a file's epoch lacks
    // ride in its dataSchema and read back as null, which is exactly
    // the evolution contract.
    val nameScans = byName.groupBy(epochCols).map { case (cols, es) =>
      val parts = cols.filter(snapSchema.fieldNames.contains)
      val b = manifestRead(es, snapSchema, parts).getOrElse(
        baseRead(es.map(e => s"$root/${e.path}"), snapSchema, parts))
      finish(b)
    }.toSeq

    val idScans = byId.groupBy(e => (e.cols, epochCols(e)))
        .map { case ((cols, epoch), es) =>
      val live = cols.filter { case (_, id) => idToField.contains(id) }
      // physical read schema: the file's own names, the CURRENT (possibly
      // widened) types; retired columns are simply not read
      val physSchema = StructType(live.map { case (physName, id) =>
        StructField(physName, idToField(id).dataType, nullable = true)
      })
      val liveById = live.map { case (pn, id) => id -> pn }.toMap
      import org.apache.spark.sql.functions.{col, lit}
      val projection = snapSchema.fields.map { f =>
        liveById.get(ids(f.name)) match {
          case Some(physName) => col(physName).as(f.name)
          case None           => lit(null).cast(f.dataType).as(f.name)
        }
      }
      finish(baseRead(es.map(e => s"$root/${e.path}"), physSchema,
          epoch.filter(physSchema.fieldNames.contains))
        .select(projection.toSeq: _*))
    }

    (nameScans ++ idScans).reduce(_ unionByName _)
  }

  /** Incremental read: only rows in files committed AFTER `fromVersion`
    * (CDC-style append diff — the snapshot log makes this a file-list
    * set difference, no data diffing). */
  def changesSince(fromVersion: Int): DataFrame =
    changesBetween(fromVersion, mainVersion) // WAP: staged commits
                                             // are not deltas yet

  /** Retained snapshot `v`; fails an incremental read whose checkpoint
    * lags the retention policy, instead of the raw NoSuchFileException
    * a vacuumed snapshot would throw mid-plan. The contract: an incremental
    * consumer must advance its offset faster than
    * `snapshots.auto.keepLast` expires history; a consumer that
    * paused past retention has no exact delta left and must resync
    * from a full read. */
  private def retained(v: Int): Snapshot = readSnapshot(v).getOrElse(
    throw new IllegalStateException(
      s"snapshot $v of table at $root has been expired by " +
      "the retention policy (snapshots.auto.keepLast / " +
      "expireSnapshots); the incremental consumer's checkpoint lags " +
      "retention — resync from a full read or raise keepLast"))

  /** Rows in files committed in versions (from, to] — the bounded form
    * of [[changesSince]] for consumers that must not read past an
    * already-announced offset (e.g. a streaming curation MV whose
    * micro-batch covers an exact version range; commits racing in
    * after `to` belong to the NEXT batch, not this one).
    *
    * Compaction commits (appMeta `compaction=true`) are SKIPPED by a
    * per-version walk: they rewrite existing rows into fewer files and
    * add nothing, so re-presenting their output as "added" would
    * reprocess the whole table in one micro-batch (correct under an
    * idempotent consumer, but O(table) — the failure mode that turns a
    * continuous curation loop quadratic once auto-compaction kicks
    * in). The pre-compaction originals stay readable: retention keeps
    * every file referenced by any retained snapshot, and the version
    * they were added at is retained by [[retained]]'s guard.
    * When a NON-row-preserving rewrite (delete/upsert) sits in the
    * range — or an intermediate snapshot is missing — per-version
    * attribution is ambiguous, and the walk falls back to the plain
    * set-difference superset (re-emission of rewritten survivors; an
    * idempotent/fp-frontier consumer absorbs it). */
  def changesBetween(fromVersion: Int, toVersion: Int): DataFrame = {
    val fromPaths =
      if (fromVersion < 0) Set.empty[String]
      else retained(fromVersion).files.map(_.path).toSet
    val to = snapshotAt(toVersion)
    def setDiff(): DataFrame =
      readEntries(to.files.filterNot(f => fromPaths.contains(f.path)), to)
    val steps = (math.max(0, fromVersion + 1) to toVersion).map(v =>
      if (v == toVersion) Some(to) else readSnapshot(v))
    if (steps.exists(_.isEmpty)) return setDiff()
    var prevPaths = fromPaths
    val newEntries = Seq.newBuilder[FileEntry]
    for (s <- steps.flatten) {
      val paths = s.files.map(_.path).toSet
      val removed = prevPaths.diff(paths)
      if (!s.isCompaction && removed.nonEmpty) return setDiff()
      if (!s.isCompaction)
        newEntries ++= s.files.filterNot(f => prevPaths.contains(f.path))
      prevPaths = paths
    }
    readEntries(newEntries.result(), to)
  }

  /** Snapshot `v`'s data files WITH its live merge-on-read delete
    * entries — the planning input of the streaming read's delete-aware
    * initial batch ([[graft.sources.GraftLakeMicroBatchStream]]). */
  private[graft] def snapshotWithDeletes(v: Int)
      : (Seq[FileEntry], Seq[LakeTable.DeleteEntry]) = {
    val s = retained(v)
    (s.files, s.deletes)
  }

  /** Metadata-only walk of versions (from, to]: per version, the data
    * files it ADDED (empty for compactions — rewrites carry no new
    * rows) and whether it may have REMOVED rows (new delete entries /
    * dropped files; compactions excepted — their drop is the rewrite).
    * This is the planning currency of the catalog table's streaming
    * read ([[GraftSqlTable]] MICRO_BATCH_READ): one entry list per
    * commit, no file opened. Fails on an expired version — a
    * checkpoint that fell behind the retention window must restart
    * rather than silently skip history. */
  def addedEntriesBetween(from: Int, to: Int)
      : Seq[(Int, Seq[FileEntry], Boolean)] = {
    val base = if (from < 0) None else Some(retained(from))
    var prevPaths: Set[String] =
      base.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    var prevDels: Set[String] =
      base.map(_.deletes.map(_.path).toSet).getOrElse(Set.empty)
    (math.max(0, from + 1) to to).map { v =>
      val s = retained(v)
      val paths = s.files.map(_.path).toSet
      val dels = s.deletes.map(_.path).toSet
      val added =
        if (s.isCompaction) Nil
        else s.files.filterNot(f => prevPaths.contains(f.path))
      val removes = !s.isCompaction &&
        (dels.exists(!prevDels.contains(_)) ||
          prevPaths.exists(!paths.contains(_)))
      prevPaths = paths
      prevDels = dels
      (v, added, removes)
    }
  }

  /** Metadata-only walk of versions (from, to] carrying the FULL
    * before/after file and delete-entry sets of every step — the
    * planning currency of the streaming CHANGELOG read
    * ([[graft.sources.GraftLakeChangesMicroBatchStream]]), which
    * decomposes each commit into file-grained (op, row) partitions:
    * files REMOVED by the commit serve their live rows as deletes,
    * files ADDED serve theirs as inserts, and files whose
    * merge-on-read delete SCOPE grew serve exactly the newly-deleted
    * rows. One snapshot read per version, no data file opened.
    * Fails on an expired version — a checkpoint that fell behind the
    * retention window must restart rather than silently skip. */
  private[graft] def changeStepsBetween(from: Int, to: Int)
      : Seq[LakeTable.ChangeStep] = {
    var prev = retained(from)
    (from + 1 to to).map { v =>
      val s = retained(v)
      val step = LakeTable.ChangeStep(v, prev.files, s.files, prev.deletes,
        s.deletes, s.isCompaction, s.appMeta.get("cdf.op").contains("update"),
        s.committedAtMs)
      prev = s
      step
    }
  }

  // ---- ROW-LEVEL CHANGELOG (Iceberg changelog scan / Delta CDF) ------
  //
  // [[changesBetween]] is the INSERT-ONLY incremental feed (what a
  // curation MV consumes; re-emission allowed, deletes invisible).
  // This is the full-fidelity sibling: NET row-level changes between
  // two retained snapshots, each row tagged `_change_type` `insert` or
  // `delete` — what a downstream index, replica, or audit needs to
  // stay exactly in sync with a table that takes merge-on-read
  // deletes and upserts (a GDPR forget MUST propagate as deletes; the
  // insert-only feed structurally cannot carry it).
  //
  // Cost is the whole design: the diff runs over CHANGED FILES ONLY.
  // A data file contributes identically to both snapshots iff it is
  // present in both with the same effective delete scope (the set of
  // delete files applying to it — position deletes by `covers`,
  // equality deletes by seq predicate), so those files cancel out of
  // the multiset difference BY METADATA and are never read. Pure
  // appends therefore cost O(new files) with no shuffle at all (fast
  // path below); a merge-on-read delete costs O(files it covers). A
  // compaction in range nets to ZERO rows — an all-compaction range
  // short-circuits to empty by the `compaction=true` marker; a mixed
  // range pays a diff of the rewritten files to prove the zero
  // (cost O(rewritten in range), correctness unconditional — rewrites
  // rename files, so path identity cannot cancel them by metadata).
  // At 100 TB the changelog for a daily delta touches the delta,
  // never the table.
  //
  // Net semantics: a row inserted then deleted INSIDE the range emits
  // nothing; an upsert emits the old version as `delete` and the new
  // as `insert`. Schema changes in range are aligned by FIELD ID onto
  // the `to` snapshot's column set (renamed columns diff as one
  // column; columns added in range surface `from`-side rows as null,
  // exactly how a reader of the new schema sees them).
  def readChangelog(fromVersion: Int, toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion <= toVersion,
      s"changelog range is [from <= to], got ($fromVersion, $toVersion)")
    val nF = retained(fromVersion)
    val nT = retained(toVersion)
    // all-compaction range: row-preserving by the strict-replace
    // commit contract, so the changelog is empty by metadata alone
    val steps = (fromVersion + 1) to toVersion
    if (steps.nonEmpty && steps.forall(v =>
        (if (v == toVersion) Some(nT) else readSnapshot(v))
          .exists(_.isCompaction)))
      return readEntries(Nil, nT).withColumn("_change_type", lit("insert"))
    val filesF = nF.files; val filesT = nT.files
    val delF = nF.deletes; val delT = nT.deletes
    // Effective delete scope of one data file under one snapshot's
    // delete set — the METADATA identity that decides whether the
    // file's visible rows can differ between the snapshots. Equality
    // deletes key on the seq predicate (e.seq > f.seq), position
    // deletes on explicit covers; the sorted delete-file paths are a
    // stable fingerprint because delete files are immutable and
    // UUID-named (same reasoning as the manifest cache).
    def scope(f: FileEntry, dels: Seq[DeleteEntry]): Set[String] =
      dels.collect {
        case e if e.kind == "eq" && e.seq > f.seq => e.path
        case e if e.kind != "eq" && e.covers.contains(f.path) => e.path
      }.toSet
    val scopeF = filesF.map(f => f.path -> scope(f, delF)).toMap
    val scopeT = filesT.map(f => f.path -> scope(f, delT)).toMap
    val unchanged: Set[String] = filesF.collect {
      case f if scopeT.get(f.path).contains(scopeF(f.path)) => f.path
    }.toSet
    // GDPR fast path: a file present in BOTH snapshots whose scope
    // grew ONLY by equality deletes sharing one key-column set can
    // only have LOST rows, and exactly those matching the entries'
    // committed keys — so its deletes come from one key semi-join
    // (broadcast-sized right side) instead of a two-sided multiset
    // diff. A "forget these users" commit on a large table thus
    // produces its changelog with ZERO exceptAll shuffles: one scan
    // of the covered files, key-filtered map-side. Excluding these
    // files from the general diff preserves it exactly: they appear
    // on both sides with identical surviving-row multisets, which
    // cancel regardless.
    val delTByPath = delT.map(e => e.path -> e).toMap
    val pathsT = filesT.map(_.path).toSet
    val sF = nF.schema
    val grewByEq: Map[Seq[String], Seq[FileEntry]] = filesF
      .filter(f => pathsT.contains(f.path) && !unchanged.contains(f.path))
      .flatMap { f =>
        val added = (scopeT(f.path) -- scopeF(f.path)).toSeq.sorted
        val shrank = (scopeF(f.path) -- scopeT(f.path)).nonEmpty
        val es = added.flatMap(delTByPath.get)
        // the fast path semi-joins under the FROM schema, so it only
        // applies when every key column already exists there — an
        // equality delete keying on a column ADDED inside the range
        // falls through to the general multiset diff (which reads both
        // sides and needs no key projection)
        if (!shrank && es.nonEmpty && es.size == added.size &&
            es.forall(e => e.kind == "eq" &&
              e.keyCols == es.head.keyCols) &&
            es.head.keyCols.forall(sF.fieldNames.contains))
          Some(added -> f)
        else None
      }.groupBy(_._1).map { case (p, fs) => p -> fs.map(_._2) }
    val fastPaths: Set[String] =
      grewByEq.values.flatten.map(_.path).toSet
    val chF = filesF.filterNot(f =>
      unchanged.contains(f.path) || fastPaths.contains(f.path))
    val chT = filesT.filterNot(f =>
      unchanged.contains(f.path) || fastPaths.contains(f.path))
    val ct = "_change_type"
    val fastDeletes: Option[DataFrame] =
      if (grewByEq.isEmpty) None
      else Some(grewByEq.map { case (entryPaths, fs) =>
        val keyCols = delTByPath(entryPaths.head).keyCols
        val keySchema = StructType(keyCols.map(c => sF(c)).toSeq)
        val keys = spark.read.schema(keySchema)
          .parquet(entryPaths.map(p => s"$root/$p"): _*)
        // manifest-stats prune before any file read: a covered file
        // whose [lo, hi] ranges cannot hold ANY committed key emits
        // nothing — so the forget's changelog reads O(files that can
        // hold the keys), not O(files predating the delete), exactly
        // like the streaming face's growth prune. One tiny
        // distributed agg over the key files buys the bounds.
        val base = readEntries(pruneByKeyBounds(fs, keys, keyCols),
          nF, deletes = delF)
        // null-safe equality on the key tuple — Iceberg eq-delete
        // semantics, identical to the read path's anti-join
        val cond = keyCols.map(c => base(c) <=> keys(c)).reduce(_ && _)
        alignByFieldId(base.join(keys, cond, "left_semi"), nF, nT)
      }.reduce(_ unionByName _))
    def withFast(df: DataFrame): DataFrame = fastDeletes match {
      case Some(fd) => df.unionByName(fd.withColumn(ct, lit("delete")))
      case None => df
    }
    // deletes visible on changed from-files still apply (covers /
    // seq-scoped inside readEntries, restricted to the subset read)
    def side(entries: Seq[FileEntry], n: Snapshot,
             dels: Seq[DeleteEntry]): DataFrame =
      alignByFieldId(readEntries(entries, n, deletes = dels), n, nT)
    if (chF.isEmpty && chT.isEmpty)
      return withFast(side(Nil, nT, Nil).withColumn(ct, lit("insert")))
    if (chF.isEmpty) // pure append(s): no diff shuffle, scan new files
      return withFast(side(chT, nT, delT).withColumn(ct, lit("insert")))
    val before = side(chF, nF, delF)
    val after = side(chT, nT, delT)
    if (chT.isEmpty)
      return withFast(before.withColumn(ct, lit("delete")))
    withFast(after.exceptAll(before).withColumn(ct, lit("insert"))
      .unionByName(before.exceptAll(after).withColumn(ct, lit("delete"))))
  }

  /** Files of `fs` whose per-column [lo, hi] footer stats can hold at
    * least one of `keys`' tuples, by PER-COLUMN BOUNDS of the key set
    * (one small agg job over the key files — min, max, any-null per
    * column). Conservative everywhere a wrong prune could lurk: a
    * column without file stats or without an orderable bound never
    * prunes, null keys keep every file not proven null-free, and a
    * floating bound at zero widens to the {-0.0, +0.0} class (SQL
    * equality does not order the zeros, `Double.compare` does). */
  private def pruneByKeyBounds(fs: Seq[FileEntry], keys: DataFrame,
                               keyCols: Seq[String]): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.{col => fcol, max => fmax, min => fmin, sum => fsum, when}
    if (fs.isEmpty) return fs
    val aggs = keyCols.flatMap(c => Seq(
      fmin(fcol(s"`$c`")).as(s"lo_$c"),
      fmax(fcol(s"`$c`")).as(s"hi_$c"),
      fsum(when(fcol(s"`$c`").isNull, 1L).otherwise(0L)).as(s"n_$c")))
    val row = keys.agg(aggs.head, aggs.tail: _*).head
    def norm(v: Any): Option[Any] = v match {
      case null => None
      case x: Byte => Some(x.toLong); case x: Short => Some(x.toLong)
      case x: Int => Some(x.toLong);  case x: Long => Some(x)
      case x: Float => Some(x.toDouble); case x: Double => Some(x)
      case x: Boolean => Some(x); case x: String => Some(x)
      case _ => None
    }
    def widen(v: Any, lowSide: Boolean): Any = v match {
      case d: Double if d == 0.0d => if (lowSide) -0.0d else 0.0d
      case o => o
    }
    val bounds = keyCols.map { c =>
      val rawLo = row.getAs[Any](s"lo_$c")
      val rawHi = row.getAs[Any](s"hi_$c")
      val lo = norm(rawLo).map(widen(_, lowSide = true))
      val hi = norm(rawHi).map(widen(_, lowSide = false))
      // a NON-NULL bound of a type norm can't order (timestamp, date,
      // decimal, ...) must never prune — "no bound" is only safe to
      // act on when it means "every key is null"
      val unorderable =
        (rawLo != null && lo.isEmpty) || (rawHi != null && hi.isEmpty)
      val hasNull = Option(row.getAs[Any](s"n_$c"))
        .exists(_.asInstanceOf[Long] > 0L)
      (c, lo, hi, hasNull, unorderable)
    }
    fs.filter(e => bounds.forall {
      case (c, lo, hi, hasNull, unorderable) =>
        unorderable ||
          (hasNull && !e.nullCounts.get(c).contains(0L)) ||
          ((lo, hi) match {
            case (Some(l), Some(h)) => e.stats.get(c).forall(st =>
              LakeTable.cmpStat(st.lo, h).forall(_ <= 0) &&
                LakeTable.cmpStat(l, st.hi).forall(_ <= 0))
            case _ => false // all keys null; null-capable files kept
                            // by the hasNull clause above
          })
    })
  }

  /** Project `df` (read under snapshot `from`) onto snapshot `to`'s
    * column set, matching columns BY FIELD ID — the changelog's two
    * sides must diff under one schema even when a rename/add/widen
    * landed inside the range. Columns added after `from` surface as
    * null; columns dropped before `to` drop out of the diff (their
    * retired values are unobservable under the `to` schema, which is
    * the changelog's contract). */
  private def alignByFieldId(df: DataFrame, from: Snapshot,
                             to: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.{col => fcol, lit}
    val (fromSchema, fromIds) = (from.schema, from.fieldIds)
    val (toSchema, toIds) = (to.schema, to.fieldIds)
    if (fromSchema == toSchema && fromIds == toIds) return df
    val nameById = fromIds.map(_.swap)
    df.select(toSchema.fields.toIndexedSeq.map { f =>
      toIds.get(f.name).flatMap(nameById.get)
        .filter(n => fromSchema.fieldNames.contains(n)) match {
        case Some(fromName) =>
          fcol(s"`$fromName`").cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** Metadata-pruned read, Iceberg-manifest-style: every data file
    * carries per-column [lo, hi] footer stats in the snapshot, so files
    * whose ranges PROVE no row can match `condition` are dropped before
    * any scan is planned — a driver-side metadata decision, no file is
    * opened. At 100 TB this is the layer above parquet row-group
    * skipping: the planner never even lists the files a selective
    * predicate can't touch (pair with `compactSorted`/`compactZOrder`,
    * which make per-file ranges narrow in the first place).
    *
    * Semantics are identical to `read().filter(condition)`: pruning
    * only excludes provably-unmatchable files; conjuncts it can't
    * analyze (functions, OR trees, columns without stats — e.g. after
    * a rename) prune nothing and are enforced by the residual filter,
    * which always runs in full. IS NULL / IS NOT NULL conjuncts prune
    * via exact per-file null counts (Iceberg manifest shape), and any
    * value comparison additionally excludes all-null files. */
  def readWhere(condition: org.apache.spark.sql.Column,
                claimBucket: Boolean = true): DataFrame =
    // ONE snapshot read: schema, field ids, file list, and the
    // position-delete set must come from the same snapshot — separate
    // latest() calls could interleave with a commit and e.g. plan a
    // just-added file against a delete set that predates it. Resolves
    // the MAIN-visible snapshot (WAP pin while a branch stages).
    readWhereAt(mainSnapshot(), condition, claimBucket)

  private def readWhereAt(s: Snapshot, condition: org.apache.spark.sql.Column,
                          claimBucket: Boolean): DataFrame =
    readEntries(pruneFiles(s, condition), s, claimBucket = claimBucket,
      deletes = s.deletes).filter(condition)

  /** Snapshot read exposing each row's merge-on-read COORDINATES — the
    * manifest-relative data file ([[LakeTable.RowFileCol]] `_file`) and
    * row position ([[LakeTable.RowPosCol]] `_pos`) — alongside the data
    * columns. This is the rowId surface a delta-based SQL row-level
    * operation (UPDATE / MERGE / non-translatable DELETE) scans, and
    * the currency [[applyRowDelta]] accepts back; Iceberg exposes the
    * same pair as its `_file`/`_pos` metadata columns. Snapshot-
    * consistent (one metadata read), MOR deletes applied (an already-
    * deleted row is never re-addressed), files pruned by `condition`'s
    * range analysis when given (the residual filter is re-applied
    * row-level). The file key is recovered by joining the scan's UUID
    * file NAME against the snapshot's entries — never by string
    * surgery on `_metadata.file_path`, whose URI encoding differs from
    * manifest paths (see [[deleteWherePositional]]). */
  def readWithRowCoords(
      condition: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    val s = mainSnapshot()
    require(!s.schema.fieldNames.contains(RowFileCol) &&
      !s.schema.fieldNames.contains(RowPosCol),
      s"table at $root has a data column named $RowFileCol/$RowPosCol " +
        "— the row-coordinate names are reserved (Spark shadows the " +
        "metadata columns, so row-level SQL DML cannot address rows " +
        "of this table; rename the column)")
    val entries = condition match {
      case Some(c) => pruneFiles(s, c)
      case None    => s.files
    }
    val sp = spark
    import sp.implicits._
    val nameRel = entries.map(e => (e.path.split("/").last, e.path))
      .toDF("__fn", RowFileCol)
    val out = readEntries(entries, s, tag = true,
        tagPos = true, deletes = s.deletes)
      .withColumn("__fn", substring_index(col(FileTag), "/", -1))
      .join(broadcast(nameRel), Seq("__fn"))
      .withColumnRenamed(PosTag, RowPosCol)
      .drop("__fn", FileTag)
    condition.map(out.filter).getOrElse(out)
  }

  /** The files a range analysis of `condition` cannot exclude, from
    * the CURRENT snapshot. */
  private[lake] def pruneFiles(condition: org.apache.spark.sql.Column)
      : Seq[FileEntry] = pruneFiles(latest(), condition)

  /** [[pruneFiles]] over snapshot `s`'s files, with `s`'s transforms. */
  private def pruneFiles(s: Snapshot, condition: org.apache.spark.sql.Column)
      : Seq[FileEntry] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    def norm(v: Any): Option[Any] = v match {
      case null => None
      case x: Byte => Some(x.toLong)
      case x: Short => Some(x.toLong)
      case x: Int => Some(x.toLong)
      case x: Long => Some(x)
      case x: Float => if (x.isNaN) None else Some(x.toDouble)
      case x: Double => if (x.isNaN) None else Some(x)
      case x: Boolean => Some(x)
      case x: String => Some(x)
      case x: org.apache.spark.unsafe.types.UTF8String => Some(x.toString)
      case _ => None // dates/decimals etc: no pruning, still correct
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litVal(e: Expression): Option[Any] = e match {
      case Literal(v, _) => norm(v)
      case _ => None
    }
    // comparisons arrive unresolved (UnresolvedFunction("<", …)) from
    // the Column AST, or resolved (LessThan) from catalyst-built trees:
    // normalize both to (op, left, right)
    def binOp(e: Expression): Option[(String, Expression, Expression)] =
      e match {
        case f: UnresolvedFunction if f.arguments.size == 2 &&
            f.nameParts.size == 1 &&
            Set("<", "<=", ">", ">=", "=", "==", "<=>")(f.nameParts.head) =>
          // <=> with a NON-NULL literal behaves as = for range checks
          // (a null literal never canonicalizes: litVal(null) is None,
          // so it falls back to no-prune / no-proof — conservative)
          val op =
            if (Set("==", "<=>")(f.nameParts.head)) "="
            else f.nameParts.head
          Some((op, f.arguments(0), f.arguments(1)))
        case LessThan(l, r)           => Some(("<", l, r))
        case LessThanOrEqual(l, r)    => Some(("<=", l, r))
        case GreaterThan(l, r)        => Some((">", l, r))
        case GreaterThanOrEqual(l, r) => Some((">=", l, r))
        case EqualTo(l, r)            => Some(("=", l, r))
        case EqualNullSafe(l, r)      => Some(("=", l, r))
        case _ => None
      }
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="
      case ">" => "<"; case ">=" => "<="; case o => o
    }
    def inList(e: Expression): Option[(Expression, Seq[Expression])] =
      e match {
        case f: UnresolvedFunction
            if f.nameParts == Seq("in") && f.arguments.nonEmpty =>
          Some((f.arguments.head, f.arguments.tail))
        case In(a, vs) => Some((a, vs))
        case _ => None
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction
          if f.nameParts == Seq("and") && f.arguments.size == 2 =>
        conjuncts(f.arguments(0)) ++ conjuncts(f.arguments(1))
      case other => Seq(other)
    }
    // canonical "col OP literal" (literal-first comparisons flip)
    def cano(e: Expression): Option[(String, String, Any)] =
      binOp(e).flatMap {
        case (op, a, l) if attrName(a).isDefined =>
          litVal(l).map((attrName(a).get, op, _))
        case (op, l, a) if attrName(a).isDefined =>
          litVal(l).map((attrName(a).get, flip(op), _))
        case _ => None
      }
    // can a file with range st possibly satisfy "col OP v"? Unknown
    // comparisons (cross-type) answer true — never a wrong prune.
    def possible(op: String, v: Any, st: ColStat): Boolean = op match {
      case "=" => cmpStat(v, st.lo).forall(_ >= 0) &&
        cmpStat(v, st.hi).forall(_ <= 0)
      case ">"  => cmpStat(st.hi, v).forall(_ > 0)
      case ">=" => cmpStat(st.hi, v).forall(_ >= 0)
      case "<"  => cmpStat(st.lo, v).forall(_ < 0)
      case "<=" => cmpStat(st.lo, v).forall(_ <= 0)
    }
    // IS NULL / IS NOT NULL, in both the unresolved Column-AST form and
    // the resolved catalyst form; pruned via exact per-file null counts
    def nullPred(e: Expression): Option[(String, Boolean)] = e match {
      case IsNull(a)    => attrName(a).map(_ -> true)
      case IsNotNull(a) => attrName(a).map(_ -> false)
      case f: UnresolvedFunction if f.arguments.size == 1 &&
          f.nameParts.size == 1 &&
          Set("isnull", "isnotnull")(f.nameParts.head.toLowerCase) =>
        attrName(f.arguments.head)
          .map(_ -> (f.nameParts.head.toLowerCase == "isnull"))
      case _ => None
    }
    val cond =
      org.apache.spark.sql.graft.ColumnBridge.catalystExpression(condition)
    // a value comparison is never true on NULL (three-valued logic):
    // any `col OP lit` / `col IN (...)` conjunct also excludes files
    // whose column is entirely null, range stats or not
    def someNonNull(n: String)(f: FileEntry): Boolean =
      f.nullCounts.get(n).forall(_ < f.rows)
    val checks: Seq[FileEntry => Boolean] =
      conjuncts(cond).flatMap { c =>
        inList(c) match {
          case Some((a, vs)) if attrName(a).isDefined =>
            val lits = vs.flatMap(litVal)
            if (lits.size != vs.size) None // an unusable literal: skip
            else {
              val n = attrName(a).get
              Some((f: FileEntry) => someNonNull(n)(f) &&
                f.stats.get(n).forall(st =>
                  lits.exists(v => possible("=", v, st))))
            }
          case _ => nullPred(c) match {
            case Some((n, wantNull)) =>
              // IS NULL possible iff some null exists; IS NOT NULL
              // possible iff some non-null exists; unknown never prunes
              Some((f: FileEntry) => f.nullCounts.get(n).forall(nn =>
                if (wantNull) nn > 0 else nn < f.rows))
            case None => cano(c).map { case (n, op, v) =>
              (f: FileEntry) => someNonNull(n)(f) &&
                f.stats.get(n).forall(st => possible(op, v, st))
            }
          }
        }
      }
    // hidden partitioning: map each raw-column conjunct onto its
    // transform's derived partition column, whose [v, v] partition
    // stats prune whole directories. All transforms are monotone
    // non-decreasing, so strict bounds relax to inclusive ones
    // (src < v => T(src) <= T(v)) — never a wrong prune. Spec
    // evolution: ALL epochs' transforms run; each check binds only on
    // files carrying its derived column's stats (its own epoch).
    val transforms = s.pruningTransforms
    val tchecks: Seq[FileEntry => Boolean] =
      if (transforms.isEmpty) Nil
      else {
        def litTyped(e: Expression): Option[(Any, DataType)] = e match {
          case Literal(v, t) if v != null => Some((v, t))
          case _ => None
        }
        def canoTyped(e: Expression)
            : Option[(String, String, (Any, DataType))] =
          binOp(e).flatMap {
            case (op, a, l) if attrName(a).isDefined =>
              litTyped(l).map((attrName(a).get, op, _))
            case (op, l, a) if attrName(a).isDefined =>
              litTyped(l).map((attrName(a).get, flip(op), _))
            case _ => None
          }
        def relax(op: String): String = op match {
          case "<"  => "<="
          case ">"  => ">="
          case o    => o
        }
        conjuncts(cond).flatMap { c =>
          inList(c) match {
            case Some((a, vs)) if attrName(a).isDefined =>
              val n = attrName(a).get
              transforms.filter(_.src == n).flatMap { t =>
                val typed = vs.flatMap(litTyped)
                val mapped = typed.flatMap { case (v, dt) =>
                  t.mapValue(v, dt) }
                // only prune when EVERY listed value mapped
                if (typed.size != vs.size || mapped.size != typed.size)
                  None
                else Some((f: FileEntry) =>
                  f.stats.get(t.phys).forall(st =>
                    mapped.exists(v => possible("=", v, st))))
              }
            case _ => canoTyped(c).toSeq.flatMap {
              case (n, op, (v, dt)) =>
                transforms.filter(t => t.src == n &&
                    (op == "=" || t.rangeSafe)).flatMap(t =>
                  t.mapValue(v, dt).map(tv =>
                    (f: FileEntry) => f.stats.get(t.phys).forall(st =>
                      possible(relax(op), tv, st))))
            }
          }
        }
      }
    s.files.filter(f => (checks ++ tchecks).forall(_(f)))
  }

  // ---- write ---------------------------------------------------------

  /** Transactional append. Returns the committed version. Thread/process
    * safe via the optimistic hard-link protocol. Schema handling:
    * existing columns may widen (byte/short/int->long, float->double,
    * Iceberg's promotion rules); new df columns are added to the table
    * schema (additive evolution) with fresh field IDs. */
  /** CHECK-constraint enforcement (Delta parity): any table property
    * `constraint.<name> = <sql boolean expression>` is evaluated for
    * every NEW row inside the write plan itself — a violating row
    * raises before any file reaches a manifest, so a constraint can
    * never be half-committed. SQL CHECK semantics: a NULL result
    * passes (UNKNOWN is not a violation). Rewrite paths (compaction,
    * z-order, delete's survivor rewrite) are exempt by design — they
    * move EXISTING rows, and a constraint added after legacy rows
    * landed must not brick the table's maintenance; upsert enforces
    * on the incoming source rows only, for the same reason. */
  private def enforced(df: DataFrame, s: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions._
    val checks = s.properties.toSeq.collect {
      case (k, v) if k.startsWith("constraint.") =>
        (k.stripPrefix("constraint."), v)
    }.sortBy(_._1)
    if (checks.isEmpty) df
    else df.filter(checks.map { case (n, e) =>
      when(coalesce(expr(e), lit(true)) === false,
        raise_error(lit(s"CHECK constraint '$n' violated: $e"))
          .cast("boolean"))
        .otherwise(lit(true))
    }.reduce(_ && _))
  }

  def append(df: DataFrame, appMeta: Map[String, String] = Map.empty): Int = {
    val s = latest()
    commit(Change.data(writeData(enforced(df, s), s), appMeta))
  }

  /** INSERT OVERWRITE semantics: ONE transactional commit that replaces
    * the current snapshot's entire data-file set with `df`'s rows (all
    * live delete files are marked applied — nothing they covered
    * survives). Time travel to pre-overwrite versions still works; an
    * append racing the overwrite is rebased on top rather than lost
    * (same non-strict replace contract as compaction). */
  def overwriteAll(df: DataFrame,
                   appMeta: Map[String, String] = Map.empty): Int =
    overwriteAllWith(latest(), df, appMeta, once = None)

  private def overwriteAllWith(s: Snapshot, df: DataFrame,
                               appMeta: Map[String, String],
                               once: Option[Once]): Int =
    commit(Change.data(writeData(enforced(df, s), s),
        appMeta + ("operation" -> "overwrite"))
      .copy(replace = Rebase(s.files.map(_.path).toSet)).once(once))

  /** Filter-scoped overwrite (`INSERT OVERWRITE ... PARTITION (...)`,
    * `DataFrameWriterV2.overwrite(cond)` — Spark's
    * `OverwriteByExpression`): ONE transactional commit that removes
    * every row matching `condition` and appends `df`. The removal is
    * WHOLE FILES, proven from manifest metadata: a file is replaced
    * only when its stats PROVE every row matches (exact [lo, hi]
    * ranges + null counts; partition constants are recorded as exact
    * [v, v] stats, so partition-aligned predicates prove whole
    * directories). Files that might hold BOTH matching and
    * non-matching rows make the operation REFUSE — Iceberg's static
    * overwrite contract: an overwrite is either provably exact or
    * rejected with guidance (dynamic mode / MERGE), never
    * half-applied and never a row-level rewrite in disguise. O(replaced
    * files) metadata + O(new data) write; nothing is read. */
  def overwriteWhere(condition: org.apache.spark.sql.Column,
                     df: DataFrame,
                     appMeta: Map[String, String] = Map.empty): Int = {
    val s = latest()
    val mightMatch = pruneFiles(s, condition)
    val proven = fullyMatchingFiles(mightMatch, condition)
    val provenPaths = proven.map(_.path).toSet
    val uncertain = mightMatch.filterNot(e => provenPaths(e.path))
    require(uncertain.isEmpty,
      s"INSERT OVERWRITE at $root: predicate $condition does not " +
        s"align with file boundaries — ${uncertain.size} file(s) may " +
        "hold both matching and non-matching rows (e.g. " +
        uncertain.take(3).map(_.path).mkString(", ") + "). Refusing " +
        "rather than half-applying; use dynamic partition overwrite " +
        "(spark.sql.sources.partitionOverwriteMode=dynamic), a " +
        "partition-aligned predicate, or MERGE INTO for row-level " +
        "replacement")
    val pending = writeData(enforced(df, s), s)
    if (provenPaths.isEmpty && pending.files.isEmpty) return s.version
    commit(Change.data(pending, appMeta + ("operation" -> "overwrite",
        "overwrite.predicate" -> condition.toString))
      .copy(replace = WholeFiles(provenPaths)))
  }

  /** DYNAMIC partition overwrite (`INSERT OVERWRITE` under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` — Spark's
    * `OverwritePartitionsDynamic`, Iceberg's "replace partitions"):
    * ONE transactional commit that replaces exactly the partitions the
    * incoming rows land in — every live file in a touched partition
    * directory is removed, the new files are added, untouched
    * partitions stay byte-identical. The partition is the FULL spec
    * tuple (identity + transform + bucket directories — Iceberg's
    * definition), compared as the physical partition path the writer
    * derives, so hidden partitioning works from pure SQL with the user
    * never naming a derived column. The rebuild cost is O(touched
    * partitions' files) metadata + the new data write; at 100 TB,
    * "rebuild yesterday" touches one day's directory, never the
    * table. Live MOR deletes on replaced files die with them (the
    * commit drops delete entries whose covered files all left the
    * live set). Files written under a SUPERSEDED partition spec make
    * the operation refuse (their directories are not comparable to
    * the current spec's tuples) — compact() first, which rewrites to
    * the current layout. */
  def overwritePartitionsDynamic(df: DataFrame,
                                 appMeta: Map[String, String] = Map.empty)
      : Int = {
    val s = latest()
    val parts = s.partitionBy
    require(parts.nonEmpty,
      s"dynamic partition overwrite at $root needs a partitioned " +
        "table; an unpartitioned INSERT OVERWRITE replaces the full " +
        "table (overwriteAll)")
    val entries = s.files
    // ORDERED key sequence, not a set: a spec REORDER of the same
    // columns (reachable via CALL system.set_partition_spec) changes
    // the directory string layout — old files' dirs would never match
    // the new writer's tuples and the overwrite would silently append
    // duplicates instead of replacing; an order mismatch must refuse
    // exactly like a key-set mismatch
    def dirKeysOf(e: FileEntry): Seq[String] =
      dirOf(e.path.stripPrefix("data/")).split("/").toSeq
        .filter(_.contains("=")).map(_.split("=", 2)(0))
    val stale = entries.filter(e => dirKeysOf(e) != parts)
    require(stale.isEmpty,
      s"dynamic partition overwrite at $root: ${stale.size} file(s) " +
        "were written under a superseded partition spec (e.g. " +
        stale.take(3).map(_.path).mkString(", ") + ") and cannot be " +
        "matched against the current spec's partition tuples — run " +
        "compact() to rewrite them into the current layout first")
    val pending = writeData(enforced(df, s), s)
    if (pending.files.isEmpty) return s.version // no rows -> no partitions
    val touched = pending.files
      .map(e => dirOf(e.path.stripPrefix("data/"))).toSet
    require(!touched.contains(""),
      s"dynamic overwrite write produced un-partitioned files at $root")
    val replaced = entries
      .filter(e => touched(dirOf(e.path.stripPrefix("data/"))))
      .map(_.path).toSet
    commit(Change.data(pending, appMeta + ("operation" -> "overwrite",
        "overwrite.dynamicPartitions" -> touched.size.toString))
      .copy(replace = WholeFiles(replaced)))
  }

  /** Files whose EVERY row provably satisfies `condition` — the
    * must-match mirror of [[pruneFiles]]'s may-match test, used
    * by [[overwriteWhere]] to turn a predicate into an exact
    * whole-file replace set. Supports the same canonical shapes
    * (`col OP literal`, IN, IS [NOT] NULL, AND — plus OR where either
    * side proves); anything else proves nothing (never a wrong
    * replace). Proof rules over exact manifest metadata:
    * a comparison holds for all rows iff the column has ZERO nulls
    * (a NULL never satisfies a comparison) and the [lo, hi] range
    * lies entirely inside the predicate's region. */
  private[lake] def fullyMatchingFiles(
      entries: Seq[FileEntry],
      condition: org.apache.spark.sql.Column): Seq[FileEntry] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    def norm(v: Any): Option[Any] = v match {
      case null => None
      case x: Byte => Some(x.toLong)
      case x: Short => Some(x.toLong)
      case x: Int => Some(x.toLong)
      case x: Long => Some(x)
      case x: Float => if (x.isNaN) None else Some(x.toDouble)
      case x: Double => if (x.isNaN) None else Some(x)
      case x: Boolean => Some(x)
      case x: String => Some(x)
      case x: org.apache.spark.unsafe.types.UTF8String => Some(x.toString)
      case _ => None
    }
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def litVal(e: Expression): Option[Any] = e match {
      case Literal(v, _) => norm(v)
      case _ => None
    }
    def binOp(e: Expression): Option[(String, Expression, Expression)] =
      e match {
        case f: UnresolvedFunction if f.arguments.size == 2 &&
            f.nameParts.size == 1 &&
            Set("<", "<=", ">", ">=", "=", "==", "<=>")(f.nameParts.head) =>
          // <=> with a NON-NULL literal behaves as = for range checks
          // (a null literal never canonicalizes: litVal(null) is None,
          // so it falls back to no-prune / no-proof — conservative)
          val op =
            if (Set("==", "<=>")(f.nameParts.head)) "="
            else f.nameParts.head
          Some((op, f.arguments(0), f.arguments(1)))
        case LessThan(l, r)           => Some(("<", l, r))
        case LessThanOrEqual(l, r)    => Some(("<=", l, r))
        case GreaterThan(l, r)        => Some((">", l, r))
        case GreaterThanOrEqual(l, r) => Some((">=", l, r))
        case EqualTo(l, r)            => Some(("=", l, r))
        case EqualNullSafe(l, r)      => Some(("=", l, r))
        case _ => None
      }
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="
      case ">" => "<"; case ">=" => "<="; case o => o
    }
    def cano(e: Expression): Option[(String, String, Any)] =
      binOp(e).flatMap {
        case (op, a, l) if attrName(a).isDefined =>
          litVal(l).map((attrName(a).get, op, _))
        case (op, l, a) if attrName(a).isDefined =>
          litVal(l).map((attrName(a).get, flip(op), _))
        case _ => None
      }
    def inList(e: Expression): Option[(Expression, Seq[Expression])] =
      e match {
        case f: UnresolvedFunction
            if f.nameParts == Seq("in") && f.arguments.nonEmpty =>
          Some((f.arguments.head, f.arguments.tail))
        case In(a, vs) => Some((a, vs))
        case _ => None
      }
    def nullPred(e: Expression): Option[(String, Boolean)] = e match {
      case IsNull(a)    => attrName(a).map(_ -> true)
      case IsNotNull(a) => attrName(a).map(_ -> false)
      case f: UnresolvedFunction if f.arguments.size == 1 &&
          f.nameParts.size == 1 &&
          Set("isnull", "isnotnull")(f.nameParts.head.toLowerCase) =>
        attrName(f.arguments.head)
          .map(_ -> (f.nameParts.head.toLowerCase == "isnull"))
      case _ => None
    }
    // all rows satisfy "col OP v": zero nulls and the whole range
    // inside the region; unknown comparisons prove nothing
    def mustCmp(op: String, v: Any, st: ColStat): Boolean = op match {
      case "=" => cmpStat(st.lo, v).exists(_ == 0) &&
        cmpStat(st.hi, v).exists(_ == 0)
      case ">"  => cmpStat(st.lo, v).exists(_ > 0)
      case ">=" => cmpStat(st.lo, v).exists(_ >= 0)
      case "<"  => cmpStat(st.hi, v).exists(_ < 0)
      case "<=" => cmpStat(st.hi, v).exists(_ <= 0)
    }
    def noNulls(f: FileEntry, n: String): Boolean =
      f.nullCounts.get(n).contains(0L)
    def must(e: Expression, f: FileEntry): Boolean = e match {
      case And(l, r) => must(l, f) && must(r, f)
      case fn: UnresolvedFunction
          if fn.nameParts == Seq("and") && fn.arguments.size == 2 =>
        must(fn.arguments(0), f) && must(fn.arguments(1), f)
      case Or(l, r) => must(l, f) || must(r, f)
      case fn: UnresolvedFunction
          if fn.nameParts == Seq("or") && fn.arguments.size == 2 =>
        must(fn.arguments(0), f) || must(fn.arguments(1), f)
      case _ =>
        inList(e) match {
          case Some((a, vs)) if attrName(a).isDefined =>
            val n = attrName(a).get
            val lits = vs.flatMap(litVal)
            // provable when the file is single-valued on the column
            // and that value is listed
            lits.size == vs.size && noNulls(f, n) &&
              f.stats.get(n).exists(st =>
                cmpStat(st.lo, st.hi).exists(_ == 0) &&
                  lits.exists(v => cmpStat(st.lo, v).exists(_ == 0)))
          case _ => nullPred(e) match {
            case Some((n, wantNull)) =>
              if (wantNull) f.nullCounts.get(n).contains(f.rows)
              else noNulls(f, n)
            case None => cano(e) match {
              case Some((n, op, v)) => noNulls(f, n) &&
                f.stats.get(n).exists(st => mustCmp(op, v, st))
              case None => false
            }
          }
        }
    }
    val cond =
      org.apache.spark.sql.graft.ColumnBridge.catalystExpression(condition)
    entries.filter(f => f.rows == 0L || must(cond, f))
  }

  /** Add a nullable column (metadata-only, Iceberg `ADD COLUMN`): the
    * new field gets a FRESH field ID minted above lastFieldId — never a
    * retired one, so data a dropped same-named column left behind in
    * old files can never resurface under the new field. Existing files
    * read back null for it; the same optimistic commit loop as data
    * changes serializes it against racing appends. */
  def addColumn(name: String,
                dataType: org.apache.spark.sql.types.DataType): Int =
    commit(Change.metadata(Map("alter" -> s"add $name")) { s =>
      require(!s.schema.fieldNames.contains(name),
        s"column $name already exists at $root")
      val id = math.max(s.lastFieldId,
        s.fieldIds.values.foldLeft(0)(math.max)) + 1
      sameMeta(s).copy(schema = StructType(s.schema.fields :+
        StructField(name, dataType, nullable = true)),
        ids = s.fieldIds + (name -> id))
    })

  /** Idempotent append keyed by (writerId, batchId): commits at most
    * once per writer per batch id (exactly-once sink contract for
    * foreachBatch under retries/restarts — Delta's txn appId/version
    * pattern). Distinct writers have independent batch-id sequences, so
    * two streaming queries feeding one table can't suppress each other,
    * and a query restarted from a FRESH checkpoint gets a fresh writerId
    * (its query id changes) instead of silently losing every batch. The
    * per-writer high-water mark rides in EVERY snapshot and is
    * re-checked inside the commit loop — atomic with the commit. */
  def appendExactlyOnce(df: DataFrame, writerId: String,
                        batchId: Long): Int =
    exactlyOnce(writerId, batchId) { (s, once) =>
      commit(Change.data(writeData(enforced(df, s), s), Map.empty)
        .once(once))
    }

  def appendExactlyOnce(df: DataFrame, batchId: Long): Int =
    appendExactlyOnce(df, DefaultWriter, batchId)

  /** The one exactly-once entry of every `*ExactlyOnce` protocol: runs
    * `write` on the latest snapshot with the (writerId, batchId) guard
    * and stamp, unless that snapshot shows the batch committed. The
    * pre-check saves the data write on obvious replays; the guard
    * inside the commit loop is the authoritative check. */
  private def exactlyOnce(writerId: String, batchId: Long)(
      write: (Snapshot, Option[Once]) => Int): Int = {
    val once = Once(writerId, batchId)
    val s = latest()
    if (s.highWater.get(once.guard.key).exists(_ >= batchId)) s.version
    else write(s, Some(once))
  }

  /** Idempotent FULL overwrite keyed by (writerId, batchId) — the
    * exactly-once form of [[overwriteAll]], what a COMPLETE-mode
    * streaming sink needs: each epoch replaces the table's whole
    * content, a replayed epoch (restart after commit, before the
    * checkpoint advanced) is suppressed by the same per-writer
    * high-water guard as [[appendExactlyOnce]] — atomic with the
    * commit, so the table never holds a duplicated epoch. */
  def overwriteAllExactlyOnce(df: DataFrame, writerId: String,
                              batchId: Long): Int =
    exactlyOnce(writerId, batchId)(overwriteAllWith(_, df, Map.empty, _))

  /** Highest streaming batch id committed by `writerId` (-1 if none). */
  def lastBatchId(writerId: String): Long =
    highWater(writerKey(writerId)).getOrElse(-1L)

  def lastBatchId: Long = lastBatchId(DefaultWriter)

  /** Append whose commit is guarded by a compare-and-set on a highWater
    * offset: succeeds only if `key` still reads `expected`, recording
    * `value` atomically with the data. Throws [[StaleOffsetException]]
    * when a concurrent committer moved the offset — the caller re-reads
    * and retries; the already-written data files are orphaned and
    * reclaimed by `vacuum()`. */
  private[lake] def appendCas(df: DataFrame, key: String, expected: Long,
                              value: Long,
                              appMeta: Map[String, String]): Int = {
    val s = latest()
    commit(Change.data(writeData(enforced(df, s), s), appMeta)
      .copy(guard = Some(CasGuard(key, expected, value))))
  }

  /** Compaction: rewrite snapshot `currentVersion`'s file set into
    * `numFiles` files and commit a snapshot where those files are
    * REPLACED — but any files appended concurrently (after the
    * compaction read) are rebased on top, so compaction never loses a
    * racing append (see `compactFrom`). Partitioned tables stay
    * partitioned. */
  def compact(numFiles: Int): Int = compactSorted(numFiles, Seq.empty)

  /** Compact the file set of a specific snapshot; files added by commits
    * after `baseVersion` survive untouched (append-vs-compact races are
    * safe: replaced set = exactly the files the rewrite covered). */
  def compactFrom(baseVersion: Int, numFiles: Int): Int =
    compactFrom(baseVersion, numFiles, Seq.empty)

  /** Compaction with range clustering: rows are range-partitioned and
    * sorted within files on `sortBy` — Iceberg's sort-order rewrite.
    * Afterwards each file (and each parquet row group inside it) covers
    * a narrow, near-disjoint range of the sort key, so the reader's
    * stats-based row-group skipping turns selective filters on that key
    * into near-pruned scans. At 100 TB this is the difference between
    * touching every file and touching the few that overlap the
    * predicate — the layout half of data skipping, delivered with zero
    * custom reader code. */
  def compactSorted(numFiles: Int, sortBy: Seq[String]): Int = {
    val s = latest()
    compactAt(s, s, numFiles, sortBy)
  }

  def compactFrom(baseVersion: Int, numFiles: Int,
                  sortBy: Seq[String]): Int =
    compactAt(snapshotAt(baseVersion), latest(), numFiles, sortBy)

  /** Rewrite `base`'s files into the layout of `cur` (the latest
    * snapshot: a rewrite re-derives partition columns under the
    * CURRENT spec). */
  private def compactAt(base: Snapshot, cur: Snapshot, numFiles: Int,
                        sortBy: Seq[String]): Int = {
    sortBy.foreach(c => require(cur.schema.fieldNames.contains(c),
      s"sort column $c not in schema"))
    val partitionBy = cur.partitionBy
    rewriteFiles(base, cur,
      df =>
        if (sortBy.nonEmpty && cur.bucketSpec.isDefined)
          // bucketed + sorted: cluster by bucket (ONE file per bucket
          // dir) with rows sorted by the key inside each file, so
          // row-group stats still prune within the dir. A plain
          // repartitionByRange here would write range-tasks x buckets
          // files — ABOVE the auto-compaction threshold — turning the
          // auto policy into a perpetual every-batch full rewrite
          // (measured: r07 SteadyState, ~19 s/batch sustained).
          df.repartition(numFiles,
            org.apache.spark.sql.functions.col(BucketCol))
            .sortWithinPartitions(
              (BucketCol +: sortBy)
                .map(org.apache.spark.sql.functions.col): _*)
        else if (partitionBy.nonEmpty) {
          // hive-partitioned (unbucketed): cluster by the partition
          // cols so each partition dir collapses to ONE file — both a
          // round-robin repartition AND a range-repartition would
          // spread every partition's rows across every task, writing
          // tasks x partitions files (for the auto policy that means
          // the count never falls below its threshold and every batch
          // pays a full rewrite — the bucketed+sorted bug's twin)
          val clustered = df.repartition(
            partitionBy.map(org.apache.spark.sql.functions.col): _*)
          if (sortBy.nonEmpty) clustered.sortWithinPartitions(
            (partitionBy ++ sortBy)
              .map(org.apache.spark.sql.functions.col): _*)
          else clustered
        }
        else if (sortBy.nonEmpty) df
          .repartitionByRange(numFiles,
            sortBy.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(sortBy.head, sortBy.tail: _*)
        else df.repartition(numFiles),
      if (sortBy.isEmpty) Map.empty
      else Map("compaction.sortBy" -> sortBy.mkString(",")))
  }

  /** Table-property-driven compaction policy for writers that commit
    * many small batches (streaming MVs — the known failure mode of
    * per-batch commits at scale). Once the live file count exceeds
    * `compaction.auto.maxFiles`, SIZE-LADDER minor compaction
    * engages: per partition/bucket dir, live files are sorted
    * ascending by row count and the maximal prefix in which every
    * file is at most the sum of the files before it merges into ONE
    * file, sorted on `compaction.auto.sortBy` when set. LSM-style
    * amortization with a doubling guarantee: a merged row's file at
    * least doubles, so each ROW is rewritten at most
    * log2(dir rows / batch rows) + 1 times over the table's whole
    * life and a continuous loop's per-batch compaction cost is
    * O(batch x log), never the O(history) a full rewrite pays. (The
    * earlier exact-size-class rule had a boundary deadlock — see the
    * inline note in the selection — that the 100-batch LongHaul
    * exposed as 12.3x measured row amplification; the ladder rule is
    * boundary-free, so a merge is available whenever any dir holds
    * two comparable files.) Steady-state file count is
    * O(dirs x log2(rows)); if the count is ever over 2x maxFiles
    * with NO ladder merge available anywhere (every dir a strict
    * supergeometric chain), one full rewrite to
    * `compaction.auto.target` (default maxFiles/8) restores the
    * bound — and that valve honors the layout floor: a
    * partitioned/bucketed rewrite clusters to ~one file per live
    * dir, so when the dir count approaches the file count it is
    * skipped outright and the honest bound becomes
    * O(dirs x log2(rows)). Size `maxFiles` from the fan-out
    * ([[LakeTable.autoCompactProps]]) so the gate opens within a
    * couple of batches of steady state instead of after
    * maxFiles/dirs of them. The policy rides in the table's own
    * metadata so EVERY writer enforces the same layout contract; the
    * gate is O(1) against the snapshot. Returns the commit's version
    * if one ran. */
  def autoCompactIfNeeded(): Option[Int] = {
    val s = latest()
    val properties = s.properties
    val partitionBy = s.partitionBy
    properties.get("compaction.auto.maxFiles").map(_.toInt).flatMap {
      maxF =>
        val files = s.files
        if (files.size <= maxF) None
        else {
          val sortBy = properties.get("compaction.auto.sortBy")
            .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
            .getOrElse(Seq.empty)
          // best-effort: when several writers enforce the policy at
          // once, the losers' strict-replace conflicts mean a racer
          // already bounded the layout — nothing left to do
          try {
            def tiered(): Option[Int] = {
              // SIZE-LADDER minor merge (boundary-free tiering): per
              // dir (the probe unit; unpartitioned tables share one
              // flat dir), sort live files ascending by rows and
              // merge the maximal prefix in which every file is at
              // most the SUM of the files before it. A merged row's
              // file at least doubles, so lifetime rewrites are
              // <= log2(dirRows / batchRows) + 1. The previous rule
              // (merge k files of the same floor(log_k(rows)) class)
              // deadlocked whenever one batch's files straddled a
              // class boundary (1-3 vs 4-15 rows): no class ever
              // collected k members, the count climbed to the
              // full-rewrite valve, and the valve's O(history)
              // rewrite fired EVERY cycle — the 100-batch sf0.1
              // LongHaul measured 12.3x row rewrite amplification
              // against the claimed ~4.3 bound before this fix.
              // strict-doubling chains ([b, 2b, 4b, ...]) never meet
              // the ladder condition, so a dir's file count grows as
              // log2(dirRows/batchRows) — bounded, but probe cost is
              // linear in live files. The per-dir cap collapses a
              // frozen chain once it exceeds maxFilesPerDir: one
              // whole-dir rewrite every ~2^cap batches per dir, a
              // vanishing amplification term, for a CONSTANT
              // steady-state file count.
              val dirCap = properties.get("compaction.auto.maxFilesPerDir")
                .map(_.toInt).getOrElse(8)
              val ready = files
                .groupBy(f =>
                  if (partitionBy.isEmpty) "" else dirOf(f.path))
                .values.flatMap { dirFiles =>
                  val sorted = dirFiles.sortBy(_.rows)
                  var sum = sorted.head.rows
                  var take = 1
                  while (take < sorted.length &&
                         sorted(take).rows <= sum) {
                    sum += sorted(take).rows
                    take += 1
                  }
                  if (take >= 2) sorted.take(take)
                  else if (partitionBy.nonEmpty &&
                           sorted.length > dirCap) sorted
                  else Nil
                }.toSeq
              if (ready.isEmpty) None
              else Some(compactSubset(s, ready, sortBy))
            }
            // a full rewrite of a partitioned/bucketed table clusters
            // to ~one file per live dir — when the dir count is
            // already >= half the file count it cannot reduce the
            // count below the gate, so committing it would rewrite
            // the whole table EVERY batch (the exact O(history)
            // pathology tiering exists to prevent); only rewrite when
            // it actually shrinks the layout, else keep tier-merging
            val dirFloor =
              if (partitionBy.isEmpty && s.bucketSpec.isEmpty) 1
              else files.iterator.map(f => dirOf(f.path)).toSet.size
            val committed = tiered().orElse {
              // last-resort valve, tried only when NO ladder merge
              // exists anywhere (every dir a strict supergeometric
              // chain) yet the count is far over the gate — running
              // it before minor merges is what made it fire on every
              // transient peak of the steady-state loop
              if (files.size > 2 * maxF && files.size > 2 * dirFloor) {
                val target = properties.get("compaction.auto.target")
                  .map(_.toInt).getOrElse(math.max(1, maxF / 8))
                Some(compactAt(s, s, target, sortBy))
              } else None
            }
            // optional companion policy: bound DISK too, not just the
            // live-file count — expire history beyond keepLast
            // snapshots and reclaim files only those referenced, with
            // an age guard against racing in-flight writers. Tied to
            // an ACTUAL compaction commit: the no-op plateau (gate
            // open, no tier ready) must not pay expiry's recursive
            // data-dir walk on every batch.
            if (committed.isDefined)
              properties.get("snapshots.auto.keepLast").map(_.toInt)
                .foreach { keep =>
                  val age = properties.get("vacuum.auto.minAgeMs")
                    .map(_.toLong).getOrElse(600000L) // 10 min default
                  expireSnapshots(keep, age)
                }
            committed
          } catch {
            case _: java.util.ConcurrentModificationException => None
          }
        }
    }
  }

  private def dirOf(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i < 0) "" else path.substring(0, i)
  }

  /** MINOR compaction: rewrite ONLY `subset` (live files of snapshot
    * `s`), leaving every other file byte-untouched — the
    * unit of tiered merging. Bucketed rows re-cluster one-file-per-
    * bucket-dir (rows carry their routing hash, so output lands back
    * in the source dirs); unpartitioned subsets collapse to one file.
    * Carries the `compaction` app-meta so incremental consumers
    * (changesBetween) skip the rewrite exactly like a full one, and
    * commits strict-replace so racing writers can never lose rows. */
  private def compactSubset(s: Snapshot, subset: Seq[FileEntry],
                            sortBy: Seq[String]): Int = {
    import org.apache.spark.sql.functions.col
    val dels = s.deletes
    val partitionBy = s.partitionBy
    // no join downstream — the bucket claim would only cap the
    // rewrite's read parallelism at numBuckets
    val base = readEntries(subset, s, claimBucket = false, deletes = dels)
    val shaped =
      if (s.bucketSpec.isDefined) {
        val n = s.bucketSpec.get._2
        val clustered = base.repartition(n, col(BucketCol))
        if (sortBy.nonEmpty)
          clustered.sortWithinPartitions(
            (BucketCol +: sortBy).map(col): _*)
        else clustered
      } else if (partitionBy.nonEmpty) {
        val clustered = base.repartition(partitionBy.map(col): _*)
        if (sortBy.nonEmpty)
          clustered.sortWithinPartitions(
            (partitionBy ++ sortBy).map(col): _*)
        else clustered
      } else if (sortBy.nonEmpty)
        base.repartition(1).sortWithinPartitions(sortBy.map(col): _*)
      else base.repartition(1)
    commit(Change.data(writeData(shaped, s), Map("compaction" -> "true") ++
        (if (sortBy.isEmpty) Map.empty[String, String]
         else Map("compaction.sortBy" -> sortBy.mkString(","))))
      .copy(replace = RowRewrite(subset.map(_.path).toSet,
        dels.map(_.path).toSet)))
  }

  /** Z-order compaction: files are clustered on the Morton interleave
    * of 2-4 integer columns, so per-file min/max ranges are narrow in
    * EVERY listed column at once — selective filters on ANY of them
    * prune via row-group stats, where a lexicographic sort only serves
    * its leading column. Each column is min/max-normalized into the
    * key's bit domain first (one cheap agg over just those columns —
    * the rewrite scans everything anyway), satisfying the ZOrderKey
    * contract regardless of the data's actual range; the codegen'd key
    * is computed on the fly and never stored. */
  def compactZOrder(numFiles: Int, cols: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    val s = latest()
    cols.foreach(c => require(s.schema.fieldNames.contains(c),
      s"z-order column $c not in schema"))
    val bitsPer = 64 / cols.size
    val top = (1L << bitsPer) - 1
    val base = readAt(s)
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val stats = base.agg(aggs.head, aggs.tail: _*).head()
    val normalized = cols.zipWithIndex.map { case (c, i) =>
      val lo = if (stats.isNullAt(2 * i)) 0L else stats.getLong(2 * i)
      val hi = if (stats.isNullAt(2 * i + 1)) 0L else stats.getLong(2 * i + 1)
      if (hi <= lo) lit(0L)
      else ((col(c).cast("double") - lo.toDouble) / (hi.toDouble - lo.toDouble)
        * top.toDouble).cast("long")
    }
    val zkey = graft.functions.ZOrderKey.zorder_key(normalized: _*)
    rewriteFiles(s, s,
      b => b.repartitionByRange(numFiles, zkey).sortWithinPartitions(zkey),
      Map("compaction.zorderBy" -> cols.mkString(",")))
  }

  // ---- row-level operations (copy-on-write DELETE / MERGE) -----------

  /** Copy-on-write DELETE: remove rows matching `condition` by
    * rewriting ONLY the files that contain at least one matching row;
    * every other file survives byte-identical (file-level pruning — the
    * affected set comes from the matching rows' _metadata.file_path, a
    * metadata-scale driver collect bounded by file count). Rows where
    * the predicate evaluates NULL are KEPT (SQL DELETE three-valued
    * semantics). The REPLACE commit is strict: if a concurrent rewrite
    * (compaction, another row-level op) superseded any affected file,
    * this throws ConcurrentModificationException rather than
    * resurrecting replaced rows; concurrent APPENDS are rebased and
    * survive, and appended rows are never deleted (snapshot-isolation:
    * the predicate ran against the snapshot read at entry). Returns the
    * committed version (unchanged when nothing matches). */
  def deleteWhere(condition: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    // one snapshot: entries, schema, ids, and delete set must agree
    // (the predicate runs against the snapshot read at entry; the
    // strict-replace commit guards detect anything that moved since)
    val s = latest()
    val entries = s.files
    val dels = s.deletes
    // stats narrow the provenance scan before any file opens: only
    // files whose ranges might match are even read to find matches
    val candidates = pruneFiles(s, condition)
    val affected = affectedFiles(
      readEntries(candidates, s, tag = true, deletes = dels)
        .filter(condition),
      entries)
    if (affected.isEmpty) return s.version
    // survivors computed WITH existing position deletes applied — a
    // copy-on-write rewrite must not resurrect MOR-deleted rows
    val survivors =
      readEntries(entries.filter(e => affected(e.path)), s, deletes = dels)
        .filter(not(coalesce(condition, lit(false))))
    commit(Change.data(writeData(survivors, s),
        Map("delete.predicate" -> condition.toString))
      .copy(replace = RowRewrite(affected, dels.map(_.path).toSet)))
  }

  /** MERGE-ON-READ DELETE (Iceberg-v2-style position deletes): mark
    * rows matching `condition` deleted by committing a POSITION-DELETE
    * file — a parquet of (data file, row position) pairs under
    * `deletes/data/` — instead of rewriting any data file. Write cost
    * is O(matched rows), not O(files containing them): a 1-row GDPR
    * delete in a 1 GB file commits a few hundred bytes where
    * [[deleteWhere]] rewrites the gigabyte, and scattered deletes
    * across a 100 TB table commit O(total matched) instead of
    * rewriting the table. Every read path (read/readVersion/
    * readWhere/probe, rewrites, CDC through readVersion) applies live
    * delete files as a (file, pos) anti-join; the size-ladder
    * compaction absorbs them lazily — a rewrite drops each delete
    * file once all its covered data files leave the live set, so the
    * read-side join cost is bounded by the compaction cadence.
    *
    * Same three-valued semantics as [[deleteWhere]] (NULL predicate
    * keeps the row), snapshot-isolated (positions name rows of the
    * snapshot read at entry; the commit aborts with
    * ConcurrentModificationException if a concurrent rewrite
    * superseded any covered file — retry to re-resolve positions),
    * and symmetric with the rewrite-side guard (a copy-on-write /
    * compaction commit aborts if an unapplied delete file landed
    * since its base). Returns the committed version (unchanged when
    * nothing matches). */
  def deleteWherePositional(condition: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.col
    // one snapshot: positions must be resolved against the same file
    // list the applied delete set belongs to
    val s = latest()
    val candidates = pruneFiles(s, condition)
    if (candidates.isEmpty) return s.version
    // positions of matching rows, already-deleted rows excluded. The
    // recorded `_del_file` is the snapshot's own relative path,
    // recovered by joining the scan's UUID file NAME against the
    // candidate entries (a broadcast of metadata-scale rows) — never
    // by string surgery on _metadata.file_path, whose URI encoding
    // differs from manifest paths on special characters.
    // Range-clustered on (file, pos): positions of one data file land
    // contiguously in few delete files (tight covers, pruned reads);
    // partition count scales with the candidate file set, bounded so
    // a small delete never fans out into per-task confetti.
    val numParts = math.max(1, math.min(candidates.size, 32))
    val nameRelDf = {
      val sp = spark
      import sp.implicits._
      candidates.map(e => (e.path.split("/").last, e.path))
        .toDF("__fn", DeleteFileCol)
    }
    val positions =
      readEntries(candidates, s, tag = true, tagPos = true,
        deletes = s.deletes)
        .filter(condition)
        .withColumn("__fn", org.apache.spark.sql.functions
          .substring_index(col(FileTag), "/", -1))
        .join(org.apache.spark.sql.functions.broadcast(nameRelDf),
          Seq("__fn"))
        .select(col(DeleteFileCol), col(PosTag).as(DeletePosCol))
        .repartitionByRange(numParts, col(DeleteFileCol),
          col(DeletePosCol))
        .sortWithinPartitions(DeleteFileCol, DeletePosCol)
    val entries = writeDeleteFiles(positions, keyCols = Nil)
    if (entries.isEmpty) return s.version
    commit(Change.metadata(Map("delete.positional" -> condition.toString,
        "delete.rows" -> entries.map(_.rows).sum.toString))(sameMeta)
      .copy(deletes = entries))
  }

  /** Write `rows` as merge-on-read delete parquet under `deletes/`
    * through the same rename-free task-committed protocol as data
    * files, returning one [[DeleteEntry]] per non-empty file. With
    * `keyCols`, the rows are equality-delete key tuples (in table
    * types); without, they are positions — (DeleteFileCol =
    * manifest-relative data file, DeletePosCol = row position) — and
    * each entry carries its EXACT covers, read back from the written
    * file, never recomputed from the plan. Empty shards are reclaimed
    * immediately; returns Nil (and leaves nothing on disk) when no row
    * survived. The CALLER commits — pairing the entries with data files
    * in one atomic commit is what SQL UPDATE/MERGE (applyRowDelta) and
    * the merge-on-read upsert need. */
  private def writeDeleteFiles(rows: DataFrame,
                               keyCols: Seq[String]): Seq[DeleteEntry] = {
    import org.apache.spark.sql.functions.{col, collect_set}
    // coalesce(8) caps key frames at the plan's own partition count
    // without a second physical planning. The 8 is scale-safe, not a
    // local-mode tuning: key frames are metadata-scale by construction
    // (the keys one GDPR/CDC commit removes, kilobytes to low MB), and
    // 8 delete files bound manifest growth per commit — at 100 TB the
    // DATA side scales, the key frame does not. Positions arrive
    // range-clustered by the caller.
    val shaped = if (keyCols.isEmpty) rows else rows.coalesce(8)
    // per-file row counts ride the task-commit messages — no fresh-
    // file reads here, and a no-match delete skips the covers job
    val relsMetas = org.apache.spark.sql.graft.DirectWrite
      .parquetWithMetas(shaped, s"$root/deletes", Seq.empty)
    val rowsByRel = relsMetas.map { case (r, m) => r -> m._1 }.toMap
    val live = relsMetas.map(_._1).filter(rowsByRel(_) > 0)
    // empty shards (nothing matched, or all of a task's rows were
    // partitioned away) would just be orphans — reclaim them now
    rowsByRel.keys.filterNot(live.contains).foreach(r =>
      Files.deleteIfExists(Paths.get(root, "deletes", "data", r)))
    if (keyCols.nonEmpty)
      return live.map(r => DeleteEntry(s"deletes/data/$r", rowsByRel(r),
        covers = Nil, kind = "eq", keyCols = keyCols))
    if (live.isEmpty) return Nil
    // exact covered data files PER written delete file — the commit
    // conflict check and the compaction drop rule key on this set;
    // driver-bounded by (delete files x covered data files), both
    // metadata-scale
    val coversByFile = spark.read.schema(deleteSchema)
      .parquet(live.map(r => s"$root/deletes/data/$r"): _*)
      .select(col(DeleteFileCol), col("_metadata.file_path").as("__w"))
      .groupBy("__w")
      .agg(collect_set(DeleteFileCol).as("__cv"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).sorted).toMap
    live.map { r =>
      val covers = coversByFile.collectFirst {
        case (w, cv) if w.endsWith("/" + r) => cv
      }.getOrElse(throw new IllegalStateException(
        s"no read-back provenance for delete file $r at $root"))
      DeleteEntry(s"deletes/data/$r", rowsByRel(r), covers)
    }
  }

  /** MERGE-ON-READ EQUALITY DELETE (the other Iceberg-v2 shape):
    * delete every row whose `keyCols` tuple appears in `keys`, by
    * committing the KEY VALUES themselves — O(|keys|) write cost and,
    * unlike both [[deleteWhere]] and [[deleteWherePositional]], NO
    * provenance scan of the table at all: "forget user X" on a 100 TB
    * table costs one KB-scale commit, full stop. Applied at read time
    * as a null-safe-equality anti-join scoped by SEQUENCE NUMBER:
    * only rows of data files committed BEFORE this delete match, so
    * appending the key again later is visible (Iceberg v2 sequence
    * semantics). Rewrites absorb the entry once every live file's seq
    * passes it; rename/drop of a live entry's key column is blocked.
    * Needs no conflict guard: concurrent appends either land before
    * this commit's version (in scope — the "as of commit time"
    * semantics) or after (out of scope); there are no positions to go
    * stale. Returns the committed version (unchanged for empty
    * keys). */
  def deleteWhereEqual(keys: DataFrame, keyCols: Seq[String]): Int =
    deleteWhereEqualWith(latest(), keys, keyCols, once = None)

  /** [[deleteWhereEqual]] with the (writerId, batchId) exactly-once
    * guard of [[appendExactlyOnce]] — what a CDC consumer mirroring
    * deletes into a downstream index needs: a replayed micro-batch
    * must NOT re-commit the equality delete, because the re-issued
    * entry would carry a fresh (higher) sequence number and kill
    * rows legitimately re-inserted since the original commit. */
  def deleteWhereEqualExactlyOnce(keys: DataFrame, keyCols: Seq[String],
                                  writerId: String, batchId: Long): Int =
    exactlyOnce(writerId, batchId)(deleteWhereEqualWith(_, keys, keyCols, _))

  private def deleteWhereEqualWith(snap: Snapshot, keys: DataFrame,
                                   keyCols: Seq[String],
                                   once: Option[Once]): Int = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "equality delete requires key columns")
    val s = snap.schema
    keyCols.foreach(c => require(s.fieldNames.contains(c),
      s"equality-delete key $c not in schema at $root"))
    val aligned = keys
      .select(keyCols.map(c => col(c).cast(s(c).dataType)): _*)
      .distinct()
    val entries = writeDeleteFiles(aligned, keyCols)
    if (entries.isEmpty) return snap.version
    commit(Change.metadata(Map("delete.equality" -> keyCols.mkString(","),
        "delete.rows" -> entries.map(_.rows).sum.toString))(sameMeta)
      .copy(deletes = entries).once(once))
  }

  /** MERGE / upsert keyed on `keyCols`: every target row whose key
    * appears in `source` is replaced by the source row; source rows
    * with unseen keys are inserted — Delta/Iceberg copy-on-write MERGE
    * semantics (source must carry at most one row per key; dedupe
    * upstream). Only files containing a matched key are rewritten: the
    * affected set comes from a semi-join of the tagged scan against the
    * source's distinct keys (broadcast when small — the planner's
    * choice), the survivors of those files are anti-joined on the same
    * keys, and the commit REPLACES exactly the affected files. Strict
    * replace + append rebase as in [[deleteWhere]]. A source with no
    * matching keys degrades to a plain append (no rewrite at all). */
  def upsert(source: DataFrame, keyCols: Seq[String]): Int = {
    val s = latest()
    upsertWith(s, enforced(source, s), keyCols, once = None)
  }

  /** [[upsert]] with the (writerId, batchId) exactly-once guard of
    * [[appendExactlyOnce]]. Deterministic update-mode aggregates are
    * idempotent under re-upsert anyway (same deltas re-merge to the
    * same state), but a NON-deterministic aggregate (first(), a
    * sampled value) replayed after a crash would merge DIFFERENT rows
    * the second time — the guard makes the replayed batch a no-op
    * instead, so the table state is exactly the no-crash outcome
    * regardless of the aggregate's determinism. */
  def upsertExactlyOnce(source: DataFrame, keyCols: Seq[String],
                        writerId: String, batchId: Long): Int =
    exactlyOnce(writerId, batchId) { (s, once) =>
      upsertWith(s, enforced(source, s), keyCols, once)
    }

  private def upsertWith(s: Snapshot, source: DataFrame,
                         keyCols: Seq[String], once: Option[Once]): Int = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    // one snapshot for schema + files + deletes (same rationale as
    // deleteWhere; the strict-replace guards police the commit)
    keyCols.foreach(c => require(s.schema.fieldNames.contains(c),
      s"upsert key $c not in schema at $root"))
    val aligned = alignToUserColumns(source, s)
    val src = withTransformCols(s.bucketSpec match {
      case Some(_) => aligned.withColumn(BucketCol, bucketWriteExpr(s))
      case None    => aligned
    }, s)
    val srcKeys = src.select(keyCols.map(col): _*).distinct()
    val entries = s.files
    val dels = s.deletes
    val affected = affectedFiles(
      readEntries(entries, s, tag = true, deletes = dels)
        .join(srcKeys, keyCols, "left_semi"),
      entries)
    val rewritten =
      if (affected.isEmpty) src
      else readEntries(entries.filter(e => affected(e.path)), s,
          deletes = dels)
        .join(srcKeys, keyCols, "left_anti")
        .unionByName(src)
    commit(Change.data(writeData(rewritten, s),
        Map("merge.keys" -> keyCols.mkString(",")))
      .copy(replace = RowRewrite(affected, dels.map(_.path).toSet))
      .once(once))
  }

  /** Merge-on-read MERGE / upsert keyed on `keyCols` — [[upsert]]'s
    * O(source)-commit twin (the Iceberg-v2 MOR shape). ONE atomic
    * commit carries BOTH the appended source rows and an
    * equality-delete entry on the source's keys; both sides are
    * stamped with the same data sequence number, and the reader's
    * strict `fileSeq < deleteSeq` comparison masks every PRE-existing
    * row of a merged key while keeping the just-appended replacement
    * alive. Nothing is scanned and no data file is rewritten: the
    * commit cost is the source rows plus a KB-scale key file — the
    * 100 TB streaming-CDC-apply path, where copy-on-write [[upsert]]
    * rewrites every file a scattered key set touches. Reads pay one
    * broadcast anti-join per outstanding entry until compaction
    * absorbs it (same economics as [[deleteWhereEqual]], measured in
    * MorScale); size the compaction cadence to the merge rate. Same
    * contract as [[upsert]]: at most one source row per key — dedupe
    * upstream. */
  def upsertMor(source: DataFrame, keyCols: Seq[String]): Int = {
    val s = latest()
    upsertMorWith(s, enforced(source, s), keyCols, once = None)
  }

  /** [[upsertMor]] with the (writerId, batchId) exactly-once guard of
    * [[appendExactlyOnce]] — the MOR twin of [[upsertExactlyOnce]],
    * for streaming merge sinks whose micro-batches must apply once. */
  def upsertMorExactlyOnce(source: DataFrame, keyCols: Seq[String],
                           writerId: String, batchId: Long): Int =
    exactlyOnce(writerId, batchId) { (s, once) =>
      upsertMorWith(s, enforced(source, s), keyCols, once)
    }

  private def upsertMorWith(snap: Snapshot, source: DataFrame,
                            keyCols: Seq[String], once: Option[Once]): Int = {
    require(keyCols.nonEmpty, "upsert requires at least one key column")
    // ONE snapshot for schema + transforms + bucket layout: a
    // concurrent schema commit between separate reads could misalign
    // the eq-delete keySchema with the written data files (same
    // snapshot-consistency rationale as upsertWith / deleteWhere)
    val s = snap.schema
    keyCols.foreach(c => require(s.fieldNames.contains(c),
      s"upsert key $c not in schema at $root"))
    val aligned = alignToUserColumns(source, snap)
    // data files first (invisible until commit). The delete keys are
    // then read back from the WRITTEN files, not recomputed from the
    // source plan — under a non-deterministic source the two sides of
    // the commit could otherwise disagree on which keys were merged.
    val pending = writeData(aligned, snap)
    val dataRows = pending.files.map(_.rows).sum
    if (dataRows == 0L) {
      // empty merge: a no-op, not an empty commit (but the guard's
      // high-water must still advance, or a crash-replay would re-run
      // every later batch's predecessor check against a stale mark)
      pending.files.foreach(f =>
        Files.deleteIfExists(Paths.get(root, f.path)))
      return if (once.isEmpty) snap.version
        else commit(Change.metadata(Map.empty)(sameMeta).once(once))
    }
    val keySchema = StructType(keyCols.map(c => s(c)))
    val keys = spark.read.schema(keySchema)
      .parquet(pending.files.map(f => s"$root/${f.path}"): _*)
      .distinct()
    val delEntries = writeDeleteFiles(keys, keyCols)
    commit(Change.data(pending, Map("merge.keys" -> keyCols.mkString(","),
        "merge.mor" -> "true", "merge.rows" -> dataRows.toString))
      .copy(deletes = delEntries).once(once))
  }

  /** Apply a ROW-LEVEL DELTA in ONE atomic commit: `deletePositions`
    * names existing rows by their [[readWithRowCoords]] coordinates
    * (`_file`, `_pos`) and `inserts` carries replacement/new rows in
    * user columns. This is the write half of SQL UPDATE / MERGE INTO —
    * Spark's delta-based row-level rewrite produces exactly this
    * currency (delete ops carry rowIds, update ops both sides, insert
    * ops new rows) and the engine lands it transactionally. Routing
    * mirrors DELETE's `delete.mode` split:
    *
    *  - MERGE-ON-READ (copyOnWrite = false, the default): positions
    *    land as position-delete files and inserts as data files, both
    *    stamped by the SAME commit — O(delta) write cost, zero data
    *    files rewritten: the streaming-CDC-apply / surgical-correction
    *    shape on a 100 TB table. Readers pay the (file, pos) anti-join
    *    until compaction absorbs it (same economics as
    *    [[deleteWherePositional]]).
    *  - COPY-ON-WRITE: exactly the files that lost a row are rewritten
    *    — survivors anti-joined on (file, pos) — together with the
    *    inserts, replacing the affected files. No read-side anti-join
    *    debt; better for large batch updates.
    *
    * Concurrency: positions name rows of the snapshot the caller
    * SCANNED; the commit aborts with ConcurrentModificationException
    * if a concurrent rewrite superseded any referenced file (MOR: the
    * `requireLive` covers check; CoW: strict replace + the unapplied-
    * delete guard) — retry re-scans and re-resolves. Returns the
    * committed version (unchanged for an empty delta). */
  def applyRowDelta(deletePositions: DataFrame, inserts: DataFrame,
                    copyOnWrite: Boolean = false,
                    extraMeta: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{broadcast, col, substring_index}
    // WAP interaction: the caller's scan (readWithRowCoords) resolved
    // against the PINNED main version, but this commit would land
    // STAGED on the branch — positions named against one state,
    // changes visible in another, and an abandon would discard the
    // update while its positions were already resolved. Refuse while
    // a branch stages; row-level SQL DML and WAP audits don't mix
    // mid-flight (same stance as redriveQuarantine).
    activeBranch.foreach { case (br, _) =>
      throw new IllegalStateException(
        s"row-level delta on $root while WAP branch '$br' is staging " +
          "— publish or abandon the branch first")
    }
    val s = latest()
    val dels = s.deletes
    // the delta is consumed more than once (delete write + covers /
    // survivor anti-join) — pin one row set even under a
    // non-deterministic source
    val delPinned = deletePositions
      .select(col(RowFileCol).cast("string").as(DeleteFileCol),
        col(RowPosCol).cast("long").as(DeletePosCol))
      .localCheckpoint(eager = false)
    val nDel = delPinned.count()
    // align inserts loudly to the user columns (a missing column is an
    // analysis error, not a silent null); derived bucket/transform
    // columns are the writer's job (writeData injects them); CHECK
    // constraints enforced like every other write path
    val pending = writeData(enforced(alignToUserColumns(inserts, s), s), s)
    val insRows = pending.files.map(_.rows).sum
    def reclaim(): Unit = pending.files.foreach(f =>
      Files.deleteIfExists(Paths.get(root, f.path)))
    if (nDel == 0L && insRows == 0L) { reclaim(); return s.version }
    val meta = Map("delta.inserted" -> insRows.toString,
      "delta.deleted" -> nDel.toString) ++ extraMeta
    if (copyOnWrite) {
      // rewrite exactly the files that lost a row
      val affected = delPinned.select(DeleteFileCol).distinct()
        .collect().map(_.getString(0)).toSet // bounded by touched files
      val affectedEntries = s.files.filter(e => affected(e.path))
      if (affectedEntries.size != affected.size) {
        reclaim()
        throw new java.util.ConcurrentModificationException(
          s"row delta at $root names " +
            s"${affected.size - affectedEntries.size} file(s) no " +
            "longer live (superseded since the scan) — retry")
      }
      val sp = spark
      import sp.implicits._
      val nameRel = affectedEntries
        .map(e => (e.path.split("/").last, e.path)).toDF("__fn", "__rel")
      val delKeys = delPinned.select(col(DeleteFileCol).as("__rel"),
        col(DeletePosCol).as(PosTag))
      val survivors = readEntries(affectedEntries, s, tag = true,
          tagPos = true, deletes = dels)
        .withColumn("__fn", substring_index(col(FileTag), "/", -1))
        .join(broadcast(nameRel), Seq("__fn"))
        .join(delKeys, Seq("__rel", PosTag), "left_anti")
        .drop("__fn", "__rel", FileTag, PosTag)
      val survivorsPending = writeData(survivors, s)
      commit(Change.data(PendingWrite(
          pending.files ++ survivorsPending.files, pending.schema),
          meta + ("delta.mode" -> "copy-on-write"))
        .copy(replace = RowRewrite(affected, dels.map(_.path).toSet)))
    } else {
      // positions range-clustered on (file, pos): tight covers per
      // delete file, partition count bounded so a small delta never
      // fans out into per-task confetti
      val numParts = math.max(1, math.min(32,
        delPinned.rdd.getNumPartitions))
      val delEntries =
        if (nDel == 0L) Nil
        else writeDeleteFiles(delPinned
          .repartitionByRange(numParts, col(DeleteFileCol),
            col(DeletePosCol))
          .sortWithinPartitions(DeleteFileCol, DeletePosCol), keyCols = Nil)
      val change =
        if (insRows > 0) Change.data(pending, meta)
        else { reclaim(); Change.metadata(meta)(sameMeta) }
      commit(change.copy(deletes = delEntries))
    }
  }

  /** Distinct relative paths of the files the tagged rows live in. */
  private def affectedFiles(tagged: DataFrame,
                            entries: Seq[FileEntry]): Set[String] = {
    val abs = tagged.select(FileTag).distinct().collect()
      .map(_.getString(0))
    abs.flatMap { a =>
      entries.collectFirst { case e if a.endsWith("/" + e.path) => e.path }
    }.toSet
  }

  /** Compaction rewrites are STRICT replaces: if any base file was
    * already superseded by a racer (another compaction, a row-level
    * op), commit aborts with ConcurrentModificationException instead
    * of re-adding rows the racer rewrote (duplication) or deleted
    * (resurrection). Concurrent plain APPENDS are unaffected — their
    * files are not in the replaced set and are carried forward. */
  private def rewriteFiles(base: Snapshot, cur: Snapshot,
                           shape: DataFrame => DataFrame,
                           extraMeta: Map[String, String]): Int =
    // readAt applies the base's position deletes, so the rewrite
    // ABSORBS them: the commit drops every delete file whose covered
    // data files all got replaced (here: all of them)
    commit(Change.data(writeData(shape(readAt(base)), cur),
        Map("compaction" -> "true") ++ extraMeta)
      .copy(replace = RowRewrite(base.files.map(_.path).toSet,
        base.deletes.map(_.path).toSet)))

  private lazy val hadoopConf = spark.sessionState.newHadoopConf()

  /** Exact row count + per-column [lo, hi] ranges from the parquet
    * footer — a driver-side metadata read of a few KB, no data scan
    * (Iceberg stores the same numbers in its manifests). At
    * many-files-per-commit scale the same numbers come from executor
    * write-task metrics; either way the input is computed ONCE. Stats
    * are aggregated across row groups; a column is dropped (never
    * prune) when any row group lacks stats, is all-null, or is a
    * floating column whose range touches NaN (parquet NaN stats are
    * unreliable by spec). */
  /** Manifest metadata for the hive partition values encoded in a
    * file's relative partition path (`k1=v1/k2=v2`): each value is an
    * exact [v, v] range with null count 0; the null marker records an
    * all-null count and no range. Unparseable values are skipped (no
    * stat = never prune on it). */
  private def partValueMeta(partRel: String, schema: StructType,
                            rows: Long)
      : (Map[String, ColStat], Map[String, Long]) = {
    // Spark's hive-path writer escapes with ExternalCatalogUtils
    // .escapePathName, which encodes only a fixed char set as %XX and
    // leaves '+' literal — URLDecoder would turn '+' into a space and
    // the resulting wrong [v, v] stat would silently prune files that
    // DO hold matching rows. Decode with the exact inverse.
    val segs = partRel.split("/").toSeq.filter(_.contains("="))
      .map { seg => val Array(k, raw) = seg.split("=", 2)
        k -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(raw) }
    val stats = segs.flatMap { case (k, v) =>
      if (v == "__HIVE_DEFAULT_PARTITION__") None
      else schema.fields.find(_.name == k).flatMap { f =>
        try f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            Some(v.toLong)
          case FloatType | DoubleType =>
            val d = v.toDouble; if (d.isNaN) None else Some(d)
          case StringType  => Some(v)
          case BooleanType => Some(v.toBoolean)
          case _ => None
        } catch { case _: IllegalArgumentException => None }
      }.map(x => k -> ColStat(x, x))
    }.toMap
    val nulls = segs.map { case (k, v) =>
      k -> (if (v == "__HIVE_DEFAULT_PARTITION__") rows else 0L)
    }.toMap
    (stats, nulls)
  }

  /** Write df as immutable parquet files; returns entries + df schema.
    * SINGLE evaluation of the input: per-file row counts come from the
    * written parquet footers, not a separate count() job (which would
    * double every MV micro-batch's and compaction's computation — and
    * disagree with the written rows for non-deterministic inputs).
    * Files are written DIRECTLY at their final UUID-named paths under
    * `data/` (hive-style `<k=v>/` dirs when partitioned), and the
    * committed file list comes from the write tasks' commit messages
    * ([[org.apache.spark.sql.graft.DirectWrite]]) — zero renames, zero
    * directory listing, on either write path: the Iceberg task-commit
    * form that holds on object stores, where "rename" is copy+delete
    * per part file. Crashed attempts leave unreferenced UUID orphans
    * that never reach a manifest; the age-guarded vacuum reclaims
    * them. */
  /** Derive any missing hidden-partitioning columns — the writer owns
    * them exactly like the bucket column; reads/rewrites already carry
    * them, so injection is idempotent. */
  private def withTransformCols(df: DataFrame, s: Snapshot): DataFrame =
    s.transforms.foldLeft(df)((d, t) =>
      if (d.columns.contains(t.phys)) d
      else d.withColumn(t.phys, t.writeExpr))

  /** `df` aligned loudly to snapshot `s`'s USER columns and types (a
    * missing column is an analysis error, not a silent null); derived
    * columns — bucket and transform partitions — are the writer's
    * job, never the caller's. */
  private def alignToUserColumns(df: DataFrame, s: Snapshot): DataFrame = {
    import org.apache.spark.sql.functions.col
    val transformPhys = s.transforms.map(_.phys).toSet
    val userFields = s.schema.fields.filterNot(f =>
      (s.bucketSpec.isDefined && f.name == BucketCol) ||
        transformPhys.contains(f.name))
    df.select(userFields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }

  /** Write `df` under snapshot `s`'s layout (transforms, bucket,
    * partition columns). */
  private def writeData(df1: DataFrame, s: Snapshot): PendingWrite = {
    val df0 = withTransformCols(df1, s)
    // bucketed layout: the writer owns the bucket column — callers
    // append user rows and the hash lands them in their bucket dir.
    // Reads/rewrites already carry _bucket, so injection is idempotent.
    // ...and clustered on it, so every append lands ONE file per
    // non-empty bucket dir instead of tasks x buckets shards (the
    // shuffle is batch-sized; the layout payoff is probe reads over
    // file counts proportional to buckets, not write history)
    val df = s.bucketSpec match {
      case Some((_, n)) if !df0.columns.contains(BucketCol) =>
        import org.apache.spark.sql.functions.col
        df0.withColumn(BucketCol, bucketWriteExpr(s))
          .repartition(n, col(BucketCol))
      case _ => df0
    }
    // footer metas ride the task-commit messages (each task parses
    // the files it wrote — see DirectWrite.parquetWithMetas): the
    // manifest builds with zero fresh-file reads on the driver and no
    // extra job at any commit size
    val relsMetas = org.apache.spark.sql.graft.DirectWrite
      .parquetWithMetas(df, root, s.partitionBy)
    val entries = relsMetas.map {
      case (rel, (rows, st, nc, size, mtime)) =>
        val partRel = dirOf(rel)
        // partition values are exact per-file constants: record them
        // as [v, v] stats (and 0 / all-null counts) so manifest
        // pruning (readWhere/probe) skips whole partition dirs
        // without any directory listing
        val (pStats, pNulls) =
          if (partRel.isEmpty) (Map.empty[String, ColStat],
            Map.empty[String, Long])
          else partValueMeta(partRel, df.schema, rows)
        FileEntry(s"data/$rel", rows, stats = st ++ pStats,
          nullCounts = nc ++ pNulls,
          sizeBytes = size, modTimeMs = mtime)
    }
    PendingWrite(entries, df.schema)
  }

  // ---- schema evolution (rename/drop, Iceberg field-ID semantics) ----

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: a metadata-only commit
    * through the same optimistic loop as data — the transform
    * re-applies to the freshly-read properties on every retry, so it
    * serializes correctly against racing appends. This is how a CHECK
    * constraint or a compaction policy lands on a LIVE table; a
    * constraint added later binds only to rows written AFTER the
    * commit (existing rows are grandfathered — rewrite paths are
    * exempt by design, see [[enforced]]). */
  def updateProperties(updates: Map[String, String],
                       removals: Set[String] = Set.empty): Int =
    commit(Change.metadata(Map("alter" -> "properties")) { s =>
      sameMeta(s).copy(props = (s.properties -- removals) ++ updates)
    })

  /** Rename a column, KEEPING its field ID: files written under the old
    * name keep serving their data under the new one (resolved by ID at
    * read time) — a rename is never a drop+add. Partition columns can't
    * be renamed (their name is the directory layout). */
  def renameColumn(from: String, to: String): Int =
    commit(Change.metadata(Map("alter" -> s"rename $from -> $to")) { snap =>
      val (s, ids) = (snap.schema, snap.fieldIds)
      require(s.fieldNames.contains(from), s"no column $from at $root")
      require(!s.fieldNames.contains(to), s"column $to already exists at $root")
      require(!snap.partitionBy.contains(from),
        s"cannot rename partition column $from")
      require(!snap.bucketCols.contains(from),
        s"cannot rename bucket column $from: every file's _bucket was " +
          "derived from it")
      require(!snap.pruningTransforms.exists(_.src == from),
        s"cannot rename $from: a partition transform (current or " +
          "superseded-but-still-pruning) derives from it")
      require(!snap.deletes.exists(e =>
        e.kind == "eq" && e.keyCols.contains(from)),
        s"cannot rename $from: a live equality delete keys on it " +
          "(compact to absorb the delete first)")
      val ns = StructType(s.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      sameMeta(snap).copy(schema = ns, ids = ids - from + (to -> ids(from)))
    })

  /** Drop a column: its field ID is RETIRED, never reused (lastFieldId
    * is monotone). A later add of the same name mints a fresh ID, so
    * data the dropped column left behind in old files can never
    * resurface under the re-added column. */
  def dropColumn(name: String): Int =
    commit(Change.metadata(Map("alter" -> s"drop $name")) { snap =>
      val s = snap.schema
      require(s.fieldNames.contains(name), s"no column $name at $root")
      require(s.fields.length > 1, s"cannot drop the last column at $root")
      require(!snap.partitionBy.contains(name),
        s"cannot drop partition column $name")
      require(!snap.bucketCols.contains(name),
        s"cannot drop bucket column $name: the layout derives from it")
      require(!snap.pruningTransforms.exists(_.src == name),
        s"cannot drop $name: a partition transform (current or " +
          "superseded-but-still-pruning) derives from it")
      require(!snap.deletes.exists(e =>
        e.kind == "eq" && e.keyCols.contains(name)),
        s"cannot drop $name: a live equality delete keys on it " +
          "(compact to absorb the delete first)")
      sameMeta(snap).copy(
        schema = StructType(s.fields.filterNot(_.name == name)),
        ids = snap.fieldIds - name)
    })

  /** PARTITION-SPEC EVOLUTION (Iceberg's headline maintenance feature):
    * re-declare the partition spec of a LIVE table — e.g. `days(ts)` ->
    * `hours(ts)` as a table grows — without rewriting a byte of data.
    *
    * Semantics:
    *   - files written AFTER this commit derive (and lay out under) the
    *     NEW spec's partition columns;
    *   - existing files keep their epoch: their manifests already
    *     record their own partition values as per-file stats, and the
    *     pruner evaluates every spec that ever governed a write
    *     ([[TransformsHistoryProp]]) with per-file stats lookups, so a
    *     check from a different epoch is vacuous rather than wrong —
    *     each file is pruned exactly by the spec it was written under;
    *   - superseded derived columns remain in the schema (they are
    *     real data in old files; new files surface them as null);
    *   - compaction migrates: a rewrite re-derives partition columns
    *     under the CURRENT spec, so compacted history adopts the new
    *     layout file by file;
    *   - the bucket layout is NOT part of the spec (changing hash
    *     placement requires a rewrite, not metadata — use compact +
    *     a new table for that).
    *
    * Identity columns and transforms both accepted, exactly as in
    * `create(partitionBy = ...)`. An empty seq un-partitions future
    * writes. Reference: crest freezes its layout at pipeline creation
    * (/root/reference/pkg/pipeline/pipeline.go) — a 100x-grown table
    * there re-ingests; here it alters one snapshot of metadata. */
  def alterPartitionSpec(specs: Seq[String]): Int = {
    // phys names + identity validation against the current schema for
    // early errors; the alter closure re-validates per retry against
    // the freshly-read schema, so a racing schema commit cannot be
    // outrun
    val s0 = latest()
    val parsed0 = specs.map(p => parseTransformSpec(p, s0.schema).toRight(p))
    val newPartBy = parsed0.map {
      case Left(c) => c
      case Right(t) => t.phys
    } ++ s0.bucketSpec.map(_ => BucketCol)
    require(newPartBy.distinct.size == newPartBy.size,
      s"duplicate partition columns in $specs")
    val transformSpecs = parsed0.collect { case Right(t) => t.spec }
    commit(Change.metadata(
        Map("alter" -> s"partition-spec ${specs.mkString(",")}")) { snap =>
        val (s, ids, last) = (snap.schema, snap.fieldIds, snap.lastFieldId)
        val parsed = specs.map(p => parseTransformSpec(p, s).toRight(p))
        parsed.collect { case Left(c) => c }.foreach(c =>
          require(s.fieldNames.contains(c),
            s"partition column $c not in schema at $root"))
        val transforms = parsed.collect { case Right(t) => t }
        // a phys name already in the schema must BE that transform's
        // column (same spec => same name => same type); a user column
        // squatting on the reserved name is an error, not a reuse
        val fresh = transforms.filter(t => !s.fieldNames.contains(t.phys))
        transforms.filterNot(fresh.contains).foreach(t =>
          require(s(t.phys).dataType == t.physType,
            s"column ${t.phys} exists with type " +
              s"${s(t.phys).dataType.sql}, expected ${t.physType.sql}"))
        val added = fresh.map(t =>
          StructField(t.phys, t.physType, nullable = true))
        val p = snap.properties
        val oldCur = p.get(TransformsProp)
          .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil)
        val hist = (p.get(TransformsHistoryProp)
          .map(_.split(";").toSeq.map(_.trim).filter(_.nonEmpty))
          .getOrElse(Nil) ++ oldCur)
          .distinct.filterNot(transformSpecs.contains)
        TableMeta(StructType(s.fields ++ added),
          ids ++ fresh.zipWithIndex.map { case (t, i) =>
            t.phys -> (last + i + 1) },
          (p - TransformsProp - TransformsHistoryProp) ++
            (if (transformSpecs.isEmpty) Map.empty[String, String]
             else Map(TransformsProp -> transformSpecs.mkString(";"))) ++
            (if (hist.isEmpty) Map.empty[String, String]
             else Map(TransformsHistoryProp -> hist.mkString(";"))),
          newPartBy)
      })
  }

  /** Iceberg-style rollback: commit a NEW snapshot whose file set,
    * schema, and field IDs are those of retained `version` — history
    * is preserved (time travel still reads the undone snapshots until
    * expiry), the restored files are live again and re-protected from
    * vacuum by the new reference, and the table keeps moving forward
    * (appends land on top of the restored state). Two states carry
    * FORWARD rather than roll back: exactly-once high-water marks
    * (replays of batches committed after `version` stay suppressed —
    * rollback undoes DATA, not delivery-dedup state) and lastFieldId
    * (a column added after `version` stays retired, its ID never
    * reused). Table properties also stay current: maintenance policy
    * is operational config, not data.
    *
    * A commit RACING the rollback loses its data from the live set by
    * design — "restore state as of `version`" wins, exactly like
    * Iceberg's rollback_to_snapshot. The racer's snapshot stays
    * retained (its rows recoverable by rolling forward to it) until
    * expiry; nothing is silently deleted from disk. */
  def rollbackTo(version: Int): Int = {
    val target = retained(version)
    commit(Change.metadata(Map("rollback.to" -> version.toString,
        "operation" -> "rollback")) { s =>
      sameMeta(s).copy(schema = target.schema, ids = target.fieldIds)
    }.copy(base = OnSnapshot(target)))
  }

  /** Iceberg-style snapshot retention: delete snapshot metadata older
    * than the newest `keepLast` versions, then vacuum data files that
    * only those expired snapshots referenced. Time travel remains valid
    * for every retained version; the contiguous version numbering the
    * commit protocol relies on is preserved (only a lower bound moves).
    * Returns (expired snapshots, deleted data files). */
  def expireSnapshots(keepLast: Int): (Int, Int) =
    expireSnapshots(keepLast, minAgeMs = 0L)

  /** Aged variant for background/policy callers racing live writers:
    * the vacuum half only reclaims files older than `minAgeMs`, so a
    * concurrent appender's written-but-not-yet-committed batch can
    * never be reaped out from under its commit. */
  def expireSnapshots(keepLast: Int, minAgeMs: Long): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val cur = currentVersion
    val cutoff = cur - keepLast + 1
    // tags pin forever; an active WAP branch pins the main-visible
    // version for the session's duration (publish/abandon releases it)
    val pinned = tags.values.toSet ++ activeBranch.map(_._2)
    // tagged versions are PINNED: retention never expires a snapshot
    // a tag names, and the vacuum below keeps every file it
    // references — that is the tag's whole contract
    val listed = retainedVersions
    val doomed = listed.filter(v => v < cutoff && !pinned.contains(v))
    // re-read tags immediately before deleting: a tag published since
    // the first read pins its version from here on (createTag runs the
    // mirror-image re-check after its write — see its comment)
    val pinned2 = pinned ++ tags.values ++ activeBranch.map(_._2)
    val expired = doomed.filterNot(pinned2.contains)
    // a missing object is not an error: two policy enforcers racing to
    // expire the same version must both succeed (gone IS the goal)
    expired.foreach(v => commitStore.delete(versionPath(metaDir, v)))
    val removedFiles =
      vacuumAgainst(listed.filterNot(expired.contains), minAgeMs)
    (expired.size, removedFiles)
  }

  // ---- TAGS: named, retention-pinned snapshot references -------------
  //
  // Iceberg's tag refs, scoped to what a training-data lake actually
  // needs them for: "the exact corpus run X trained on" as a durable
  // name. A tag is an immutable pointer (one putIfAbsent of a tiny
  // JSON — first writer wins, no version log needed because tags
  // never retarget; delete + recreate is the rename), resolved at
  // read time and honored by retention: expireSnapshots never expires
  // a tagged version and the vacuum keeps every file it references,
  // so `readTag` stays exact forever at the cost of pinning that
  // snapshot's files.

  private def tagPath(name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,128}"),
      s"invalid tag name '$name'")
    metaDir.resolve(s"tag-$name.json")
  }

  // ---- BRANCH (write-audit-publish) ---------------------------------
  //
  // Iceberg's branch refs, scoped to what the curation pipelines need
  // them for: STAGE a batch of commits, AUDIT them (CHECK constraints
  // fire at write time; quality gates run any query over
  // `readBranch`), then PUBLISH main atomically — or abandon without
  // a trace on main. The mechanism is one marker object through the
  // CommitStore seam: `createBranch` putIfAbsent-publishes
  // `wap-active.json` recording the branch name and the main-visible
  // version; while it exists,
  // `read`/`readWhere`/`changesSince` serve that pinned version (so
  // consumers — MVs, training jobs — never see staged data) while
  // commits append to the snapshot log as usual; `publishBranch`
  // DELETES the marker, atomically fast-forwarding main to the staged
  // head (conditional delete: exactly one of any concurrent
  // publishers wins). The snapshot log stays linear — a branch is a
  // named WAP session, one active at a time (the second createBranch
  // loses its putIfAbsent loudly), not a DAG of forks; that is the
  // audit workflow's shape, and it keeps every existing commit-path
  // invariant untouched.

  // ONE well-known marker object (not per-name): every read resolves
  // main through it, so it must be a single O(1) GET — a LIST per
  // read would pay O(metadata objects) on the hot path. Single-name
  // also makes "one session at a time" the store's own putIfAbsent
  // guarantee rather than a check-then-act.
  private def wapPath: Path = metaDir.resolve("wap-active.json")

  /** The active WAP branch, if any: (name, pinned main version). */
  def activeBranch: Option[(String, Int)] =
    commitStore.read(wapPath).map { raw =>
      val n = mapper.readTree(raw)
      n.get("branch").asText() -> n.get("mainVersion").asInt()
    }

  /** The version `read()` serves: the WAP pin while a branch is
    * staging, else the latest snapshot. */
  def mainVersion: Int =
    activeBranch.map(_._2).getOrElse(currentVersion)

  /** Open a WAP session: pin main at the current snapshot and stage
    * every subsequent commit on `name`. One session at a time (the
    * log is linear); exactly one of any concurrent creators wins. */
  def createBranch(name: String): Unit = {
    require(name.matches("[A-Za-z0-9._-]{1,128}"),
      s"invalid branch name '$name'")
    var attempts = 0
    while (true) {
      val cur = currentVersion
      val body = s"""{"branch":"$name","mainVersion":$cur,"createdAtMs":${
        System.currentTimeMillis()}}"""
      if (!commitStore.putIfAbsent(wapPath, body))
        throw new IllegalStateException(
          s"branch ${activeBranch.map(_._1).getOrElse("?")} is already " +
            s"staging at $root (publish or abandon it first — the " +
            "snapshot log is linear)")
      // A commit racing into the window between the currentVersion read
      // and the marker publish was already MAIN-VISIBLE; leaving the pin
      // below it would retroactively un-publish it for the whole staging
      // session. Re-check after winning and re-pin at the new head (a
      // concurrent creator slipping in between the delete and the retry
      // just wins the session — same one-at-a-time contract).
      if (currentVersion == cur) return
      require(commitStore.delete(wapPath),
        s"branch $name vanished while re-pinning at $root")
      attempts += 1
      require(attempts < 64,
        s"createBranch($name) at $root: commits kept landing faster " +
          "than the pin could be placed (64 attempts)")
    }
  }

  /** The staged view: main's pinned content plus every commit staged
    * since `createBranch` — what audits run against. */
  def readBranch(name: String): DataFrame = {
    requireActive(name)
    readAt(latest())
  }

  /** Atomically fast-forward main to the staged head: one conditional
    * delete of the marker — concurrent publishers serialize (exactly
    * one wins), and a reader either still sees the pin or sees the
    * full staged lineage, never a partial state. */
  def publishBranch(name: String): Int = {
    requireActive(name)
    require(commitStore.delete(wapPath),
      s"branch $name already published or abandoned at $root")
    // Re-read AFTER the marker delete: a commit racing into the window
    // between a pre-delete read and the delete is published too, and
    // the returned head must never understate what a reader now sees.
    currentVersion
  }

  /** Discard the staged commits: restore main's pinned file set as a
    * NEW snapshot (rollback semantics — staged history stays
    * retained until expiry), then release the pin. Order matters: the
    * restore lands first, so a reader never sees staged data even in
    * the instant between the two steps. */
  def abandonBranch(name: String): Int = {
    val (_, pinned) = requireActive(name)
    val v = rollbackTo(pinned)
    require(commitStore.delete(wapPath),
      s"branch $name already published or abandoned at $root")
    v
  }

  private def requireActive(name: String): (String, Int) =
    activeBranch.filter(_._1 == name).getOrElse(
      throw new IllegalArgumentException(
        s"no branch $name staging at $root"))

  /** Pin `version` under `name`. Fails if the tag exists (tags are
    * immutable — drop and recreate to move one) or the version is not
    * retained. */
  def createTag(name: String, version: Int): Unit = {
    retained(version)
    require(version >= 0 && version <= currentVersion,
      s"no version $version at $root")
    val body = s"""{"version":$version,"createdAtMs":${
      System.currentTimeMillis()}}"""
    require(commitStore.putIfAbsent(tagPath(name), body),
      s"tag $name already exists at $root")
    // Re-check AFTER publishing: a concurrent expireSnapshots that
    // read the tag list before our put may have expired `version`
    // while we were writing — in that interleaving the tag would name
    // a vacuumed snapshot forever. Undo and fail instead. (expire
    // symmetric re-reads tags right before deleting, so the residual
    // window is the instant between these two re-checks; closing it
    // entirely needs a transactional ref log, which tags deliberately
    // avoid — policy expiry racing a same-table publish is an
    // operational error this turns into a loud one.)
    if (readSnapshot(version).isEmpty) {
      commitStore.delete(tagPath(name))
      throw new IllegalStateException(
        s"tag $name lost the race with expireSnapshots: version " +
          s"$version was expired during tag creation at $root")
    }
  }

  /** Pin the CURRENT MAIN-VISIBLE snapshot — the publish step of a
    * training run. While a WAP branch is staging this is the pinned
    * main version, never the staged head: a default-tag must not make
    * unaudited staged data immortal (pass the staged version
    * explicitly to tag a branch head — a deliberate escape hatch). */
  def createTag(name: String): Unit = createTag(name, mainVersion)

  /** Drop through the CommitStore seam — create, read, list, and drop
    * must all consult the same object space on a non-POSIX store. */
  def dropTag(name: String): Unit = {
    require(commitStore.delete(tagPath(name)), s"no tag $name at $root")
  }

  /** All tags: name -> pinned version. */
  def tags: Map[String, Int] =
    commitStore.list(metaDir).flatMap { p =>
      val nm = p.getFileName.toString
      if (!nm.startsWith("tag-") || !nm.endsWith(".json")) None
      else commitStore.read(p).map(raw =>
        nm.stripPrefix("tag-").stripSuffix(".json") ->
          mapper.readTree(raw).get("version").asInt())
    }.toMap

  def tagVersion(name: String): Int =
    commitStore.read(tagPath(name))
      .map(raw => mapper.readTree(raw).get("version").asInt())
      .getOrElse(throw new IllegalArgumentException(
        s"no tag $name at $root"))

  /** Read the exact snapshot a tag pins (schema, files, and
    * merge-on-read delete set all as of that version). */
  def readTag(name: String): DataFrame = readVersion(tagVersion(name))

  // ---- METADATA TABLES (Iceberg's inspection surface) ----------------
  //
  // The lake's own state served back as DataFrames, so operators and
  // audits query table health with the same API they query data
  // (Iceberg's `db.table.files` / `.snapshots` / `.partitions` /
  // `.refs`; crest exposes none of this — its catalog is the only
  // introspection and it answers schema, not state). Everything here
  // is served from the SNAPSHOT METADATA ALREADY ON THE DRIVER for
  // query planning — no data file is opened, so `meta("partitions")`
  // on a 100 TB table costs exactly what planning one read costs, and
  // per-partition row counts come from the same manifest stats the
  // pruner trusts. The one caveat is inherited from [[snapshots]]:
  // `rows` totals are REFERENCED file rows; live merge-on-read delete
  // files are listed (kind `delete_files`) but not subtracted — an
  // exact live count needs a read, because concurrently-committed
  // overlapping deletes may name the same position twice.

  /** Metadata table for the CURRENT snapshot. Kinds:
    * `snapshots` (version, committed_at_ms, operation, num_files,
    * num_delete_files, rows, size_bytes — over all retained
    * versions), `files`, `delete_files`, `partitions`, `manifests`,
    * `refs`. The `operation` column (append / delete / overwrite /
    * replace / alter / rollback; `create` for v0) is STAMPED into the
    * snapshot's appMeta at commit time — the writer knows it exactly,
    * and reading it back costs one field per snapshot instead of an
    * O(retained × live-files) predecessor diff; a snapshot without
    * the stamp is rejected. The no-version default
    * answers for the MAIN-VISIBLE snapshot — under an active WAP
    * branch that is the pinned version (`meta("files")` in an audit
    * dashboard must describe what `read()` serves; inspect the staged
    * head by passing `currentVersion` explicitly). */
  def meta(kind: String): DataFrame = meta(kind, mainVersion)

  /** Metadata table as of a specific retained snapshot (time travel
    * over metadata — `meta("files", taggedVersion)` answers "what did
    * the corpus physically look like at the v3 training run"). */
  def meta(kind: String, version: Int): DataFrame = {
    val s = retained(version)
    val sp = spark
    import sp.implicits._
    // partition identity of one file: its hive-style `k=v` path
    // segments only (the data-dir prefix and bucket subdirs are
    // layout, not partition spec); "" for unpartitioned files
    def partOf(path: String): String =
      path.split('/').dropRight(1).filter(_.contains('=')).mkString("/")
    kind match {
      case "files" =>
        s.files
          .map(f => (f.path, partOf(f.path), f.rows, f.sizeBytes, f.seq))
          .toDF("path", "partition", "rows", "size_bytes", "seq")
      case "delete_files" =>
        s.deletes
          .map(e => (e.path, e.kind, e.rows, e.seq, e.covers.size,
            e.keyCols.mkString(",")))
          .toDF("path", "kind", "rows", "seq", "covers", "key_cols")
      case "partitions" =>
        s.files.groupBy(f => partOf(f.path)).toSeq
          .map { case (part, fs) =>
            (part, fs.size.toLong, fs.map(_.rows).sum,
              fs.map(_.sizeBytes).sum)
          }
          .toDF("partition", "file_count", "row_count", "size_bytes")
      case "manifests" =>
        (s.manifests.map(r => (r.path, "data", r.entries)) ++
          s.deleteManifests.map(r => (r.path, "delete", r.entries)))
          .toDF("path", "kind", "entries")
      case "refs" =>
        (Seq(("main", "branch", version)) ++
          activeBranch.map { case (n, v) => (n, "wap-branch", v) } ++
          tags.toSeq.map { case (n, v) => (n, "tag", v) })
          .toDF("name", "type", "version")
      case "snapshots" =>
        val rows = retainedVersions.flatMap(readSnapshot).map { n =>
          val fs = n.files
          // every commit after create stamps its operation
          val op =
            if (n.version == 0) "create"
            else n.appMeta.getOrElse("operation",
              throw n.malformed("operation stamp"))
          (n.version, n.committedAtMs, op, fs.size,
            n.deletes.size, fs.map(_.rows).sum, fs.map(_.sizeBytes).sum)
        }
        rows.toDF("version", "committed_at_ms", "operation", "num_files",
          "num_delete_files", "rows", "size_bytes")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' (expected snapshots, files, " +
          "delete_files, partitions, manifests, refs)")
    }
  }

  /** Garbage-collect files no snapshot references: leftovers from
    * crashed writers (written but never committed — the failure mode the
    * reference silently leaks on every write/commit error) and losers of
    * compare-and-set commits. Never touches referenced
    * files, so it is safe concurrent with readers of any committed
    * snapshot. `minAgeMs` makes it safe concurrent with in-flight
    * WRITERS too (their pre-commit files look orphaned until their
    * commit lands): only orphans older than the threshold are
    * reclaimed — Iceberg's orphan-file age guard. The no-arg form
    * reclaims everything immediately (single-writer maintenance).
    * Returns deleted file count. */
  def vacuum(): Int = vacuum(0L)

  def vacuum(minAgeMs: Long): Int = vacuumAgainst(retainedVersions, minAgeMs)

  private def vacuumAgainst(versions: Seq[Int],
                            minAgeMs: Long = 0L): Int = {
    val nodes = versions.flatMap(readSnapshot)
    val referenced: Set[Path] =
      nodes.flatMap(n =>
        n.files.map(f => Paths.get(root, f.path).normalize())).toSet ++
      nodes.flatMap(n =>
        n.deletes.map(e => Paths.get(root, e.path).normalize())).toSet
    var deleted = 0
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: Path): Boolean =
      minAgeMs <= 0L || Files.getLastModifiedTime(p).toMillis <= cutoff
    val dataDir = Paths.get(root, "data")
    // deletes/ holds position-delete parquet (same orphan story:
    // absorbed-by-compaction delete files and losers of commit races)
    val deletesDir = Paths.get(root, "deletes")
    Seq(dataDir, deletesDir).foreach { top =>
      walkDir(top).reverse.foreach { p =>
        // deleteIfExists / tolerate non-empty: a concurrent policy
        // enforcer may reclaim the same orphan first, and a concurrent
        // writer may drop a new file into a dir between the emptiness
        // check and the delete — neither race is an error here (the
        // caller's append already committed; vacuum is best-effort)
        if (Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
            && !referenced.contains(p.normalize()) && oldEnough(p)) {
          if (Files.deleteIfExists(p)) deleted += 1
        } else if (Files.isDirectory(p) && listDir(p).isEmpty && p != top) {
          try Files.deleteIfExists(p)
          catch { case _: java.nio.file.DirectoryNotEmptyException => () }
        }
      }
    }
    // manifests referenced by no retained snapshot: crashed/lost
    // commit attempts and the pre-merge inputs of ladder merges. Same
    // age guard as data files (an in-flight commit writes its
    // manifest before winning its snapshot slot). Delete manifests
    // (dm-*.json) get the identical treatment.
    val refedManifests: Set[Path] = nodes.flatMap { n =>
      (n.manifests ++ n.deleteManifests)
        .map(r => metaDir.resolve(r.path).toAbsolutePath.normalize())
    }.toSet
    listDir(metaDir)
      .filter { p =>
        val nm = p.getFileName.toString
        (nm.startsWith("m-") || nm.startsWith("dm-")) && nm.endsWith(".json")
      }
      .filterNot(p => refedManifests.contains(p.toAbsolutePath.normalize()))
      .filter(oldEnough)
      .foreach(p => Files.deleteIfExists(p))
    deleted
  }
}

/** A compare-and-set-guarded commit lost its race: the guarded offset
  * was moved by a concurrent committer. Re-read and retry. */
class StaleOffsetException(msg: String) extends RuntimeException(msg)

object LakeTable {
  private[lake] val mapper = new ObjectMapper()
  private val VersionRe = "v(\\d{8})\\.json".r
  /** Shared per-JVM pool for footer reads: bounded, daemon (never
    * blocks JVM exit), and process-wide so concurrent users share it
    * instead of each spinning up threads. Used by committing TASKS to
    * overlap the footer parses of wide fan-out writes (the
    * [[org.apache.spark.sql.graft.GraftDirectCommitProtocol]]
    * task-commit read-back) and by the rare driver-side fallback.
    * Sized by [[footerPoolSize]] for this JVM's role. */
  lazy val footerPool: java.util.concurrent.ExecutorService = {
    val env = Option(org.apache.spark.SparkEnv.get)
    val size = footerPoolSize(Runtime.getRuntime.availableProcessors(),
      env.flatMap(_.conf.getOption("spark.master")).getOrElse("local"),
      env.forall(_.executorId == "driver"), // SparkContext.DRIVER_IDENTIFIER
      env.flatMap(_.conf.getOption("spark.executor.cores"))
        .flatMap(_.toIntOption))
    java.util.concurrent.Executors.newFixedThreadPool(size,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-footer-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
  }

  /** Footer-pool threads for a JVM that sees `processors` cores, by its
    * role. A footer parse is part latency-bound I/O (status + ranged
    * read) and part real CPU (thrift decode + stats fold), and a
    * dynamic-partition write can hand ONE task hundreds of files.
    *  - Local mode (`local`, `local[n]`): max(8, processors). The
    *    process is the machine's tenant; the floor hides the I/O round
    *    trips.
    *  - A driver-only JVM: its own processors — it parses only on the
    *    rare fallback, and the executors' cores are not its own.
    *  - An executor: its allotted `spark.executor.cores` when set,
    *    capped at `processors` — a JVM on a shared host sees the
    *    MACHINE's cores, so with several executors per node, machine-
    *    cores threads each would oversubscribe it during simultaneous
    *    wide task commits — else `processors`. */
  private[lake] def footerPoolSize(processors: Int, master: String,
                                   isDriver: Boolean,
                                   executorCores: Option[Int]): Int =
    if (master == "local" || master.startsWith("local[")) math.max(8, processors)
    else if (isDriver) processors
    else executorCores.fold(processors)(math.min(processors, _))

  val BatchIdKey = "streaming.batchId"
  val WriterIdKey = "streaming.writerId"
  val DefaultWriter = "default"
  /** Internal per-row provenance column for row-level rewrites. */
  private[lake] val FileTag = "_gf_file_path"
  /** Row-coordinate columns served by [[LakeTable.readWithRowCoords]]
    * and exposed at the SQL surface as metadata columns (Iceberg's
    * `_file`/`_pos` names): the rowId of delta-based row-level ops. */
  val RowFileCol = "_file"
  val RowPosCol = "_pos"
  /** Derived hash-bucket partition column of bucketed tables. */
  val BucketCol = "_bucket"

  /** Table property naming the bucket-layout hash family. */
  val BucketHashProp = "bucket.hash"

  /** Table property holding the incarnation uuid minted at [[create]]
    * (Iceberg's table-uuid): stable for the table's whole life, fresh
    * on every DROP + CREATE of the same root. */
  val TableUuidProp = "table.uuid"

  /** [[BucketHashProp]] value for Spark's native bucket-id function
    * (`pmod(murmur3(cols, seed 42), n)`), byte-identical to what
    * `df.write.bucketBy(n, cols)` computes — the property that makes
    * the lake's bucket dirs a REAL Spark bucketed layout. */
  val SparkBucketHash = "spark-murmur3"

  private[lake] def writerKey(writerId: String) = s"writer.$writerId"

  /** Auto-compaction policy sized to the table's layout FAN-OUT (its
    * bucket count, partition-dir count, or IVF cluster count). A
    * continuous loop appends ~one file per live dir per batch, so a
    * gate of 2x fan-out opens within ~2 steady-state batches — where a
    * flat constant (the old 256 with 32 buckets) let probe cost climb
    * for maxFiles/dirs batches before the first merge, and a fan-out
    * ABOVE the constant (an IVF index with >512 clusters) degenerated
    * to a perpetual full rewrite that could never reach its target.
    * The 64 floor keeps tiny tables from compacting on every commit. */
  def autoCompactProps(fanout: Int,
                       sortBy: Option[String] = None): Map[String, String] =
    Map("compaction.auto.maxFiles" ->
      math.max(64, 2 * fanout).toString) ++
      sortBy.map("compaction.auto.sortBy" -> _)

  /** `cols` maps each PHYSICAL parquet column name in the file to the
    * table field ID it was written under (Iceberg-style column identity:
    * renames keep the ID, drops retire it, re-adds mint a fresh one),
    * stamped by the commit loop. */
  /** Per-column [lo, hi] range of one data file, from its parquet
    * footer. Values are Long (all integral types, dates as days,
    * timestamps as micros), Double, String, or Boolean. Absent columns
    * mean "no usable stats" — never prune on them. */
  case class ColStat(lo: Any, hi: Any)

  /** `nullCounts` records the exact per-column null count of a file
    * (Iceberg manifest shape) — independent of the [lo, hi] ranges so
    * an ALL-null column (which has no range) still prunes `IS NOT
    * NULL`, and a null-free one prunes `IS NULL`. Absent = unknown,
    * never prune. */
  /** `sizeBytes`/`modTimeMs` let reads be planned entirely from the
    * manifest (see [[org.apache.spark.sql.graft.ManifestScan]]) — zero
    * filesystem listing per scan. */
  /** `seq` is the DATA SEQUENCE NUMBER (Iceberg v2): the version at
    * which this file's rows entered the table, stamped by the commit
    * loop. Equality deletes apply exactly to rows of files with
    * seq < the delete's own seq — which is what lets a key be deleted
    * and then legitimately re-inserted. Rewritten (compacted) files
    * carry the REWRITE commit's seq; that is safe because rewrites
    * read with all live deletes applied and abort if an unapplied
    * delete landed since their base. `cols` and `seq` are defaulted
    * only until the commit loop stamps them; every manifest entry
    * carries both, and its `size`. */
  case class FileEntry(path: String, rows: Long,
                       cols: Seq[(String, Int)] = Nil,
                       stats: Map[String, ColStat] = Map.empty,
                       nullCounts: Map[String, Long] = Map.empty,
                       sizeBytes: Long = 0L, modTimeMs: Long = 0L,
                       seq: Long = 0L)
  case class SnapshotInfo(version: Int, committedAtMs: Long,
                          numFiles: Int, rows: Long)
  private[lake] case class PendingWrite(files: Seq[FileEntry],
                                        schema: StructType)

  /** One commit step of [[LakeTable.changeStepsBetween]]: the full
    * before/after file and delete-entry sets of version `version`
    * relative to its predecessor — metadata only, what the streaming
    * changelog planner decomposes into per-file change partitions.
    * `isUpdate` carries the writer's `cdf.op=update` stamp (a
    * merge-on-read row-delta whose delta was pure update rows), which
    * types the commit's change events as
    * `update_preimage`/`update_postimage`. */
  private[graft] case class ChangeStep(version: Int,
                                       prevFiles: Seq[FileEntry],
                                       files: Seq[FileEntry],
                                       prevDeletes: Seq[DeleteEntry],
                                       deletes: Seq[DeleteEntry],
                                       isCompaction: Boolean,
                                       isUpdate: Boolean,
                                       committedAtMs: Long)

  /** One snapshot-level reference to an immutable manifest file
    * (relative to the table's metadata dir). `entries` rides in the
    * reference so the merge ladder sizes classes without opening the
    * manifest. */
  private[graft] case class ManifestRef(path: String, entries: Int)

  // ---- hidden partitioning transforms (Iceberg partition specs) ------
  //
  // A transform partition is declared as metadata (`days(ts)`,
  // `hours(ts)`, `months(ts)`, `truncate(n, col)`), the WRITER derives
  // the physical partition column inside the write plan (callers never
  // supply or even know it, like the bucket layout's `_bucket`), and
  // the PRUNER maps raw-column predicates onto the derived column — so
  // a reader filtering `ts BETWEEN a AND b` prunes whole day
  // directories without knowing the layout exists. `bucket(n, col)` is
  // spelled `bucketBy` (the pre-existing hash layout, same idea).
  //
  // All supported transforms are MONOTONE NON-DECREASING in their
  // source (days/hours/months floor time; truncate floors integers
  // and prefix-truncates strings, both order-preserving), which is
  // what makes the predicate mapping sound: src < v implies
  // T(src) <= T(v), and src = v implies T(src) = T(v).

  sealed trait PTransform {
    def src: String
    def spec: String
    def phys: String
    def physType: DataType
    /** derive the partition value inside the write plan */
    def writeExpr: org.apache.spark.sql.Column
    /** map a typed raw-column literal into the (norm'd) partition
      * domain; None = unmappable, never prune */
    def mapValue(v: Any, t: DataType): Option[Any]
    /** whether RANGE predicates may map through this transform: the
      * mapping is order-preserving only if mapValue and the stats
      * comparator agree on ordering. All current transforms qualify:
      * cmpStat compares strings by unsigned UTF-8 bytes (parquet's
      * stat order), and code-point prefix truncation is a byte-prefix
      * operation, hence monotone in that order. */
    def rangeSafe: Boolean = true
  }

  private def microsOf(v: Any, t: DataType): Option[Long] = (v, t) match {
    case (x: Long, TimestampType)    => Some(x)
    case (x: Long, TimestampNTZType) => Some(x)
    case (x: Int, DateType)          => Some(x.toLong * MicrosPerDay)
    case _ => None
  }
  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  /** SQL fragment: the epoch-day of `src`, TIMEZONE-INDEPENDENT per
    * source type — LTZ floors its UTC instant via exact integer
    * floor-division ((x - pmod(x, u)) DIV u never round-trips through
    * double and is floor, not truncate, for pre-1970 instants); NTZ
    * takes its literal calendar date (CAST(ntz AS DATE) reads the
    * wall-clock fields, no session-timezone dependence); DATE is
    * already an epoch-day. mapValue always maps in UTC, so the write
    * side must never consult the session timezone either. */
  private def epochDaySql(src: String, srcType: DataType): String =
    srcType match {
      case DateType =>
        s"datediff($src, DATE'1970-01-01')"
      case TimestampNTZType =>
        s"datediff(CAST($src AS DATE), DATE'1970-01-01')"
      case _ =>
        s"((unix_micros($src) - pmod(unix_micros($src), $MicrosPerDay))" +
          s" DIV $MicrosPerDay)"
    }

  /** days/hours since epoch (UTC instants for LTZ; wall-clock fields
    * for NTZ/DATE — both timezone-independent). */
  case class TimeFloorTransform(src: String, unit: String,
                                srcType: DataType) extends PTransform {
    private val u =
      if (unit == "days") MicrosPerDay else MicrosPerHour
    def spec = s"$unit($src)"
    def phys = s"_p_${unit}_$src"
    def physType: DataType = IntegerType
    def writeExpr: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.expr
      (srcType, unit) match {
        case (TimestampType, _) =>
          expr(s"CAST((unix_micros($src) - pmod(unix_micros($src), $u))" +
            s" DIV $u AS INT)")
        case (_, "days") =>
          expr(s"CAST(${epochDaySql(src, srcType)} AS INT)")
        case _ => // hours over NTZ/DATE wall-clock fields — tz-free
          val h = if (srcType == DateType) "0" else s"hour($src)"
          expr(s"CAST(${epochDaySql(src, srcType)} * 24 + $h AS INT)")
      }
    }
    def mapValue(v: Any, t: DataType): Option[Any] =
      microsOf(v, t).map(m => Math.floorDiv(m, u))
  }

  /** months since epoch, from the UTC calendar — derived through an
    * epoch-day -> DATE -> year/month chain so the plan never touches
    * the session timezone (year()/month() of a DATE are pure calendar
    * reads, unlike over a session-zoned TIMESTAMP). */
  case class MonthsTransform(src: String, srcType: DataType)
      extends PTransform {
    def spec = s"months($src)"
    def phys = s"_p_months_$src"
    def physType: DataType = IntegerType
    def writeExpr: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.expr
      val d = s"date_add(DATE'1970-01-01', " +
        s"CAST(${epochDaySql(src, srcType)} AS INT))"
      expr(s"CAST((year($d) - 1970) * 12 + month($d) - 1 AS INT)")
    }
    def mapValue(v: Any, t: DataType): Option[Any] =
      microsOf(v, t).map { m =>
        val d = java.time.LocalDate.ofEpochDay(
          Math.floorDiv(m, MicrosPerDay))
        ((d.getYear - 1970) * 12 + d.getMonthValue - 1).toLong
      }
  }

  /** Iceberg truncate: integers floor to a multiple of `width`
    * (toward negative infinity), strings keep their first `width`
    * characters — both order-preserving. */
  case class TruncateTransform(src: String, width: Int,
                               srcType: DataType) extends PTransform {
    def spec = s"truncate($width,$src)"
    def phys = s"_p_trunc${width}_$src"
    def physType: DataType = srcType match {
      case StringType => StringType
      case _          => LongType
    }
    def writeExpr: org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.expr
      srcType match {
        case StringType => expr(s"substring($src, 1, $width)")
        case _ => expr(s"CAST($src - pmod($src, $width) AS BIGINT)")
      }
    }
    override def rangeSafe: Boolean = srcType != StringType
    // Spark's substring counts CODE POINTS; String.take counts UTF-16
    // units — they disagree on supplementary characters, and a
    // mismatch here wrongly prunes files that hold matching rows
    private def takeCodePoints(s: String): String =
      if (s.codePointCount(0, s.length) <= width) s
      else s.substring(0, s.offsetByCodePoints(0, width))
    def mapValue(v: Any, t: DataType): Option[Any] = (v, t) match {
      case (s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(takeCodePoints(s.toString))
      case (s: String, StringType) => Some(takeCodePoints(s))
      case (x: Long, _)  => Some(x - Math.floorMod(x, width.toLong))
      case (x: Int, _)   =>
        Some(x.toLong - Math.floorMod(x.toLong, width.toLong))
      case (x: Short, _) =>
        Some(x.toLong - Math.floorMod(x.toLong, width.toLong))
      case (x: Byte, _)  =>
        Some(x.toLong - Math.floorMod(x.toLong, width.toLong))
      case _ => None
    }
  }

  private val TimeSpecRe = """(days|hours|months)\(\s*(\w+)\s*\)""".r
  private val TruncSpecRe = """truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r

  /** Parse one partition spec element against `schema`; None for a
    * plain identity column name. */
  private[lake] def parseTransformSpec(spec: String, schema: StructType)
      : Option[PTransform] = spec.trim match {
    case TimeSpecRe(unit, c) =>
      require(schema.fieldNames.contains(c),
        s"transform source column $c not in schema")
      val t = schema(c).dataType
      require(t == TimestampType || t == TimestampNTZType || t == DateType,
        s"$unit($c) needs a timestamp/date column, got ${t.sql}")
      Some(if (unit == "months") MonthsTransform(c, t)
           else TimeFloorTransform(c, unit, t))
    case TruncSpecRe(w, c) =>
      require(schema.fieldNames.contains(c),
        s"transform source column $c not in schema")
      val t = schema(c).dataType
      require(t == StringType || t == LongType || t == IntegerType ||
        t == ShortType || t == ByteType,
        s"truncate($w,$c) needs a string/integral column, got ${t.sql}")
      require(w.toInt > 0, s"truncate width must be positive: $spec")
      Some(TruncateTransform(c, w.toInt, t))
    case _ => None
  }

  /** Property under which the declared transform specs persist
    * (';'-separated — specs themselves contain commas). */
  private[lake] val TransformsProp = "partition.transforms"

  /** Superseded transform specs (partition-spec evolution): every spec
    * that ever governed a write and is no longer current. The pruner
    * unions these with the current spec — each file carries partition
    * stats only for the derived columns of ITS epoch, so a check from
    * another epoch is vacuous on it — and rename/drop guards protect
    * their source columns as long as they are listed. */
  private[lake] val TransformsHistoryProp = "partition.transforms.history"

  /** One committed merge-on-read DELETE file (Iceberg v2 shapes).
    *
    * kind = "pos": a parquet of (`_del_file`, `_del_pos`) rows
    * marking individual rows of live data files deleted, applied as a
    * (file, position) anti-join. `covers` is the exact distinct set
    * of data files the positions reference — the commit-time conflict
    * check and the drop rule key on it (the entry drops once NO
    * covered file remains live).
    *
    * kind = "eq": a parquet of KEY VALUES (`keyCols`, in table
    * types); every row of any data file with fileSeq < this entry's
    * `seq` whose key matches is deleted — O(keys) commit cost with NO
    * provenance scan (the GDPR "forget user X" path at 100 TB), and
    * rows appended AFTER the delete (fileSeq >= seq) are untouched,
    * so a deleted key can be legitimately re-inserted. `covers` is
    * empty; the entry drops once every live file's seq >= its seq
    * (compaction re-stamps rows forward, absorbing it).
    *
    * `path` is root-relative (under `deletes/data/`) for both. */
  case class DeleteEntry(path: String, rows: Long, covers: Seq[String],
                         kind: String = "pos", seq: Long = 0L,
                         keyCols: Seq[String] = Nil)

  private[lake] val DeleteFileCol = "_del_file"
  private[lake] val DeletePosCol = "_del_pos"
  private[lake] val PosTag = "_gf_row_pos"
  private[graft] def deleteSchema: StructType = StructType(Seq(
    StructField(DeleteFileCol, StringType, nullable = false),
    StructField(DeletePosCol, LongType, nullable = false)))

  /** Process-wide immutable-manifest parse cache (manifests are
    * UUID-named and never rewritten, so entries cannot go stale;
    * crude clear-on-overflow keeps it bounded). */
  private[lake] val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()
  private[lake] val deleteManifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DeleteEntry]]()
  private val ManifestCacheMax = 4096

  /** Manifests per size class before the ladder merges them. */
  private[lake] val ManifestMergeFanout = 4

  /** Advisory latest-version pointer in the metadata dir, published
    * via [[CommitStore.putHint]] after every won commit. */
  private[lake] val LatestHint = "_latest"

  /** Parse a manifest's `files` array; `manifest` names the file in
    * the error for an entry missing a field every writer stamps. */
  private[lake] def parseFileArray(arr: JsonNode,
                                   manifest: String): Seq[FileEntry] =
    arr.elements().asScala.map { f =>
      def required(key: String): JsonNode =
        Option(f.get(key)).getOrElse(throw new IllegalStateException(
          s"manifest $manifest: entry ${f.path("path").asText("?")} has " +
            s"no '$key': not the manifest format this engine writes"))
      val cols = required("cols").properties().asScala
        .map(e => e.getKey -> e.getValue.asInt()).toSeq
      def statOf(n: JsonNode): Any =
        if (n.isIntegralNumber) n.asLong()
        else if (n.isFloatingPointNumber) n.asDouble()
        else if (n.isBoolean) n.asBoolean()
        else n.asText()
      val stats = Option(f.get("stats"))
        .map(_.properties().asScala.map { e =>
          e.getKey -> ColStat(statOf(e.getValue.get("lo")),
            statOf(e.getValue.get("hi")))
        }.toMap)
        .getOrElse(Map.empty[String, ColStat])
      val nulls = Option(f.get("nulls"))
        .map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap)
        .getOrElse(Map.empty[String, Long])
      FileEntry(f.get("path").asText(), f.get("rows").asLong(), cols, stats,
        nulls,
        sizeBytes = required("size").asLong(),
        modTimeMs = Option(f.get("mtime")).map(_.asLong()).getOrElse(0L),
        seq = required("seq").asLong())
    }.toSeq

  /** Serialize file entries as a manifest's `files` array on `n`. */
  private[lake] def putFileArray(
      n: com.fasterxml.jackson.databind.node.ObjectNode,
      files: Seq[FileEntry]): Unit = {
    val fileArr = n.putArray("files")
    files.foreach { f =>
      val fn = fileArr.addObject()
      fn.put("path", f.path); fn.put("rows", f.rows)
      fn.put("size", f.sizeBytes)
      if (f.modTimeMs > 0) fn.put("mtime", f.modTimeMs)
      fn.put("seq", f.seq)
      val cn = fn.putObject("cols")
      f.cols.foreach { case (name, id) => cn.put(name, id) }
      if (f.stats.nonEmpty) {
        val sn = fn.putObject("stats")
        f.stats.toSeq.sortBy(_._1).foreach { case (name, st) =>
          val c = sn.putObject(name)
          def putV(key: String, v: Any): Unit = v match {
            case x: Long    => c.put(key, x)
            case x: Double  => c.put(key, x)
            case x: Boolean => c.put(key, x)
            case x: String  => c.put(key, x)
            case other => throw new IllegalStateException(
              s"unserializable stat $other")
          }
          putV("lo", st.lo); putV("hi", st.hi)
        }
      }
      if (f.nullCounts.nonEmpty) {
        val nn = fn.putObject("nulls")
        f.nullCounts.toSeq.sortBy(_._1).foreach { case (name, c) =>
          nn.put(name, c)
        }
      }
    }
  }

  /** Directory listing that closes the underlying stream (Files.list
    * leaks a directory FD until GC otherwise — fatal for a long-running
    * driver committing frequently). Empty for non-directories. */
  private[lake] def listDir(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Recursive walk, stream closed; empty for non-directories. */
  private[lake] def walkDir(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.walk(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Least upper bound in the Iceberg promotion lattice; None when the
    * two types are not on one chain. */
  private[lake] def widerOf(a: DataType, b: DataType): Option[DataType] = {
    val intChain: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val floatChain: Seq[DataType] = Seq(FloatType, DoubleType)
    def lub(chain: Seq[DataType]): Option[DataType] = {
      val (ia, ib) = (chain.indexOf(a), chain.indexOf(b))
      if (ia >= 0 && ib >= 0) Some(chain(math.max(ia, ib))) else None
    }
    (a, b) match {
      case _ if a == b => Some(a)
      // container nullability is a lattice, not a mismatch: the
      // resolved element/value nullability is the OR of the two
      // (appending non-null elements into a nullable column — the
      // DataFrame-literal vs parquet-read-back impedance — is safe;
      // the reverse widens the TABLE, which existing files satisfy
      // trivially)
      case (ArrayType(ea, na), ArrayType(eb, nb)) =>
        widerOf(ea, eb).map(e => ArrayType(e, na || nb))
      case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
        for { k <- widerOf(ka, kb); v <- widerOf(va, vb) }
          yield MapType(k, v, na || nb)
      case _ => lub(intChain).orElse(lub(floatChain))
    }
  }

  private[lake] def versionPath(metaDir: Path, v: Int): Path =
    metaDir.resolve(f"v$v%08d.json")

  def exists(root: String): Boolean =
    Files.isDirectory(Paths.get(root, "metadata"))

  /** Create an empty table (snapshot v0) with field IDs 1..n assigned in
    * declaration order. Fails if the table already exists. `bucketBy =
    * Some((col, n))` declares a hash-bucket layout: a derived `_bucket`
    * column (`pmod(hash(col), n)`, Spark's own bucket hash — see
    * [[LakeTable.SparkBucketHash]]) is added to the schema,
    * computed by every writer, and used as the trailing hive
    * partition — the pay-once layout that makes key probes prune to
    * O(keys) bucket dirs regardless of table size, and surfaces to
    * Catalyst as a real `BucketSpec` so co-bucketed joins and
    * bucket-key aggregations plan shuffle-free. */
  def create(spark: SparkSession, root: String, schema: StructType,
             properties: Map[String, String] = Map.empty,
             partitionBy: Seq[String] = Seq.empty,
             bucketBy: Option[(String, Int)] = None,
             store: CommitStore = PosixCommitStore): LakeTable = {
    // hidden-partitioning specs parse here; plain names are identity
    // partitions exactly as before
    val parsedParts: Seq[Either[String, PTransform]] =
      partitionBy.map(p => parseTransformSpec(p, schema).toRight(p))
    val transforms = parsedParts.collect { case Right(t) => t }
    parsedParts.collect { case Left(c) => c }.foreach(c =>
      require(schema.fieldNames.contains(c),
        s"partition column $c not in schema"))
    transforms.foreach(t => require(
      !schema.fieldNames.contains(t.phys),
      s"${t.phys} is reserved for the ${t.spec} partition transform"))
    require(transforms.map(_.phys).distinct.size == transforms.size,
      s"duplicate partition transforms in $partitionBy")
    require(properties.get(BucketHashProp).forall(_ == SparkBucketHash),
      s"unsupported $BucketHashProp '${properties(BucketHashProp)}' at " +
        s"$root: bucket layouts use $SparkBucketHash only")
    bucketBy.foreach { case (c, n) =>
      c.split(",").map(_.trim).foreach(bc => require(
        schema.fieldNames.contains(bc), s"bucket column $bc not in schema"))
      require(n > 0, s"bucket count must be positive, got $n")
      require(!schema.fieldNames.contains(BucketCol),
        s"$BucketCol is reserved for the bucket layout")
    }
    val fullSchema = StructType(schema.fields ++
      transforms.map(t => StructField(t.phys, t.physType, nullable = true)) ++
      bucketBy.map(_ =>
        StructField(BucketCol, IntegerType, nullable = true)).toSeq)
    val fullParts = parsedParts.map {
      case Left(c) => c
      case Right(t) => t.phys
    } ++ bucketBy.map(_ => BucketCol)
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    val ids = fullSchema.fields.zipWithIndex
      .map { case (f, i) => f.name -> (i + 1) }.toMap
    val props = Map("write.format.default" -> "parquet",
      // incarnation identity (Iceberg's table-uuid): DROP + CREATE at
      // the same root mints dense versions from 0 again, so any cache
      // keyed (root, version) would serve the dead incarnation's state
      // — the uuid disambiguates (see GraftV1ReadRule's plan cache)
      TableUuidProp -> java.util.UUID.randomUUID().toString) ++
      // bucketed tables use Spark's own bucket hash so the layout is
      // Catalyst-visible (BucketSpec)
      bucketBy.map(_ => Map(BucketHashProp -> SparkBucketHash))
        .getOrElse(Map.empty) ++
      properties ++
      (if (transforms.isEmpty) Map.empty[String, String]
       else Map(TransformsProp -> transforms.map(_.spec).mkString(";"))) ++
      bucketBy.map(b => Map("bucket.column" -> b._1,
        "bucket.count" -> b._2.toString)).getOrElse(Map.empty)
    val t = new LakeTable(spark, root, store)
    t.commit(t.Change.metadata(Map("operation" -> "create"))(
      _ => Commit.TableMeta(fullSchema, ids, props, fullParts))
      .copy(base = t.OnEmptyLog))
    t
  }

  def load(spark: SparkSession, root: String,
           store: CommitStore = PosixCommitStore): LakeTable = {
    require(exists(root), s"no lake table at $root")
    new LakeTable(spark, root, store)
  }

  def createOrLoad(spark: SparkSession, root: String,
                   schema: StructType): LakeTable =
    if (exists(root)) load(spark, root) else create(spark, root, schema)

  private def statEligible(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType |
         TimestampType => true
    case _ => false
  }

  /** Normalize a parquet footer min/max into the ColStat domain. */
  private def statValue(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (n: java.lang.Integer, _) => Some(n.longValue())
    case (n: java.lang.Long, _)    => Some(n.longValue())
    case (n: java.lang.Float, _)   =>
      if (n.isNaN) None else Some(n.doubleValue())
    case (n: java.lang.Double, _)  =>
      if (n.isNaN) None else Some(n.doubleValue())
    case (b: java.lang.Boolean, _) => Some(b.booleanValue())
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      Some(b.toStringUsingUTF8)
    case _ => None
  }

  private[graft] def cmpStat(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Long, y: Long)       => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Double)     => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Long)     => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: Double, y: Double)   => Some(java.lang.Double.compare(x, y))
    // UNSIGNED UTF-8 BYTE order, matching how parquet computes binary
    // min/max (and how Spark orders strings): UTF-16 compareTo would
    // disagree around supplementary characters — chars >= U+E000 sort
    // BELOW surrogate-pair code points in UTF-16 units but above them
    // in UTF-8 bytes — and an equality prune bound-checked with the
    // wrong order can drop files holding matching rows
    case (x: String, y: String)   => Some(java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }
  private def minOf(a: Any, b: Any): Option[Any] =
    cmpStat(a, b).map(c => if (c <= 0) a else b)
  private def maxOf(a: Any, b: Any): Option[Any] =
    cmpStat(a, b).map(c => if (c >= 0) a else b)


  /** The [[footerMeta]] tuple: (rows, per-column [lo, hi] stats,
    * per-column null counts, file size bytes, mtime ms). */
  type FooterMeta = (Long, Map[String, ColStat], Map[String, Long],
    Long, Long)

  /** Exact row count + per-column [lo, hi] ranges + file size/mtime
    * from one parquet footer — static and conf-parameterized so it
    * runs on EXECUTORS (the task-commit read-back in
    * [[org.apache.spark.sql.graft.GraftDirectCommitProtocol]], and
    * the driver fallback): the only state it touches is the file
    * itself. Stats are aggregated across row groups; a column is
    * dropped (never prune) when any row group lacks stats, is
    * all-null, or is a floating column whose range touches NaN
    * (parquet NaN stats are unreliable by spec). */
  def footerMeta(pathStr: String, schema: StructType,
                 conf: org.apache.hadoop.conf.Configuration)
      : FooterMeta = {
    // callers pass URI strings (file:/...), pinning the scheme so a
    // session-level fs.defaultFS can never redirect footer reads.
    // Parse back to a URI before building the Path: the Path(String)
    // constructor URI-DECODES %XX once, which corrupts hive-escaped
    // partition dirs (grp=%2Bliteral would lose its escaping); the
    // Path(URI) constructor takes the components literally.
    footerMetaAt(new org.apache.hadoop.fs.Path(
      java.net.URI.create(pathStr)), schema, conf)
  }

  /** [[footerMeta]] over an already-built hadoop Path — the
    * task-commit form: the committing task passes EXACTLY the Path it
    * created the file with (same parent, same child string), so
    * whatever escaping semantics the writer's Path construction had,
    * the read-back sees the same file. */
  def footerMetaAt(hp: org.apache.hadoop.fs.Path, schema: StructType,
                   conf: org.apache.hadoop.conf.Configuration)
      : FooterMeta = {
    val status = hp.getFileSystem(conf).getFileStatus(hp)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(status, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala
      val eligible: Map[String, DataType] = schema.fields.collect {
        case f if statEligible(f.dataType) => f.name -> f.dataType
      }.toMap
      var agg = Map.empty[String, Option[ColStat]]
      // exact null counts, summed across row groups; any row group
      // without the count poisons the column (absent = unknown)
      var nulls = Map.empty[String, Option[Long]]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        eligible.get(name).foreach { dt =>
          val s = c.getStatistics
          val cur: Option[ColStat] =
            if (s == null || !s.hasNonNullValue) None
            else for {
              lo <- statValue(s.genericGetMin, dt)
              hi <- statValue(s.genericGetMax, dt)
            } yield ColStat(lo, hi)
          val merged = (agg.getOrElse(name, cur), cur) match {
            case (Some(a), Some(b2)) => for {
              lo <- minOf(a.lo, b2.lo); hi <- maxOf(a.hi, b2.hi)
            } yield ColStat(lo, hi)
            case _ => None // any statless row group poisons the column
          }
          agg += name -> merged
          val curN: Option[Long] =
            if (s != null && s.isNumNullsSet) Some(s.getNumNulls) else None
          val mergedN =
            if (!nulls.contains(name)) curN
            else (nulls(name), curN) match {
              case (Some(a), Some(b2)) => Some(a + b2)
              case _ => None
            }
          nulls += name -> mergedN
        }
      }
      (r.getRecordCount,
        agg.collect { case (k, Some(v)) => k -> v },
        nulls.collect { case (k, Some(v)) => k -> v },
        status.getLen, status.getModificationTime)
    } finally r.close()
  }

}

/** StructType <-> JSON via Spark's own stable wire format. */
object DataTypeBridge {
  def toJson(s: StructType): String = s.json
  def fromJson(j: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType]
}
