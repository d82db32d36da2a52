package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** DataSource V2 streaming source over a LakeTable's COMMIT LOG:
  * `spark.readStream.format("graft-lake-log").load(tablePath)` emits one
  * row per committed snapshot, with offsets = snapshot versions tracked
  * in the checkpoint (exactly-once delivery of commit events).
  *
  * This is the engine's custom-source slot (SURVEY §2.1 S1–S5): the
  * same TableProvider/MicroBatchStream machinery a Flight source would
  * use (blocked here only by missing flight jars), exercised end-to-end
  * against our own transactional log. Use it to trigger incremental
  * consumers (pair with LakeTable.changesSince / IncrementalPipe for
  * the data rows), monitor ingestion, or audit commit cadence.
  *
  * Snapshot metadata is tiny, so partitions carry their rows directly
  * from the driver — executors never touch the metadata files.
  */
class LakeLogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake-log"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LakeLogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-lake-log requires a path"))
    new LakeLogTable(path)
  }
}

object LakeLogSource {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("num_files", IntegerType, nullable = false),
    StructField("total_rows", LongType, nullable = false),
    StructField("batch_id", StringType, nullable = true)))

  /** Rows for versions in (from, to], as plain serializable tuples.
    * Metadata-only: no SparkSession is touched. */
  def logRows(path: String, from: Int, to: Int)
      : Seq[(Int, Long, Int, Long, String)] =
    logRows(LakeTable.load(null, path), from, to)

  /** [[logRows]] of a loaded table: one snapshot read per version in
    * the range, so a micro-batch costs O(new versions). Expired
    * versions are skipped (consumers starting before the retention
    * window only see retained snapshots). */
  def logRows(t: LakeTable, from: Int, to: Int)
      : Seq[(Int, Long, Int, Long, String)] =
    t.snapshotsBetween(from, to).map { s =>
      (s.version, s.committedAtMs, s.files.size, s.files.map(_.rows).sum,
        s.appMeta.get(LakeTable.BatchIdKey).orNull)
    }
}

class LakeLogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-lake-log(`$path`)"
  override def schema(): StructType = LakeLogSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = LakeLogSource.schema
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream = new LakeLogMicroBatchStream(path,
              Option(options.get("maxRowsPerBatch")).map(_.toLong))
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val to = LakeTable.load(null, path).currentVersion
            Array(LakeLogPartition(LakeLogSource.logRows(path, -1, to)))
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new LakeLogReaderFactory
        }
      }
    }
}

case class LakeLogOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

class LakeLogMicroBatchStream(path: String, maxRows: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}

  // AvailableNow contract: freeze the target offset at query start so
  // the run terminates even while commits keep landing
  @volatile private var frozen: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    frozen = Some(LakeTable.load(null, path).currentVersion)

  override def latestOffset(): Offset =
    LakeLogOffset(frozen.getOrElse(
      LakeTable.load(null, path).currentVersion))

  /** Admission control: `maxRowsPerBatch` (the reference's
    * batching.maxRows, config.go:41-43) caps commit-log rows — i.e.
    * snapshot versions — admitted per micro-batch. One log row per
    * version, so capping the version advance caps the rows; under
    * Trigger.AvailableNow Spark keeps issuing batches until the frozen
    * target is reached, so nothing is dropped, just paced. */
  override def getDefaultReadLimit: ReadLimit =
    maxRows.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = {
    val target = latestOffset().asInstanceOf[LakeLogOffset].version
    limit match {
      case mr: ReadMaxRows =>
        val from = start.asInstanceOf[LakeLogOffset].version
        // saturating add: maxRows near Long.MaxValue must clamp to
        // target, not wrap negative and regress behind start
        val next =
          if (mr.maxRows() >= target.toLong - from) target.toLong
          else from + mr.maxRows()
        LakeLogOffset(next.toInt)
      case _ => LakeLogOffset(target)
    }
  }
  override def initialOffset(): Offset = LakeLogOffset(-1)
  override def deserializeOffset(json: String): Offset =
    LakeLogOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[LakeLogOffset].version
    val e = end.asInstanceOf[LakeLogOffset].version
    if (e <= s) Array.empty
    else Array(LakeLogPartition(LakeLogSource.logRows(path, s, e)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LakeLogReaderFactory
}

case class LakeLogPartition(rows: Seq[(Int, Long, Int, Long, String)])
    extends InputPartition

class LakeLogReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = p.asInstanceOf[LakeLogPartition].rows.iterator
      private var cur: (Int, Long, Int, Long, String) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        cur._1, cur._2 * 1000L /* ms -> us */, cur._3, cur._4,
        if (cur._5 == null) null else UTF8String.fromString(cur._5)))
      override def close(): Unit = ()
    }
}
