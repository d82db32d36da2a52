package perfbench

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def next(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A word list made from the seed: distinct lowercase pseudo-words, so
  * generated text needs no normalisation and its shingles are known. */
final class Vocab(size: Int, rnd: java.util.Random) {
  val words: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size)
      seen += Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toArray
  }
  def word(): String = words(rnd.nextInt(words.length))
  def text(nWords: Int): Array[String] = Array.fill(nWords)(word())
}

/** One event row: the ingest and lake_query tables' schema. */
final case class Event(id: Long, tsMicros: Long, userId: Long, kind: String,
                       value: Double, payload: String) {
  def row: Row = Row(id, java.sql.Timestamp.from(
    java.time.Instant.EPOCH.plusNanos(tsMicros * 1000L)), userId, kind, value, payload)

  /** Bytes of the row's values: fixed-width fields plus UTF-8 text. */
  def rawBytes: Long = 32L + kind.getBytes(UTF_8).length + payload.getBytes(UTF_8).length

  /** Order-independent checksum term, also computable in SQL by
    * [[Events.checksumSql]]. */
  def checksumTerm: BigInt = {
    def crc(s: String) = { val c = new java.util.zip.CRC32; c.update(s.getBytes(UTF_8)); c.getValue }
    BigInt(id * 7 + userId * 13 + tsMicros + math.round(value * 100) * 3 + crc(kind) + crc(payload))
  }
}

object Events {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("event_ts", TimestampType),
    StructField("user_id", LongType), StructField("kind", StringType),
    StructField("value", DoubleType), StructField("payload", StringType)))

  val checksumSql: String =
    "sum(CAST(event_id * 7 + user_id * 13 + unix_micros(event_ts) + " +
      "CAST(round(value * 100) AS BIGINT) * 3 + crc32(CAST(kind AS BINARY)) + " +
      "crc32(CAST(payload AS BINARY)) AS DECIMAL(38, 0)))"

  val Kinds: Array[String] = Array("view", "click", "cart", "buy", "share")
  /** 2026-01-01T00:00:00Z; event times spread over [Epoch0, Epoch0 + Days). */
  val Epoch0Micros: Long = 1767225600L * 1000000L
  val Days = 7
  val DayMicros: Long = 86400L * 1000000L
}

/** Seeded event stream: ids ascend from `firstId`, 5000 users are
  * Zipf-skewed, event times spread over [[Events.Days]] days. */
final class EventGen(seed: Long, firstId: Long) {
  private val rnd = new java.util.Random(seed)
  private val zipf = new Zipf(5000, 1.1, rnd)
  private val vocab = new Vocab(400, rnd)
  private var nextId = firstId

  def next(): Event = {
    val e = Event(nextId,
      Events.Epoch0Micros + (rnd.nextDouble() * Events.Days * Events.DayMicros).toLong,
      zipf.next().toLong, Events.Kinds(rnd.nextInt(Events.Kinds.length)),
      rnd.nextInt(100000) / 100.0, vocab.text(6 + rnd.nextInt(8)).mkString(" "))
    nextId += 1
    e
  }
  def batch(n: Int): Array[Event] = Array.fill(n)(next())
}

/** Writes event batches as Arrow IPC files with Arrow Java, the layout
  * `MVManager.startToArrow` publishes: `batch-<id>/part-0.arrow`, made
  * visible by one atomic rename of a dot-prefixed staging directory. */
final class ArrowBatchWriter(dir: Path) extends AutoCloseable {
  private val allocator = new RootAllocator()
  private val arrowSchema = graft.sources.ArrowSink.toArrowSchema(Events.schema)
  Files.createDirectories(dir)

  def staging(id: Long): Path = dir.resolve(s".staging-batch-$id")

  /** Write batch `id` into its staging directory; returns its byte size. */
  def stage(id: Long, rows: Array[Event]): Long = {
    val st = staging(id)
    Files.createDirectories(st)
    val root = VectorSchemaRoot.create(arrowSchema, allocator)
    try {
      val ids = root.getVector("event_id").asInstanceOf[BigIntVector]
      val ts = root.getVector("event_ts").asInstanceOf[TimeStampMicroTZVector]
      val users = root.getVector("user_id").asInstanceOf[BigIntVector]
      val kinds = root.getVector("kind").asInstanceOf[VarCharVector]
      val values = root.getVector("value").asInstanceOf[Float8Vector]
      val payloads = root.getVector("payload").asInstanceOf[VarCharVector]
      root.allocateNew()
      rows.indices.foreach { i =>
        val e = rows(i)
        ids.setSafe(i, e.id); ts.setSafe(i, e.tsMicros); users.setSafe(i, e.userId)
        kinds.setSafe(i, e.kind.getBytes(UTF_8)); values.setSafe(i, e.value)
        payloads.setSafe(i, e.payload.getBytes(UTF_8))
      }
      root.setRowCount(rows.length)
      val file = st.resolve("part-0.arrow")
      val ch = FileChannel.open(file, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        val w = new ArrowFileWriter(root, null, ch)
        w.start(); w.writeBatch(); w.end(); w.close()
      } finally ch.close()
      Files.size(file)
    } finally root.close()
  }

  /** Publish a staged batch; returns the nanoTime of the rename. */
  def publish(id: Long): Long = {
    Files.move(staging(id), dir.resolve(s"batch-$id"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    System.nanoTime()
  }

  override def close(): Unit = allocator.close()
}

/** One generated document and where it came from. */
final case class Doc(id: Long, text: String, kind: Doc.Kind)
object Doc {
  sealed trait Kind
  case object Original extends Kind
  case object ExactCopy extends Kind
  case object NearCopy extends Kind

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Distinct word 3-gram shingles, the curation operator's definition. */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size
}

/** Seeded document batches in which 10% are exact copies and 10% near
  * copies (two substituted words) of earlier originals. The generator
  * keeps the ground truth: every document's text and kind. */
final class DocGen(seed: Long) {
  private val CopyShare = 0.1
  private val NearShare = 0.1
  private val rnd = new java.util.Random(seed)
  private val vocab = new Vocab(5000, rnd)
  private val originals = scala.collection.mutable.ArrayBuffer.empty[Doc]
  private var nextId = 0L
  val all = scala.collection.mutable.ArrayBuffer.empty[Doc]

  def batch(n: Int): Seq[Doc] = {
    val earlier = originals.length
    val out = (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val r = rnd.nextDouble()
      if (earlier > 0 && r < CopyShare) {
        val src = originals(rnd.nextInt(earlier))
        Doc(id, src.text, Doc.ExactCopy)
      } else if (earlier > 0 && r < CopyShare + NearShare) {
        val src = originals(rnd.nextInt(earlier))
        val w = src.text.split(" ")
        (0 until 2).foreach(_ => w(rnd.nextInt(w.length)) = vocab.word())
        Doc(id, w.mkString(" "), Doc.NearCopy)
      } else Doc(id, vocab.text(30 + rnd.nextInt(30)).mkString(" "), Doc.Original)
    }
    out.foreach(d => if (d.kind == Doc.Original) originals += d)
    all ++= out
    out
  }
}
