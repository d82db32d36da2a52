package graft.lake

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSuite

/** The net-change property of the changelog faces: over a random
  * sequence of appends, the three deletes, both upserts and a
  * compaction, every face agrees for a version range (a, b] on the
  * multiset of rows that left and entered the table:
  *  - `readChangelog(a, b)`, as it is;
  *  - the per-commit batch feed (`table_changes`) over [a+1, b], netted;
  *  - the changes stream's events of the commits in (a, b] (one
  *    AvailableNow run), netted, with `update_preimage`/
  *    `update_postimage` read as delete/insert;
  *  - `snapshot(b) EXCEPT ALL snapshot(a)` and back.
  * Every written row carries a fresh stamp `v`, so a row version is
  * never written twice. A column rename is checked on the batch faces:
  * the stream refuses files written before a rename by design. */
class ChangeNetPropertySpec extends SparkSuite {
  import spark.implicits._

  private lazy val wh = tmpDir("gnc-wh")
  private val ns = "np"

  private def install(): Unit = {
    spark.conf.set("spark.sql.catalog.gnc", "graft.lake.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gnc.warehouse", wh)
    graft.GraftFunctions.installStrategies(spark)
    graft.GraftFunctions.register(spark)
  }

  /** Row -> signed count: positive rows entered, negative rows left. */
  private type Net = Map[Seq[Any], Int]

  private def net(events: Seq[(Seq[Any], Int)]): Net =
    events.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0)

  private def sign(changeType: String): Int = changeType match {
    case "insert" | "update_postimage" => 1
    case "delete" | "update_preimage" => -1
  }

  /** Data columns, then the change type, as signed events. */
  private def events(df: DataFrame, nCols: Int): Seq[(Seq[Any], Int)] =
    df.collect().toSeq.map(r =>
      (r.toSeq.take(nCols), sign(r.getString(nCols))))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The oracle: snapshot(b) EXCEPT ALL snapshot(a), and back. */
  private def expected(t: LakeTable, a: Int, b: Int): Net = {
    val (sa, sb) = (t.readVersion(a), t.readVersion(b))
    net(rows(sb.exceptAll(sa)).map(_ -> 1) ++
      rows(sa.exceptAll(sb)).map(_ -> -1))
  }

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("k", StringType), StructField("v", LongType)))

  /** Runs `ops` random operations on `t` (an append first, then every
    * operation kind once in random order, then random extras); every
    * written row gets a fresh `v`. */
  private class Ops(t: LakeTable, rnd: Random) {
    var kCol = "k"
    private var nextId = 0L
    private var stamp = 0L
    private var live = Vector.empty[Long]
    private def rowsOf(ids: Seq[Long]): DataFrame = ids.map { id =>
      stamp += 1
      (id, s"k${rnd.nextInt(3)}", stamp)
    }.toDF("id", kCol, "v")
    private def fresh(n: Int): Seq[Long] = {
      val ids = (nextId + 1 to nextId + n).toVector
      nextId += n
      live ++= ids
      ids
    }
    private def pick(): Seq[Long] =
      rnd.shuffle(live).take(1 + rnd.nextInt(math.max(1, live.size / 2)))
    private def forget(ids: Seq[Long]): Seq[Long] = {
      live = live.filterNot(ids.contains)
      ids
    }

    def run(kind: Int): String = kind match {
      case 0 =>
        t.append(rowsOf(fresh(1 + rnd.nextInt(4))).repartition(2)); "append"
      case 1 => t.deleteWhere(col("id").isin(forget(pick()): _*)); "deleteWhere"
      case 2 =>
        t.deleteWherePositional(col("id").isin(forget(pick()): _*))
        "deleteWherePositional"
      case 3 =>
        t.deleteWhereEqual((forget(pick()) :+ 999999L).toDF("id"), Seq("id"))
        "deleteWhereEqual"
      case 4 =>
        t.upsert(rowsOf(pick() ++ fresh(rnd.nextInt(2))), Seq("id"))
        "upsert"
      case 5 =>
        // update-only half the time: a pure-update commit is typed
        // update_preimage/update_postimage on the per-commit faces
        t.upsertMor(rowsOf(pick() ++ fresh(rnd.nextInt(2) * rnd.nextInt(3))),
          Seq("id"))
        "upsertMor"
      case 6 => t.compact(numFiles = 1); "compact"
    }

    def runAll(extra: Int): Seq[String] =
      run(0) +: (rnd.shuffle((1 to 6).toList ++ List(0)) ++
        Seq.fill(extra)(rnd.nextInt(7))).map(run)
  }

  /** All change events the changes stream delivers from version 1 on,
    * in one AvailableNow run of a fresh checkpoint. Events are per
    * commit (`_commit_version`), so one run serves every range. */
  private def streamEvents(name: String,
                           opts: Map[String, String]): Seq[Row] = {
    val got = scala.collection.mutable.ArrayBuffer[Row]()
    var r = spark.readStream.option("startingVersion", "1")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    val fn: (DataFrame, Long) => Unit = (df, _) =>
      got.synchronized { got ++= df.collect() }
    val q = r.table(s"gnc.$ns.$name.changes").writeStream.foreachBatch(fn)
      .option("checkpointLocation", tmpDir(s"gnc-ckpt-$name"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    got.toSeq
  }

  /** The batch faces' disagreements with the oracle over (a, b]. */
  private def batchFaces(t: LakeTable, name: String, a: Int, b: Int,
                         want: Net): Seq[String] = {
    val ch = t.readChangelog(a, b)
    val n = ch.columns.length - 1
    val chEvents = events(ch, n)
    val feed = net(events(spark.sql(
      s"SELECT * FROM table_changes('gnc.$ns.$name', ${a + 1}, $b)"), n))
    val ins = chEvents.filter(_._2 > 0).map(_._1)
    val dels = chEvents.filter(_._2 < 0).map(_._1)
    def bagOf(rs: Seq[Seq[Any]]) = rs.groupMapReduce(identity)(_ => 1)(_ + _)
    (if (bagOf(ins) == want.filter(_._2 > 0) &&
        bagOf(dels) == want.filter(_._2 < 0).map { case (r, c) => r -> -c })
      Nil else Seq(s"readChangelog($a, $b): ${chEvents.sortBy(_.toString)}")) ++
      (if (feed == want) Nil else Seq(s"table_changes [${a + 1}, $b]: $feed"))
  }

  private def check(seed: Int, streamOpts: Map[String, String]): Unit = {
    install()
    val rnd = new Random(seed)
    val name = s"t$seed"
    val t = LakeTable.create(spark, s"$wh/$ns/$name", schema)
    val ops = new Ops(t, rnd).runAll(extra = rnd.nextInt(3))
    val head = t.currentVersion
    val lo = rnd.nextInt(head)
    val pairs = Seq((0, head), (lo, lo + 1 + rnd.nextInt(head - lo)))
    val stream = streamEvents(name, streamOpts)
    val wrong = pairs.flatMap { case (a, b) =>
      val want = expected(t, a, b)
      val streamed = net(stream.filter(r => r.getLong(4) > a &&
        r.getLong(4) <= b).map(r => (r.toSeq.take(3), sign(r.getString(3)))))
      batchFaces(t, name, a, b, want) ++
        (if (streamed == want) Nil else Seq(s"stream ($a, $b]: $streamed"))
    }
    assert(wrong.isEmpty,
      s"seed $seed, ops ${ops.mkString(",")}: ${wrong.mkString("; ")}")
  }

  test("net-change property, seed 1: every face agrees with the " +
    "snapshot diff (stream over its distributed path)") {
    check(1, Map("maxMorRowsPerBatch" -> "0"))
  }

  test("net-change property, seeds 2 and 3: every face agrees with " +
    "the snapshot diff") {
    check(2, Map.empty)
    check(3, Map.empty)
  }

  test("net-change property across a column rename: the batch faces " +
    "align by field id") {
    install()
    val rnd = new Random(4)
    val t = LakeTable.create(spark, s"$wh/$ns/tr", schema)
    val ops = new Ops(t, rnd)
    Seq(0, 3, 5).foreach(ops.run)
    val renamedAt = t.renameColumn("k", "kk")
    ops.kCol = "kk"
    Seq(0, 1, 4).foreach(ops.run)
    val head = t.currentVersion
    val wrong = Seq((0, head), (1, renamedAt))
      .flatMap { case (a, b) =>
        batchFaces(t, "tr", a, b, expected(t, a, b))
      }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }
}
