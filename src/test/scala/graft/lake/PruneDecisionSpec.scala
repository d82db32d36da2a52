package graft.sources {

  import graft.lake.LakeTable

  /** Test access to the changelog stream's equality-key file prune. */
  object EqTouchProbe {
    def apply(keyCols: Seq[String], tuples: Seq[Vector[Any]])
        : LakeTable.FileEntry => Boolean =
      MorPlanning.eqTouchTest(MorState(Map.empty, Seq(MorEqGroup(
        keyCols.toVector,
        tuples.map(t => t.map(MorPlanning.normKey) -> 1L).toMap))))
  }
}

package graft.lake {

  import java.sql.{Date, Timestamp}
  import java.time.LocalDateTime

  import org.apache.spark.sql.{Column, DataFrame, Row}
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  import graft.SparkSuite
  import graft.sources.EqTouchProbe

  /** Pins every decision a file's manifest stats make, shape by shape:
    * the file set `pruneFiles` (may match), `fullyMatchingFiles` (every
    * row matches), the batch changelog's equality-key prune and the
    * changelog stream's equality-key prune return. Metadata only: the
    * tables are a few tiny appends, one file each, labelled in order. */
  class PruneDecisionSpec extends SparkSuite {

    private val Smile = "\uD83D\uDE00" // U+1F600: F0 9F 98 80 in UTF-8
    private val Priv = "\uE000" // U+E000: EE 80 80, sorts below it

    private val mainSchema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("x", DoubleType), StructField("n", IntegerType),
      StructField("d", DateType), StructField("m", DecimalType(10, 2)),
      StructField("ts", TimestampType)))

    /** Appends one single-file batch per row group; file i is "f<i+1>". */
    private def labelled(t: LakeTable, schema: StructType,
                         batches: Seq[Seq[Row]]): Map[String, String] =
      batches.zipWithIndex.map { case (rows, i) =>
        val before = t.dataFiles.map(_.path).toSet
        t.append(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema))
        val added = t.dataFiles.map(_.path).filterNot(before)
        assert(added.size == 1, s"batch $i wrote ${added.size} files")
        added.head -> s"f${i + 1}"
      }.toMap

    private lazy val (main, mainLabels) = {
      def day(s: String) = Date.valueOf(s)
      def dec(s: String) = new java.math.BigDecimal(s)
      def at(s: String) = Timestamp.valueOf(s"$s 12:00:00")
      val t = LakeTable.create(spark, tmpDir("prune-pin"), mainSchema)
      val labels = labelled(t, mainSchema, Seq(
        // f1: ids 0..4, s single-valued, n null-free
        (0 until 5).map(i => Row(i.toLong, "k1", 1.0 + i / 4.0, 1,
          day("2024-01-01"), dec("1.00"), at("2024-01-01"))),
        // f2: s and n all null
        (10 until 15).map(i => Row(i.toLong, null, 3.0 + (i - 10) / 4.0,
          null, day("2024-02-01"), dec("2.00"), at("2024-02-01"))),
        // f3: s and n mixed with nulls
        (20 until 25).map(i => Row(i.toLong,
          if (i % 2 == 0) "k3" else null, 5.0 + (i - 20) / 4.0,
          if (i % 2 == 0) 2 else null, day("2024-03-01"), dec("3.00"),
          at("2024-03-01"))),
        // f4: id single-valued, x all -0.0
        (0 until 5).map(_ => Row(30L, "k4", -0.0d, 4,
          day("2024-04-01"), dec("4.00"), at("2024-04-01"))),
        // f5: s spans [a, U+E000], x all +0.0
        (40 until 45).map(i => Row(i.toLong, if (i == 40) "a" else Priv,
          0.0d, 5, day("2024-05-01"), dec("5.00"), at("2024-05-01"))),
        // f6: s single-valued U+1F600, x holds a NaN (no x stats)
        (50 until 55).map(i => Row(i.toLong, Smile,
          if (i == 50) Double.NaN else 9.0, 6, day("2024-06-01"),
          dec("6.00"), at("2024-06-01")))))
      (t, labels)
    }

    private def names(labels: Map[String, String],
                      fs: Seq[LakeTable.FileEntry]): Set[String] =
      fs.map(f => labels(f.path)).toSet

    private def may(c: Column): Set[String] =
      names(mainLabels, main.pruneFiles(c))
    private def must(c: Column): Set[String] =
      names(mainLabels, main.fullyMatchingFiles(main.dataFiles, c))

    private def set(fs: String*): Set[String] = fs.toSet
    private val all = set("f1", "f2", "f3", "f4", "f5", "f6")

    /** (shape, predicate, may-match files, must-match files). */
    private def shapes: Seq[(String, Column, Set[String], Set[String])] = Seq(
      ("id < 10", col("id") < 10L, set("f1"), set("f1")),
      ("id <= 10", col("id") <= 10L, set("f1", "f2"), set("f1")),
      ("id > 40", col("id") > 40L, set("f5", "f6"), set("f6")),
      ("id >= 40", col("id") >= 40L, set("f5", "f6"), set("f5", "f6")),
      ("id = 30", col("id") === 30L, set("f4"), set("f4")),
      ("id == 30 (int literal)", col("id") === 30, set("f4"), set("f4")),
      ("10 < id (literal first)", lit(10L) < col("id"),
        set("f2", "f3", "f4", "f5", "f6"), set("f3", "f4", "f5", "f6")),
      ("30 = id (literal first)", lit(30L) === col("id"),
        set("f4"), set("f4")),
      ("id <=> 30", col("id") <=> 30L, set("f4"), set("f4")),
      ("s <=> 'k4'", col("s") <=> "k4", set("f4", "f5"), set("f4")),
      ("id <=> null", col("id") <=> lit(null), all, set()),
      ("id = null", col("id") === lit(null), all, set()),
      ("id IN (2, 31)", col("id").isin(2L, 31L), set("f1"), set()),
      ("id IN (30)", col("id").isin(30L), set("f4"), set("f4")),
      ("s IN ('k1', 'k4')", col("s").isin("k1", "k4"),
        set("f1", "f4", "f5"), set("f1", "f4")),
      ("s IN ('k1', null)", col("s").isin("k1", null), all, set()),
      ("s IS NULL", col("s").isNull, set("f2", "f3"), set("f2")),
      ("s IS NOT NULL", col("s").isNotNull,
        set("f1", "f3", "f4", "f5", "f6"), set("f1", "f4", "f5", "f6")),
      ("n IS NULL", col("n").isNull, set("f2", "f3"), set("f2")),
      ("id >= 20 AND s = 'k4'", col("id") >= 20L && col("s") === "k4",
        set("f4", "f5"), set("f4")),
      ("id < 5 OR id = 30", col("id") < 5L || col("id") === 30L,
        all, set("f1", "f4")),
      ("s IS NULL OR id > 40", col("s").isNull || col("id") > 40L,
        all, set("f2", "f6")),
      ("s = U+E000", col("s") === Priv, set("f5"), set()),
      ("s > U+E000", col("s") > Priv, set("f6"), set("f6")),
      ("s >= U+1F600", col("s") >= Smile, set("f6"), set("f6")),
      ("s < U+1F600", col("s") < Smile, set("f1", "f3", "f4", "f5"),
        set("f1", "f4", "f5")),
      // parquet records a zero range as [-0.0, +0.0] whatever the sign
      // of the zeros written, so no zero proves an equality
      ("x = 0.0", col("x") === 0.0d, set("f4", "f5", "f6"), set()),
      ("x = -0.0", col("x") === -0.0d, set("f4", "f5", "f6"), set()),
      ("x <= -0.0", col("x") <= -0.0d, set("f4", "f5", "f6"), set()),
      ("x >= 0.0", col("x") >= 0.0d, all, set("f1", "f2", "f3")),
      ("x = NaN", col("x") === Double.NaN, all, set()),
      ("x < NaN", col("x") < Double.NaN, all, set()),
      ("n = 2 (int column)", col("n") === 2, set("f3"), set()),
      ("n > 4", col("n") > 4, set("f5", "f6"), set("f5", "f6")),
      ("d = 2024-02-01", col("d") === lit(Date.valueOf("2024-02-01")),
        set("f2"), set("f2")),
      ("m = 1.00 (decimal: no stats)",
        col("m") === lit(new java.math.BigDecimal("1.00")), all, set()),
      ("abs(id) < 10 (function)", abs(col("id")) < 10L, all, set()))

    test("pruneFiles (may match): every shape returns its pinned files") {
      val wrong = shapes.collect { case (name, c, want, _)
        if may(c) != want => s"$name -> ${may(c).toSeq.sorted}" }
      assert(wrong.isEmpty, wrong.mkString("; "))
    }

    test("fullyMatchingFiles (every row matches): every shape returns " +
      "its pinned files") {
      val wrong = shapes.collect { case (name, c, _, want)
        if must(c) != want => s"$name -> ${must(c).toSeq.sorted}" }
      assert(wrong.isEmpty, wrong.mkString("; "))
    }

    /** The files the batch changelog of one `deleteWhereEqual(keys)`
      * commit reads, and the files the changelog stream's key test
      * keeps for the same keys, over `main`. */
    private def keyPrunes(keys: DataFrame, keyCols: Seq[String])
        : (Set[String], Set[String]) = {
      val conv = CatalystTypeConverters
        .createToCatalystConverter(keys.schema)
      val tuples = keys.collect().toSeq.map { r =>
        val ir = conv(r).asInstanceOf[InternalRow]
        keys.schema.fields.indices
          .map(i => ir.get(i, keys.schema(i).dataType)).toVector
      }
      val touch = EqTouchProbe(keyCols, tuples)
      val stream = names(mainLabels, main.dataFiles.filter(touch))
      main.deleteWhereEqual(keys, keyCols)
      val v = main.currentVersion
      val read = main.readChangelog(v - 1, v).inputFiles
        .map(p => p.split("/").last).toSet
      val batch = main.dataFiles
        .filter(f => read.contains(f.path.split("/").last))
        .map(f => mainLabels(f.path)).toSet
      (batch, stream)
    }

    private def keysOf(schema: StructType, rows: Row*): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    private def one(name: String, t: DataType): StructType =
      StructType(Seq(StructField(name, t)))

    /** (shape, keys, key columns, batch changelog files, stream files). */
    private def keyShapes
        : Seq[(String, () => DataFrame, Seq[String], Set[String],
          Set[String])] = Seq(
      ("id keys in one file", () => keysOf(one("id", LongType),
        Row(12L), Row(13L)), Seq("id"), set("f2"), set("f2")),
      ("id key outside every file", () => keysOf(one("id", LongType),
        Row(999L)), Seq("id"), set(), set()),
      ("supplementary-character string key", () =>
        keysOf(one("s", StringType), Row(Priv)), Seq("s"),
        set("f2", "f5"), set("f2", "f5")),
      ("null string key", () => keysOf(one("s", StringType), Row(null)),
        Seq("s"), set("f2", "f3"), set("f2", "f3")),
      ("composite key with a null component", () => keysOf(
        StructType(Seq(StructField("id", LongType),
          StructField("s", StringType))), Row(21L, null)),
        Seq("id", "s"), set("f3"), set("f3")),
      ("+0.0 key spans the zero class", () =>
        keysOf(one("x", DoubleType), Row(0.0d)), Seq("x"),
        set("f4", "f5", "f6"), set("f4", "f5", "f6")),
      ("-0.0 key spans the zero class", () =>
        keysOf(one("x", DoubleType), Row(-0.0d)), Seq("x"),
        set("f4", "f5", "f6"), set("f4", "f5", "f6")),
      // a NaN never bounds a file (the conservative answer)
      ("NaN key", () => keysOf(one("x", DoubleType), Row(Double.NaN)),
        Seq("x"), all, all),
      ("date key", () => keysOf(one("d", DateType),
        Row(Date.valueOf("2024-02-01"))), Seq("d"), set("f2"), set("f2")),
      // the table writes timestamps as INT96, whose footers carry no
      // min/max: no face can bound a file by them
      ("timestamp key", () => keysOf(one("ts", TimestampType),
        Row(Timestamp.valueOf("2024-02-01 12:00:00"))), Seq("ts"),
        all, all),
      ("decimal key", () => keysOf(one("m", DecimalType(10, 2)),
        Row(new java.math.BigDecimal("2.00"))), Seq("m"), all, all),
      ("key roster above 1,024 tuples", () => keysOf(one("id", LongType),
        (Seq(12L) ++ (1000L until 2100L)).map(Row(_)): _*), Seq("id"),
        set("f2", "f3", "f4", "f5", "f6"), set("f2", "f3", "f4", "f5", "f6")))

    test("equality-key prunes (batch changelog and changelog stream): " +
      "every key shape keeps its pinned files") {
      // runs after the may/must tests: each shape commits one
      // equality delete to `main`
      val wrong = keyShapes.flatMap {
        case (name, keys, cols, wantBatch, wantStream) =>
          val (batch, stream) = keyPrunes(keys(), cols)
          (if (batch == wantBatch) Nil
           else Seq(s"batch changelog: $name -> ${batch.toSeq.sorted}")) ++
            (if (stream == wantStream) Nil
             else Seq(s"stream: $name -> ${stream.toSeq.sorted}"))
      }
      assert(wrong.isEmpty, wrong.mkString("; "))
    }

    test("hidden-partition transforms prune across spec epochs " +
      "(days, hours, months over a timestamp_ntz without raw stats; " +
      "truncate over an integer and a string)") {
      val schema = StructType(Seq(StructField("ts", TimestampNTZType),
        StructField("k", LongType), StructField("s", StringType)))
      def at(s: String) = LocalDateTime.parse(s)
      def rows(ts: String, k: Long, s: String) =
        (0 until 3).map(i => Row(at(ts).plusMinutes(i), k + i, s))
      val t = LakeTable.create(spark, tmpDir("prune-pin-tf"), schema,
        partitionBy = Seq("days(ts)"))
      val l1 = labelled(t, schema, Seq(rows("2024-01-01T10:00", 0L, "aa"),
        rows("2024-01-05T10:00", 10L, "ab")))
      t.alterPartitionSpec(Seq("hours(ts)"))
      val l2 = labelled(t, schema, Seq(rows("2024-01-03T05:00", 20L, "ba"),
        rows("2024-01-07T20:00", 30L, "bb")))
        .map { case (p, l) => p -> s"f${l.drop(1).toInt + 2}" }
      t.alterPartitionSpec(Seq("months(ts)"))
      val l3 = labelled(t, schema, Seq(rows("2024-03-15T00:00", 40L, "ca")))
        .map { case (p, l) => p -> "f5" }
      t.alterPartitionSpec(Seq("truncate(10,k)"))
      val l4 = labelled(t, schema, Seq(rows("2024-04-01T00:00", 55L, "da")))
        .map { case (p, l) => p -> "f6" }
      t.alterPartitionSpec(Seq("truncate(1,s)"))
      val l5 = labelled(t, schema, Seq(rows("2024-05-01T00:00", 65L, "ea")))
        .map { case (p, l) => p -> "f7" }
      val labels = l1 ++ l2 ++ l3 ++ l4 ++ l5
      def ts(s: String) = lit(at(s))
      val cases: Seq[(String, Column, Set[String])] = Seq(
        ("ts = day 5 noon", col("ts") === ts("2024-01-05T12:00"),
          set("f2", "f6", "f7")),
        ("ts < day 4", col("ts") < ts("2024-01-04T00:00"),
          set("f1", "f3", "f6", "f7")),
        ("ts >= day 6", col("ts") >= ts("2024-01-06T00:00"),
          set("f4", "f5", "f6", "f7")),
        ("day 6 <= ts (literal first)", ts("2024-01-06T00:00") <= col("ts"),
          set("f4", "f5", "f6", "f7")),
        ("ts IN (day 1, March)", col("ts").isin(at("2024-01-01T10:30"),
          at("2024-03-15T00:00")), set("f1", "f5", "f6", "f7")),
        ("ts IN (day 1, null)", col("ts").isin(at("2024-01-01T10:30"),
          null), set("f1", "f2", "f3", "f4", "f5", "f6", "f7")),
        ("k = 57", col("k") === 57L, set("f6")),
        ("k IN (1, 66)", col("k").isin(1L, 66L), set("f1", "f7")),
        ("s = 'ea'", col("s") === "ea", set("f7")),
        ("s > 'd'", col("s") > "d", set("f6", "f7")))
      val wrong = cases.collect { case (name, c, want)
        if names(labels, t.pruneFiles(c)) != want =>
          s"$name -> ${names(labels, t.pruneFiles(c)).toSeq.sorted}" }
      assert(wrong.isEmpty, wrong.mkString("; "))
    }
  }
}
