package graft

import graft.sources.{XelbFixtures, XelbFormat}
import graft.streaming.StreamTuning
import graft.xel.XeFixture
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DataSource V2 round-trip and pruning behavior for the XELB source. */
class XelbSourceSpec extends SparkTestBase {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-xelb").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("c_event_sequence"), col("c_session_id"),
      col("c_duration_us"), col("e_time_of_event_utc"), col("c_statement"),
      col("event_name"))
    XelbFixtures.writeByKey(xe, "e_imported_file_id", d)
    d
  }

  /** The read tasks Spark's file-source rule makes of a directory's .xelb
    * files in name order, taken from the rule itself, not from the scan. */
  private def ruleTasks(d: String): Int = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
    val p = new org.apache.hadoop.fs.Path(d)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".xelb")).sortBy(_.getPath.getName)
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, st.toArray)))
    FilePartition.getFilePartitions(spark, st.map(f => PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromFileStatus(f), 0, f.getLen)), maxSplit).size
  }

  /** Every read packed into one task: the rule's minimum task count 1. */
  private def oneTask[A](body: => A): A =
    withConfs("spark.sql.files.minPartitionNum" -> "1")(body)

  private val ab = StructType.fromDDL("a BIGINT, b STRING")

  /** An .xelb file of `ab` rows a = 0 until n, b = "s<a>". The rows in
    * `corrupt` get an impossible string length: framing survives, each
    * decodes with b null and costs one budgeted error (E1+E2). */
  private def writeAb(file: String, n: Int, corrupt: Set[Int] = Set.empty): Unit = {
    val buf = new java.io.ByteArrayOutputStream
    val out = new java.io.DataOutputStream(buf)
    XelbFormat.writeHeader(out, ab)
    val starts = (0 until n).map { i =>
      val at = out.size()
      XelbFormat.writeRecord(out, Row(i.toLong, s"s$i"), ab)
      at
    }
    out.close()
    val bytes = buf.toByteArray
    // frame: u32 length, null flag + 8-byte a, null flag, u32 string length
    corrupt.foreach(i => java.nio.ByteBuffer.wrap(bytes, starts(i) + 14, 4).putInt(0x7fffffff))
    Files.write(Paths.get(file), bytes)
  }

  test("round-trip: xelb read equals the source frame, tasks by the file-source rule") {
    val back = spark.read.format("xelb").load(dir)
    val orig = XeFixture.frame(spark, sf("sf0.001")).select(
      "c_event_sequence", "c_session_id", "c_duration_us",
      "e_time_of_event_utc", "c_statement", "event_name")
    assert(back.count() == orig.count())
    assert(back.exceptAll(orig).count() == 0)
    assert(orig.exceptAll(back).count() == 0)
    // reference X1's worker pool: files packed by Spark's file-source rule
    assert(back.rdd.getNumPartitions == ruleTasks(dir))
  }

  test("packing: 12 small files share the rule's read tasks, each row read once from its own file") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-xelb-pack").toString
    val rows = for (k <- 0L until 12L; i <- 0L until 50L) yield (k, k * 1000 + i, s"r$k-$i")
    XelbFixtures.writeByKey(rows.toDF("k", "v", "s"), "k", d)
    val back = spark.read.format("xelb").load(d).withColumn("f", input_file_name())
    val tasks = back.rdd.getNumPartitions
    assert(tasks == ruleTasks(d))
    assert(tasks < 12, s"the rule should combine 12 small files on local[4], got $tasks tasks")
    val got = back.collect()
    assert(got.length == rows.size)
    assert(got.map(_.getLong(0)).toSet == rows.map(_._2).toSet)
    got.foreach { r =>
      val own = f"GraftSession_${r.getLong(0) / 1000}%09d_0.xelb"
      assert(r.getString(2).endsWith("/" + own), s"row ${r.getLong(0)} named ${r.getString(2)}")
    }
  }

  test("packing: the error budget stays per file within a packed task") {
    val d = Files.createTempDirectory("graft-xelb-pack-budget").toString
    writeAb(s"$d/S_000000001_0.xelb", 3)
    writeAb(s"$d/S_000000002_0.xelb", 3, corrupt = Set(1, 2))
    oneTask {
      val strict = spark.read.format("xelb").option("errorBudget", 1).load(d)
      assert(strict.rdd.getNumPartitions == 1)
      val err = intercept[org.apache.spark.SparkException](strict.collect())
      assert(messages(err).contains("S_000000002_0.xelb: 2 corrupt records exceeds error budget 1"),
        messages(err).take(500))
      assert(!messages(err).contains("S_000000001_0.xelb"))
    }
    // two files with one bad record each: under budget one by one, so the
    // first file's error does not use up its neighbour's budget
    val e = Files.createTempDirectory("graft-xelb-pack-budget2").toString
    writeAb(s"$e/S_000000001_0.xelb", 3, corrupt = Set(1))
    writeAb(s"$e/S_000000002_0.xelb", 3, corrupt = Set(0))
    oneTask {
      val df = spark.read.format("xelb").option("errorBudget", 1).load(e)
        .withColumn("f", input_file_name())
      assert(df.rdd.getNumPartitions == 1)
      val got = df.collect().map(r => (r.getString(2).takeRight(18), r.getLong(0), Option(r.getString(1))))
      assert(got.sorted.toSeq == Seq(
        ("S_000000001_0.xelb", 0L, Some("s0")), ("S_000000001_0.xelb", 1L, None),
        ("S_000000001_0.xelb", 2L, Some("s2")), ("S_000000002_0.xelb", 0L, None),
        ("S_000000002_0.xelb", 1L, Some("s1")), ("S_000000002_0.xelb", 2L, Some("s2"))))
    }
  }

  test("packing: an evolved file and a body-only sidecar file decode beside older files") {
    val d = Files.createTempDirectory("graft-xelb-pack-evolve").toString
    def write(name: String, header: Option[StructType], schema: StructType, row: Row): Unit = {
      val out = new java.io.DataOutputStream(new java.io.FileOutputStream(s"$d/$name"))
      try {
        header.fold(XelbFormat.writeBodyOnlyHeader(out))(XelbFormat.writeHeader(out, _))
        XelbFormat.writeRecord(out, row, schema)
      } finally out.close()
    }
    val old = StructType.fromDDL("a BIGINT, s STRING")
    // the evolved file adds `extra` mid-row, so its columns map to other slots
    val evolved = StructType.fromDDL("a BIGINT, extra BIGINT, s STRING")
    write("S_000000001_0.xelb", Some(evolved), evolved, Row(1L, 99L, "x"))
    write("S_000000002_0.xelb", Some(old), old, Row(2L, "y"))
    write("S_000000003_0.xelb", None, old, Row(3L, "z"))
    write("legacy.xelbm", Some(old), old, Row(0L, "sidecar rows are never read"))
    oneTask {
      val df = spark.read.format("xelb").option("metadataPath", s"$d/legacy.xelbm").load(d)
        .withColumn("f", input_file_name())
      assert(df.rdd.getNumPartitions == 1)
      assert(df.columns.toSeq == Seq("a", "s", "extra", "f"))
      val got = df.orderBy("a").collect().map(r =>
        (r.getLong(0), r.getString(1), Option(r.get(2)), r.getString(3).takeRight(18)))
      assert(got.toSeq == Seq(
        (1L, "x", Some(99L), "S_000000001_0.xelb"),
        (2L, "y", None, "S_000000002_0.xelb"),
        (3L, "z", None, "S_000000003_0.xelb")))
    }
  }

  test("packing: no file handle stays open after a task fails partway through a packed partition") {
    assume(new java.io.File("/proc/self/fd").isDirectory, "needs /proc/self/fd")
    // over budget in the middle file's records
    val d = Files.createTempDirectory("graft-xelb-pack-leak").toString
    writeAb(s"$d/S_000000001_0.xelb", 3)
    writeAb(s"$d/S_000000002_0.xelb", 3, corrupt = Set(0, 1))
    writeAb(s"$d/S_000000003_0.xelb", 3)
    oneTask {
      val df = spark.read.format("xelb").option("errorBudget", 1).load(d)
      assert(df.rdd.getNumPartitions == 1)
      intercept[org.apache.spark.SparkException](df.collect())
    }
    assert(openUnder(d).isEmpty, openUnder(d).mkString(", "))
    // schema drift found when the second file opens
    val e = Files.createTempDirectory("graft-xelb-pack-leak2").toString
    writeAb(s"$e/S_000000001_0.xelb", 3)
    XelbFixtures.writeByKey(spark.range(3).select(lit(2L).as("k"), col("id").as("c")),
      "k", e, sessionName = "S")
    oneTask {
      val df = spark.read.schema("a BIGINT, b STRING, c STRING").format("xelb").load(e)
      assert(df.rdd.getNumPartitions == 1)
      val err = intercept[org.apache.spark.SparkException](df.collect())
      assert(messages(err).contains("schema drift in") &&
        messages(err).contains("S_000000002_0.xelb"), messages(err).take(500))
    }
    assert(openUnder(e).isEmpty, openUnder(e).mkString(", "))
  }

  test("schema inferred from the first file's embedded metadata") {
    val back = spark.read.format("xelb").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq(
      "c_event_sequence", "c_session_id", "c_duration_us",
      "e_time_of_event_utc", "c_statement", "event_name"))
  }

  test("column pruning reaches the scan (readSchema shrinks)") {
    val pruned = spark.read.format("xelb").load(dir)
      .select("c_event_sequence", "event_name")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq ==
      Seq("c_event_sequence", "event_name"))
    // and values survive the pruned decode path
    val n = pruned.filter(col("event_name") === "wait_info").count()
    assert(n > 0)
  }

  test("S2: body-only legacy files read via sidecar metadataPath") {
    import graft.sources.XelbFormat
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val d = Files.createTempDirectory("graft-xelb-xem").toString
    val schema = StructType(Seq(StructField("a", LongType), StructField("s", StringType)))
    // body-only event file (the ≤SQL2008 .xel shape: records, no schema)
    val f = new java.io.DataOutputStream(
      new java.io.FileOutputStream(s"$d/Legacy_000000001_0.xelb"))
    XelbFormat.writeBodyOnlyHeader(f)
    Seq(Row(1L, "x"), Row(2L, "y")).foreach(XelbFormat.writeRecord(f, _, schema))
    f.close()
    // sidecar metadata file (.xem analogue): an XELB header, zero records
    val m = new java.io.DataOutputStream(
      new java.io.FileOutputStream(s"$d/legacy.xelbm"))
    XelbFormat.writeHeader(m, schema)
    m.close()

    val back = spark.read.format("xelb")
      .option("metadataPath", s"$d/legacy.xelbm").load(d)
    assert(back.schema.toDDL == schema.toDDL)
    assert(back.orderBy("a").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "x"), (2L, "y")))
    // pruning still reaches the body-only decode path
    assert(back.select("s").orderBy("s").collect().map(_.getString(0)).toSeq ==
      Seq("x", "y"))

    // without the sidecar the read must fail loudly, not guess a schema
    val err = intercept[Exception](spark.read.format("xelb").load(d).collect())
    assert(err.getMessage.contains("metadataPath"))
  }

  test("corrupt column mid-record keeps earlier fields, nulls the rest (E1+E2)") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-xelb-err").toString
    val df = Seq((1L, 10L, "aaaa", 100L), (1L, 20L, "bbbb", 200L),
      (1L, 30L, "cccc", 300L)).toDF("k", "a", "b", "c")
    val Seq(file) = graft.sources.XelbFixtures.writeByKey(df, "k", d)
    // header = 4 magic + 2 version + 4 len + DDL; record 2's body starts
    // after record 1's frame. Corrupt record 2's STRING column length to a
    // huge value: framing survives, decode fails at column b.
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    val ddlLen = java.nio.ByteBuffer.wrap(bytes, 6, 4).getInt
    val rec1Start = 10 + ddlLen
    val rec1Len = java.nio.ByteBuffer.wrap(bytes, rec1Start, 4).getInt
    val rec2Body = rec1Start + 4 + rec1Len + 4
    // record 2 layout: nullflag(a)=0, 8-byte a, nullflag(b)=0, string len
    java.nio.ByteBuffer.wrap(bytes, rec2Body + 10, 4).putInt(0x7fffffff)
    java.nio.file.Files.write(java.nio.file.Paths.get(file), bytes)

    // E2 (`EventHolder.cs:99-271`): the corrupt record SURVIVES with the
    // fields decoded before the failure — a kept, b and c null
    val rows = spark.read.format("xelb").load(d).orderBy("a").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 10L && rows(0).getString(1) == "aaaa" &&
      rows(0).getLong(2) == 100L)
    assert(rows(1).getLong(0) == 20L && rows(1).isNullAt(1) && rows(1).isNullAt(2))
    assert(rows(2).getLong(0) == 30L && rows(2).getString(1) == "cccc" &&
      rows(2).getLong(2) == 300L)

    // E1 budget semantics unchanged: the partial row still costs one error
    val strict = spark.read.format("xelb").option("errorBudget", 0).load(d)
    val err = intercept[org.apache.spark.SparkException](strict.collect())
    assert(err.getMessage.contains("error budget") ||
      Option(err.getCause).exists(_.getMessage.contains("error budget")))
  }

  test("a value cut short at the end of its frame costs an error whether or not it is selected") {
    val d = Files.createTempDirectory("graft-xelb-short").toString
    writeAb(s"$d/S_000000001_0.xelb", 3)
    // record 1's string length one past its frame's end (frame layout as
    // in writeAb): the frame stays intact, the last value runs out
    val p = Paths.get(s"$d/S_000000001_0.xelb")
    val bytes = Files.readAllBytes(p)
    val b = java.nio.ByteBuffer.wrap(bytes)
    val rec1 = 10 + b.getInt(6) + 4 + b.getInt(10 + b.getInt(6))
    b.putInt(rec1 + 14, b.getInt(rec1 + 14) + 1)
    Files.write(p, bytes)
    val strict = spark.read.format("xelb").option("errorBudget", 0).load(d)
    for (df <- Seq(strict, strict.select("a"))) {
      val err = intercept[org.apache.spark.SparkException](df.collect())
      assert(messages(err).contains(
        "S_000000001_0.xelb: 1 corrupt records exceeds error budget 0 (corrupt record body)"),
        messages(err).take(500))
    }
  }

  test("micro-batch streaming: rollover files consumed incrementally") {
    import org.apache.spark.sql.streaming.Trigger
    val d = Files.createTempDirectory("graft-xelb-stream").toString
    val ckpt = Files.createTempDirectory("graft-xelb-ckpt").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("c_event_sequence"), col("event_name"))
    // first rollover drop: files 1 and 2
    XelbFixtures.writeByKey(xe.filter(col("e_imported_file_id") <= 2), "e_imported_file_id", d)
    val schema = spark.read.format("xelb").load(d).schema

    val outDir = Files.createTempDirectory("graft-xelb-out").toString
    def runAvailable(): Long = {
      // the checkpoint and the admission log rename through FileContext
      withoutLocalFsForks("the stream") {
        val q = spark.readStream.format("xelb").schema(schema).load(d)
          .writeStream.format("parquet").option("path", outDir)
          .outputMode("append").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        StreamTuning.awaitEnd(q)
      }
      spark.read.parquet(outDir).count()
    }
    val n1 = runAvailable()
    assert(n1 == xe.filter(col("e_imported_file_id") <= 2).count())
    // session rolls over two more files; restart from checkpoint reads
    // ONLY the new files (offset = consumed sorted-file count)
    XelbFixtures.writeByKey(xe.filter(col("e_imported_file_id") > 2), "e_imported_file_id", d)
    val n2 = runAvailable()
    assert(n2 == xe.count(), s"expected all ${xe.count()} rows, got $n2")
  }

  test("D6 schema evolution: merged schema, nulls for columns a file predates") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-xelb-evolve").toString
    // rollover 1: two columns; rollover 2 adds `extra`
    XelbFixtures.writeByKey(Seq((1L, "a", 10L)).toDF("k", "s", "v"), "k", d)
    XelbFixtures.writeByKey(
      Seq((2L, "b", 20L, 99L)).toDF("k", "s", "v", "extra"), "k", d)
    val back = spark.read.format("xelb").load(d).orderBy("v")
    assert(back.schema.fieldNames.toSeq == Seq("s", "v", "extra"))
    val rows = back.collect()
    assert(rows(0).getString(0) == "a" && rows(0).isNullAt(2)) // pre-evolution file
    assert(rows(1).getString(0) == "b" && rows(1).getLong(2) == 99L)
    // pruning to a column only the NEW file carries still works
    assert(spark.read.format("xelb").load(d).select("extra")
      .collect().map(r => Option(r.get(0))).toSet == Set(None, Some(99L)))
  }

  test("glob paths list files (S3 directory enumeration)") {
    val viaGlob = spark.read.format("xelb").load(s"$dir/GraftSession_*.xelb")
    val viaDir = spark.read.format("xelb").load(dir)
    assert(viaGlob.count() == viaDir.count())
  }

  test("streaming admission log survives non-lexical arrival order") {
    import graft.sources.{EventFileReaderFactory, EventFilesPartition, XelbDecoder,
      XelbMicroBatchStream, XelbOffset}
    val d = Files.createTempDirectory("graft-xelb-order").toString
    def touch(name: String): Unit = {
      import spark.implicits._
      graft.sources.XelbFixtures.writeByKey(
        Seq((name, 1L)).toDF("k", "v"), "k", d, sessionName = "S")
    }
    touch("b"); touch("c")
    val stream = new XelbMicroBatchStream(d, EventFileReaderFactory(
      spark.read.format("xelb").load(d).schema, 100, XelbDecoder(None)))
    val o1 = stream.latestOffset()
    val batch1 = stream.planInputPartitions(XelbOffset(0), o1)
      .flatMap(_.asInstanceOf[EventFilesPartition].files)
    // "a" arrives AFTER b/c were admitted but sorts before them
    touch("a")
    val o2 = stream.latestOffset()
    val batch2 = stream.planInputPartitions(o1, o2)
      .flatMap(_.asInstanceOf[EventFilesPartition].files)
    assert(batch1.map(f => f.substring(f.lastIndexOf('/'))).toSet ==
      Set("/S_b_0.xelb", "/S_c_0.xelb"))
    assert(batch2.map(f => f.substring(f.lastIndexOf('/'))).toSet ==
      Set("/S_a_0.xelb"), "late-but-lexically-early file must land in the NEW batch only")
  }

  test("native vector expressions reject non-float arrays at analysis time") {
    import spark.implicits._
    val doubles = Seq((1L, Array(1.0, 2.0))).toDF("id", "v")
    val err = intercept[Exception](
      doubles.select(graft.corpus.VectorExpr.normF(col("v"))).collect())
    assert(err.getMessage.toLowerCase.contains("array"),
      s"expected type-check failure, got: ${err.getMessage.take(200)}")
  }

  test("DSv2 write path: df.write.format(xelb) round-trips, empty partitions skipped") {
    val d = Files.createTempDirectory("graft-xelb-write").toString + "/out"
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("c_event_sequence"), col("c_session_id"), col("c_duration_us"),
      col("e_time_of_event_utc"), col("c_statement"), col("event_name"))
    withoutLocalFsForks("the write")(xe.repartition(8).write.format("xelb").mode("append").save(d))
    val back = spark.read.format("xelb").load(d)
    assert(back.count() == xe.count())
    assert(back.exceptAll(xe).count() == 0 && xe.exceptAll(back).count() == 0)
    // more partitions than rows → empty partitions must not leave files
    val tiny = xe.limit(3).repartition(16)
    val d2 = Files.createTempDirectory("graft-xelb-write2").toString + "/out"
    tiny.write.format("xelb").mode("append").save(d2)
    val files = new java.io.File(d2).listFiles().filter(_.getName.endsWith(".xelb"))
    assert(files.length <= 3 && files.nonEmpty)
    assert(spark.read.format("xelb").load(d2).count() == 3)
  }

  test("event catalog views: per-type SQL over the demuxed layout") {
    val d = Files.createTempDirectory("graft-demux").toString + "/t"
    val xe = XeFixture.frame(spark, sf("sf0.001"))
    graft.xel.Pipeline.writeDemuxed(xe, d, graft.xel.XelConfig.default)
    val views = graft.xel.EventCatalog.registerEventViews(spark, d)
    assert(views.contains("xel_wait_info") && views.size == 5)
    val viaSql = spark.sql(
      """SELECT count(*) AS n, sum(c_duration_us) AS s
        |FROM xel_wait_info WHERE c_duration_us > 0""".stripMargin).head()
    val direct = xe.filter(col("event_name") === "wait_info" && col("c_duration_us") > 0)
      .agg(count(lit(1)), sum(col("c_duration_us"))).head()
    assert(viaSql.getLong(0) == direct.getLong(0) && viaSql.getLong(1) == direct.getLong(1))
    // cross-view join through plain SQL — the "full Spark SQL surface"
    val joined = spark.sql(
      """SELECT count(*) FROM xel_wait_info w
        |JOIN xel_all_events a ON w.c_session_id = a.c_session_id
        |WHERE a.event_name = 'module_start'""".stripMargin).head().getLong(0)
    assert(joined > 0)
  }

  test("nulls round-trip") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-xelb-null").toString
    val df = Seq((1L, Some("a"), 1L), (1L, None, 2L), (2L, Some("c"), 3L))
      .toDF("k", "s", "v")
    XelbFixtures.writeByKey(df, "k", d)
    val back = spark.read.format("xelb").load(d).orderBy("v")
    assert(back.collect().map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("a"), None, Some("c")))
  }

  test("fixture writers refuse oversized frames instead of collecting them") {
    // writeByKey collects to the driver by design; the guard must fire
    // BEFORE the collect when a caller's slice bound goes missing
    val big = spark.range(XelbFixtures.MaxFixtureRows + 1)
      .select(col("id").as("e_imported_file_id"), col("id").as("c_v"))
    val d1 = Files.createTempDirectory("graft-xelb-guard").toString
    val e1 = intercept[IllegalArgumentException](
      XelbFixtures.writeByKey(big, "e_imported_file_id", d1))
    assert(e1.getMessage.contains("refuses"))
    val e2 = intercept[IllegalArgumentException](
      graft.sources.XeXmlFixtures.writeByKey(
        big.withColumn("event_name", lit("ev")), "e_imported_file_id", d1))
    assert(e2.getMessage.contains("refuses"))
    // nothing was written: the guard fired before any file IO
    assert(new java.io.File(d1).listFiles().isEmpty)
  }
}
