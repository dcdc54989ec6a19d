package graft

import graft.sources.{RolloverSet, XelNativeEncoder, XelNativeFormat}
import graft.xel.EventSchema.{EventMeta, FieldMeta, SessionMeta}
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** XELN session-container source: heterogeneous event records, union
  * schema, per-event dispatch, P4 action drop, E1/E2/E3 tolerance. */
class XelNativeSourceSpec extends SparkTestBase {

  // two event types with DIFFERENT fields + shared actions, one dropped
  private val meta = SessionMeta(
    events = Seq(
      EventMeta("sql_statement_completed", Seq(
        FieldMeta("duration", "System.UInt64"),
        FieldMeta("statement", "System.String"))),
      EventMeta("wait_info", Seq(
        FieldMeta("wait_type", "System.String"),
        FieldMeta("signal_duration", "System.Int64")))),
    actions = Seq(
      FieldMeta("session_id", "System.Int64"),
      FieldMeta("query_hash", "System.UInt64"),
      FieldMeta("debug_break", "System.String"))) // P4: dropped

  private val unionSchema = StructType(Seq(
    StructField("event_name", StringType, nullable = false),
    StructField("c_event_sequence", LongType),
    StructField("e_time_of_event_utc", TimestampType),
    StructField("c_duration", DecimalType(38, 0)),
    StructField("c_statement", StringType),
    StructField("c_wait_type", StringType),
    StructField("c_signal_duration", LongType),
    StructField("a_session_id", LongType),
    StructField("a_query_hash", DecimalType(38, 0))))

  private def dec(s: String) = new java.math.BigDecimal(s)
  private def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-xeln").toString
    val rows = Seq(
      Row("sql_statement_completed", 1L, ts(1), dec("18446744073709551615"),
        "SELECT 1", null, null, 51L, dec("12345")),
      Row("wait_info", 2L, ts(2), null, null, "PAGELATCH", 777L, 51L, null),
      Row("sql_statement_completed", 3L, ts(3), dec("42"), "SELECT 2",
        null, null, 52L, dec("99")),
      Row("wait_info", 4L, ts(4), null, null, "CXPACKET", 5L, 52L, dec("7")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(1L +: r.toSeq: _*)), 1),
      StructType(StructField("k", LongType) +: unionSchema.fields))
    RolloverSet.writeByKey(XelNativeEncoder(meta), df, "k", d)
    d
  }

  test("union schema: P4 drop applied, first-file metadata wins (X2)") {
    val back = spark.read.format("xelnative").load(dir)
    assert(back.schema.fieldNames.toSeq == unionSchema.fieldNames.toSeq)
    assert(!back.schema.fieldNames.contains("a_debug_break"))
    assert(back.schema("c_duration").dataType == DecimalType(38, 0))
  }

  test("heterogeneous records round-trip: each type keeps its fields, others null") {
    val back = spark.read.format("xelnative").load(dir).orderBy("c_event_sequence").collect()
    assert(back.length == 4)
    val r1 = back(0) // sql_statement_completed
    assert(r1.getString(0) == "sql_statement_completed")
    assert(r1.getDecimal(3).toBigInteger.toString == "18446744073709551615") // UInt64 range
    assert(r1.getString(4) == "SELECT 1")
    assert(r1.isNullAt(5) && r1.isNullAt(6)) // wait_info fields null here
    assert(r1.getLong(7) == 51L)
    val r2 = back(1) // wait_info
    assert(r2.getString(0) == "wait_info")
    assert(r2.isNullAt(3) && r2.isNullAt(4))
    assert(r2.getString(5) == "PAGELATCH" && r2.getLong(6) == 777L)
    assert(r2.isNullAt(8)) // null action value
    assert(back(3).getDecimal(8).toBigInteger.intValue == 7)
  }

  test("column pruning reaches the record decoder") {
    val pruned = spark.read.format("xelnative").load(dir)
      .select("event_name", "a_session_id")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.head.scan.readSchema().fieldNames.toSeq ==
      Seq("event_name", "a_session_id"))
    assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("sql_statement_completed", 51L), ("sql_statement_completed", 52L),
        ("wait_info", 51L), ("wait_info", 52L)))
  }

  test("corrupt value mid-chunk: partial row kept (E2), chunk fenced (E3), budgeted (E1)") {
    val d = Files.createTempDirectory("graft-xeln-err").toString
    val rows = Seq(
      Row("wait_info", 1L, ts(1), null, null, "AAAA", 1L, 9L, null),
      Row("wait_info", 2L, ts(2), null, null, "BBBB", 2L, 9L, null),
      Row("wait_info", 3L, ts(3), null, null, "CCCC", 3L, 9L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(1L +: r.toSeq: _*)), 1),
      StructType(StructField("k", LongType) +: unionSchema.fields))
    val Seq(file) = RolloverSet.writeByKey(XelNativeEncoder(meta), df, "k", d)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    // find record 2's wait_type string length (the 4 bytes before "BBBB")
    val pos = {
      val needle = "BBBB".getBytes("US-ASCII")
      (0 until bytes.length - 4).find(i =>
        needle.indices.forall(j => bytes(i + j) == needle(j))).get - 4
    }
    java.nio.ByteBuffer.wrap(bytes, pos, 4).putInt(0x7fffffff)
    java.nio.file.Files.write(java.nio.file.Paths.get(file), bytes)

    val back = spark.read.format("xelnative").load(d).orderBy("c_event_sequence").collect()
    // all 3 records sit in ONE chunk: record 1 decodes clean, record 2
    // survives partially (header kept, fields null from the corrupt one),
    // record 3 is lost with the fenced chunk remainder
    assert(back.length == 2)
    assert(back(0).getString(5) == "AAAA")
    assert(back(1).getLong(1) == 2L && back(1).isNullAt(5) && back(1).isNullAt(6))

    val strict = spark.read.format("xelnative").option("errorBudget", 0).load(d)
    val err = intercept[org.apache.spark.SparkException](strict.collect())
    assert(err.getMessage.contains("error budget") ||
      Option(err.getCause).exists(_.getMessage.contains("error budget")))
  }

  test("a value cut short at the end of its chunk costs an error whether or not it is selected") {
    val sMeta = SessionMeta(
      events = Seq(EventMeta("sql_statement_completed", Seq(
        FieldMeta("duration", "System.Int64"), FieldMeta("statement", "System.String")))),
      actions = Nil)
    val schema = StructType(Seq(
      StructField("event_name", StringType, nullable = false),
      StructField("c_event_sequence", LongType),
      StructField("e_time_of_event_utc", TimestampType),
      StructField("c_duration", LongType),
      StructField("c_statement", StringType)))
    val d = Files.createTempDirectory("graft-xeln-short").toString
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, "sql_statement_completed", 1L, ts(1), 10L, "SELECT 1")), 1),
      StructType(StructField("k", LongType) +: schema.fields))
    val Seq(file) = RolloverSet.writeByKey(XelNativeEncoder(sMeta), df, "k", d)
    // the chunk's last value is the statement: its length one past the
    // chunk's end leaves the chunk intact and the value short
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    val at = bytes.length - "SELECT 1".length - 4
    java.nio.ByteBuffer.wrap(bytes).putInt(at, "SELECT 1".length + 1)
    java.nio.file.Files.write(java.nio.file.Paths.get(file), bytes)
    val f = new java.io.File(file)

    val strict = spark.read.format("xelnative").option("errorBudget", 0).load(d)
    for (df <- Seq(strict, strict.select("c_duration"))) {
      val err = intercept[org.apache.spark.SparkException](df.collect())
      assert(messages(err).contains(
        s"${f.getName}: 1 corrupt records exceeds error budget 0 (corrupt record body)"),
        messages(err).take(500))
    }
  }

  test("F7 MapValue: wire carries the 2-byte key, reader resolves the display (incl. stale-key fallback)") {
    // a map-typed field with its key→display table in the session
    // metadata (EventHolder.cs:137-141: the SDK hands loaders
    // MapValue.ToString(), i.e. the resolved display text)
    val waitMap = Seq(0 -> "PAGEIOLATCH_SH", 1 -> "SOS_SCHEDULER_YIELD", 7 -> "LCK_M_X")
    val mMeta = SessionMeta(
      events = Seq(EventMeta("wait_info", Seq(
        FieldMeta("wait_class", graft.xel.EventSchema.MapValueClr, waitMap),
        FieldMeta("duration", "System.Int64")))),
      actions = Nil)
    val schema = StructType(Seq(
      StructField("event_name", StringType, nullable = false),
      StructField("c_event_sequence", LongType),
      StructField("e_time_of_event_utc", TimestampType),
      StructField("c_wait_class", StringType),
      StructField("c_duration", LongType)))
    val rows = Seq(
      Row("wait_info", 1L, ts(1), "LCK_M_X", 10L),
      Row("wait_info", 2L, ts(2), "PAGEIOLATCH_SH", 20L),
      Row("wait_info", 3L, ts(3), null, 30L))
    val d = Files.createTempDirectory("graft-xeln-map").toString
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(1L +: r.toSeq: _*)), 1),
      StructType(StructField("k", LongType) +: schema.fields))
    val Seq(file) = RolloverSet.writeByKey(XelNativeEncoder(mMeta), df, "k", d)

    val back = spark.read.format("xelnative").load(d)
      .orderBy("c_event_sequence")
      .select("c_wait_class", "c_duration").collect()
    assert(back.map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("LCK_M_X"), Some("PAGEIOLATCH_SH"), None))

    // the wire really holds keys, not strings: displays appear exactly
    // once in the file (in the metadata table), never per record
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    val text = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(text.indexOf("LCK_M_X") == text.lastIndexOf("LCK_M_X"))

    // stale metadata: a key outside the table surfaces as its decimal
    // text (lossless), not an error or a silent null — patch record 1's
    // key (value 7) to 9; the key bytes are the 2 bytes after the
    // null-flag of the first field of the first record
    val keyOff = text.indexOf("LCK_M_X") // inside metadata; record keys follow
    val idx = {
      // locate the first record: u16 eventId(0) + i64 seq(1) starts right
      // after the 4-byte chunk length; find chunk by scanning for seq 1
      // pattern — simpler: find the two-byte key 0x0007 after the header
      val headerEnd = keyOff + "LCK_M_X".length + 2 /*str len of duration name*/
      bytes.indexOfSlice(Seq[Byte](0, 7), headerEnd)
    }
    assert(idx > 0, "expected the 2-byte key 0x0007 in the first record")
    bytes(idx + 1) = 9
    java.nio.file.Files.write(java.nio.file.Paths.get(file), bytes)
    val patched = spark.read.format("xelnative").load(d)
      .orderBy("c_event_sequence").select("c_wait_class").collect()
    assert(patched(0).getString(0) == "9", "stale key must surface as decimal text")

    // writer rejects a display absent from the metadata table
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "wait_info", 9L, ts(9), "NOT_IN_MAP", 1L)), 1),
      StructType(StructField("k", LongType) +: schema.fields))
    val e = intercept[Exception](
      RolloverSet.writeByKey(XelNativeEncoder(mMeta), bad, "k",
        Files.createTempDirectory("graft-xeln-map2").toString))
    assert(e.getMessage.contains("not in map field"))
  }

  test("distributed writer: executors write rollover files, scan fans out per file") {
    val d = Files.createTempDirectory("graft-xeln-dist").toString
    val rows = (1 to 50).map { i =>
      val even = i % 2 == 0
      Row(if (even) "wait_info" else "sql_statement_completed", i.toLong, ts(i),
        if (even) null else dec(i.toString), if (even) null else s"stmt $i",
        if (even) s"wait $i" else null, if (even) i.toLong else null,
        (i % 3).toLong, null)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), unionSchema)
    RolloverSet.writeDistributed(XelNativeEncoder(meta), df, d)
    val back = spark.read.format("xelnative").load(d)
    assert(back.rdd.getNumPartitions == 4) // file-per-partition (X1)
    assert(back.count() == 50)
    assert(back.agg(sum("c_event_sequence")).head().getLong(0) == (1 to 50).sum.toLong)
  }
}
