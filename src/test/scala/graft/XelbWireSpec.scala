package graft

import graft.sources.{RolloverSet, XeXmlEncoder, XelNativeEncoder, XelNativeFormat, XelbDataWriter,
  XelbEncoder, XelbFormat}
import graft.xel.EventSchema.{EventMeta, FieldMeta, SessionMeta}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The wire bytes of one record holding every supported type, pinned as
  * hex, through each writer: the `.xelb` rollover writer, the DSv2 writer
  * behind `df.write.format("xelb")`, and the `.xeln` fixture writer; and
  * the same record's `<event>` text through the XML writer. The record
  * has a null, a multi-byte and an empty string, a pre-epoch timestamp
  * with microseconds, a negative `decimal(38,0)`, a `decimal(10,2)` with a
  * trailing zero, binary and the fixed widths. */
class XelbWireSpec extends SparkTestBase {

  private val schema = StructType.fromDDL(
    "l BIGINT, d DOUBLE, s STRING, e STRING, n STRING, t TIMESTAMP, i INT, sh SMALLINT, " +
      "by TINYINT, bo BOOLEAN, f FLOAT, bin BINARY, dec DECIMAL(38,0), dm DECIMAL(10,2)")

  /** 1969-12-31 23:59:59.123456 UTC: epoch micros −876544. */
  private val preEpoch = {
    val t = new java.sql.Timestamp(-877L)
    t.setNanos(123456000)
    t
  }
  private val bigNeg = new java.math.BigDecimal("-12345678901234567890123456789")
  private val money = new java.math.BigDecimal("4200.10")
  private val bin = Array[Byte](0, -1, 127)

  private val row = Row(-42L, -2.5e10, "日本ü", "", null, preEpoch, 123456789, (-1234).toShort,
    (-7).toByte, true, 1.5f, bin, bigNeg, money)

  /** Each column's null flag and value in schema order, `l` to `dec`. */
  private val valuesHex =
    "00ffffffffffffffd6" + "00c2174876e8000000" + "0000000008e697a5e69cacc3bc" + "0000000000" +
      "01" + "00fffffffffff2a000" + "00075bcd15" + "00fb2e" + "00f9" + "0001" + "003fc00000" +
      "000000000300ff7f" + "000000000cd81be4cdb941364e91c67eeb"

  /** u32 frame length, the values, then `dm`. */
  private val frameHex = "00000060" + valuesHex + "00000000030668aa"

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def headerHex: String = {
    val header = new ByteArrayOutputStream()
    XelbFormat.writeHeader(new DataOutputStream(header), schema)
    hex(header.toByteArray)
  }

  /** A one-row frame of `fields`, key column `k` = 1 first. */
  private def keyed(fields: Seq[StructField], values: Seq[Any]) =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row.fromSeq(1L +: values)), 1),
      StructType(StructField("k", LongType) +: fields))

  private def tmp(tag: String): String = Files.createTempDirectory(s"graft-$tag-wire").toString

  test("the .xelb rollover writer encodes the pinned bytes") {
    val Seq(file) = RolloverSet.writeByKey(XelbEncoder, keyed(schema.fields, row.toSeq), "k",
      tmp("xelb"))
    assert(hex(Files.readAllBytes(Paths.get(file))) == headerHex + frameHex)
  }

  test("the DSv2 writer encodes the pinned bytes from internal values") {
    val internal = new GenericInternalRow(Array[Any](-42L, -2.5e10, UTF8String.fromString("日本ü"),
      UTF8String.EMPTY_UTF8, null, -876544L, 123456789, (-1234).toShort, (-7).toByte, true, 1.5f,
      bin, org.apache.spark.sql.types.Decimal(bigNeg, 38, 0),
      org.apache.spark.sql.types.Decimal(money, 10, 2)))
    val file = Files.createTempDirectory("graft-xelb-wire").resolve("part.xelb").toString
    val w = new XelbDataWriter(file, schema)
    w.write(internal)
    w.commit()
    assert(hex(Files.readAllBytes(Paths.get(file + ".inprogress"))) == headerHex + frameHex)
  }

  test("the .xeln fixture writer encodes the pinned bytes") {
    // every supported type but decimal(10,2), which no CLR type maps to
    val clr = Seq("l" -> "System.Int64", "d" -> "System.Double", "s" -> "System.String",
      "e" -> "System.String", "n" -> "System.String", "t" -> "System.DateTime",
      "i" -> "System.Int32", "sh" -> "System.Int16", "by" -> "System.SByte",
      "bo" -> "System.Boolean", "f" -> "System.Single", "bin" -> "System.Byte[]",
      "dec" -> "System.UInt64")
    val meta = SessionMeta(
      events = Seq(EventMeta("all_types", clr.map { case (n, t) => FieldMeta(n, t) })),
      actions = Seq(FieldMeta("session_id", "System.Int64")))
    val df = keyed(
      StructField("event_name", StringType) +: StructField("c_event_sequence", LongType) +:
        StructField("e_time_of_event_utc", TimestampType) +:
        schema.fields.dropRight(1).map(f => f.copy(name = "c_" + f.name)) :+
        StructField("a_session_id", LongType),
      Seq("all_types", 5L, preEpoch) ++ row.toSeq.dropRight(1) :+ 51L)
    val Seq(file) = RolloverSet.writeByKey(XelNativeEncoder(meta), df, "k", tmp("xeln"))
    val bytes = Files.readAllBytes(Paths.get(file))
    val in = new ByteArrayInputStream(bytes)
    XelNativeFormat.readMetadata(new DataInputStream(in))
    val chunk = bytes.drop(bytes.length - in.available())
    assert(hex(chunk) == "00000073" + // chunk length
      "0000" + "0000000000000005" + "fffffffffff2a000" + // event id, sequence, time
      valuesHex + "000000000000000033") // then a_session_id
  }

  test("the XML rollover writer writes the pinned text") {
    // every supported type, and an action whose text needs escaping
    val df = keyed(
      StructField("event_name", StringType) +: StructField("e_time_of_event_utc", TimestampType) +:
        schema.fields.map(f => f.copy(name = "c_" + f.name)) :+
        StructField("a_session_id", LongType) :+ StructField("a_note", StringType),
      Seq("all_types", preEpoch) ++ row.toSeq :+ 51L :+ "<x a=\"1\">&amp;\u0001</x>")
    val Seq(file) = RolloverSet.writeByKey(XeXmlEncoder, df, "k", tmp("xml"))
    assert(new String(Files.readAllBytes(Paths.get(file)), "UTF-8") ==
      """<?xml version="1.0" encoding="UTF-8"?>
        |<events>
        |  <event name="all_types" package="graft" timestamp="1969-12-31T23:59:59.123456Z">
        |    <data name="l"><type name="int64" package="graft"/><value>-42</value></data>
        |    <data name="d"><type name="float64" package="graft"/><value>-2.5E10</value></data>
        |    <data name="s"><type name="unicode_string" package="graft"/><value>日本ü</value></data>
        |    <data name="e"><type name="unicode_string" package="graft"/><value></value></data>
        |    <data name="t"><type name="datetime" package="graft"/><value>1969-12-31T23:59:59.123456Z</value></data>
        |    <data name="i"><type name="int32" package="graft"/><value>123456789</value></data>
        |    <data name="sh"><type name="int16" package="graft"/><value>-1234</value></data>
        |    <data name="by"><type name="int8" package="graft"/><value>-7</value></data>
        |    <data name="bo"><type name="boolean" package="graft"/><value>true</value></data>
        |    <data name="f"><type name="float32" package="graft"/><value>1.5</value></data>
        |    <data name="bin"><type name="binary_data" package="graft"/><value>00FF7F</value></data>
        |    <data name="dec"><type name="uint64" package="graft"/><value>-12345678901234567890123456789</value></data>
        |    <data name="dm"><type name="uint64" package="graft"/><value>4200.10</value></data>
        |    <action name="session_id"><type name="int64" package="graft"/><value>51</value></action>
        |    <action name="note"><type name="unicode_string" package="graft"/><value>&lt;x a=&quot;1&quot;&gt;&amp;amp;&lt;/x&gt;</value></action>
        |  </event>
        |</events>
        |""".stripMargin)
  }
}
