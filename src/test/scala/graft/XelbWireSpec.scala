package graft

import graft.sources.{XelNativeFixtures, XelNativeFormat, XelbDataWriter, XelbFormat}
import graft.xel.EventSchema.{EventMeta, FieldMeta, SessionMeta}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The wire bytes of one record holding every supported type, pinned as
  * hex, through each writer: the `Row` writer, the `InternalRow` writer
  * behind `df.write.format("xelb")`, and the `.xeln` fixture writer. The
  * record has a null, a multi-byte and an empty string, a pre-epoch
  * timestamp with microseconds, a negative `decimal(38,0)`, a
  * `decimal(10,2)` with a trailing zero, binary and the fixed widths. */
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

  test("the Row writer encodes the pinned bytes") {
    val buf = new ByteArrayOutputStream()
    XelbFormat.writeRecord(new DataOutputStream(buf), row, schema)
    assert(hex(buf.toByteArray) == frameHex)
  }

  test("the DSv2 writer encodes the pinned bytes from internal values") {
    val internal = new GenericInternalRow(Array[Any](-42L, -2.5e10, UTF8String.fromString("日本ü"),
      UTF8String.EMPTY_UTF8, null, -876544L, 123456789, (-1234).toShort, (-7).toByte, true, 1.5f,
      bin, org.apache.spark.sql.types.Decimal(bigNeg, 38, 0),
      org.apache.spark.sql.types.Decimal(money, 10, 2)))
    val file = Files.createTempDirectory("graft-xelb-wire").resolve("part.xelb").toString
    val w = new XelbDataWriter(file, schema, 0)
    w.write(internal)
    w.commit()
    val header = new ByteArrayOutputStream()
    XelbFormat.writeHeader(new DataOutputStream(header), schema)
    assert(hex(Files.readAllBytes(Paths.get(file + ".inprogress"))) ==
      hex(header.toByteArray) + frameHex)
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
    val frame = StructType(
      StructField("k", LongType) +: StructField("event_name", StringType) +:
        StructField("c_event_sequence", LongType) +: StructField("e_time_of_event_utc", TimestampType) +:
        schema.fields.dropRight(1).map(f => f.copy(name = "c_" + f.name)) :+
        StructField("a_session_id", LongType))
    val values = Seq(1L, "all_types", 5L, preEpoch) ++ row.toSeq.dropRight(1) :+ 51L
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row.fromSeq(values)), 1), frame)
    val Seq(file) = XelNativeFixtures.writeByKey(df, meta, "k",
      Files.createTempDirectory("graft-xeln-wire").toString)
    val bytes = Files.readAllBytes(Paths.get(file))
    val in = new ByteArrayInputStream(bytes)
    XelNativeFormat.readMetadata(new DataInputStream(in))
    val chunk = bytes.drop(bytes.length - in.available())
    assert(hex(chunk) == "00000073" + // chunk length
      "0000" + "0000000000000005" + "fffffffffff2a000" + // event id, sequence, time
      valuesHex + "000000000000000033") // then a_session_id
  }
}
