package graft

import graft.sources.XelbFormat
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Pure-JVM fuzz of the XELB record codec (no Spark session): random
  * rows over the FULL §1.3 type table (`XELoader/EventMetadata.cs:257-353`)
  * — with unicode, empty strings/binaries, extreme numerics and nulls —
  * must survive writeRecord → readFrame → decodeRecordTolerant under every
  * single-column pruning mask plus a random sample of subset masks. */
class XelbCodecSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("l", LongType), StructField("d", DoubleType),
    StructField("s", StringType), StructField("t", TimestampType),
    StructField("i", IntegerType), StructField("sh", ShortType),
    StructField("by", ByteType), StructField("bo", BooleanType),
    StructField("f", FloatType), StructField("bin", BinaryType),
    StructField("dec", DecimalType(38, 0))))

  private val n = schema.length

  private def randomRow(rnd: Random): Row = {
    def maybe[A](v: A): Any = if (rnd.nextInt(5) == 0) null else v
    val strings = Seq("", "plain", "späce ünïcode", "日本語テキスト", "a" * rnd.nextInt(300),
      "with\nnewline\tand\u0000nul")
    // UInt64-shaped decimals: beyond Long.MaxValue on purpose
    val decimals = Seq("0", "1", "-1", "9223372036854775808",
      "18446744073709551615", "-99999999999999999999999999999999999999")
    Row(
      maybe(rnd.nextLong()),
      maybe(rnd.nextDouble() * 1e6),
      maybe(strings(rnd.nextInt(strings.size))),
      maybe(new java.sql.Timestamp(math.abs(rnd.nextLong()) % 4102444800000L)),
      maybe(rnd.nextInt()),
      maybe(rnd.nextInt().toShort),
      maybe(rnd.nextInt().toByte),
      maybe(rnd.nextBoolean()),
      maybe(rnd.nextFloat() * 1e6f),
      maybe(Array.fill(rnd.nextInt(64))(rnd.nextInt().toByte)),
      maybe(new java.math.BigDecimal(decimals(rnd.nextInt(decimals.size)))))
  }

  private def checkColumn(got: org.apache.spark.sql.catalyst.InternalRow, outIdx: Int,
                          expected: Row, srcIdx: Int): Unit = {
    val exp = expected.get(srcIdx)
    if (exp == null) { assert(got.isNullAt(outIdx)); return }
    schema.fields(srcIdx).dataType match {
      case LongType => assert(got.getLong(outIdx) == expected.getLong(srcIdx))
      case DoubleType => assert(got.getDouble(outIdx) == expected.getDouble(srcIdx))
      case StringType => assert(got.getUTF8String(outIdx).toString == expected.getString(srcIdx))
      case TimestampType =>
        val ts = expected.getAs[java.sql.Timestamp](srcIdx)
        assert(got.getLong(outIdx) == ts.getTime * 1000L + (ts.getNanos / 1000) % 1000)
      case IntegerType => assert(got.getInt(outIdx) == expected.getInt(srcIdx))
      case ShortType => assert(got.getShort(outIdx) == expected.getShort(srcIdx))
      case ByteType => assert(got.getByte(outIdx) == expected.getByte(srcIdx))
      case BooleanType => assert(got.getBoolean(outIdx) == expected.getBoolean(srcIdx))
      case FloatType => assert(got.getFloat(outIdx) == expected.getFloat(srcIdx))
      case BinaryType =>
        assert(java.util.Arrays.equals(got.getBinary(outIdx),
          expected.getAs[Array[Byte]](srcIdx)))
      case dt: DecimalType =>
        assert(got.getDecimal(outIdx, dt.precision, dt.scale).toJavaBigDecimal
          .compareTo(expected.getAs[java.math.BigDecimal](srcIdx).setScale(dt.scale)) == 0)
      case other => fail(s"unexpected $other")
    }
  }

  test("fuzz: 300 random rows round-trip bit-exactly under pruning masks, all types") {
    val rnd = new Random(42)
    val rows = Seq.fill(300)(randomRow(rnd))
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    XelbFormat.writeHeader(out, schema)
    rows.foreach(r => XelbFormat.writeRecord(out, SparkTestBase.internalRow(schema, r), schema))

    // every single-column mask (isolates each type's skip path against
    // every other type's read path), the full mask, and 100 random subsets
    val singles = (0 until n).map(1 << _)
    val full = (1 << n) - 1
    val randomMasks = Seq.fill(100)(rnd.nextInt(full - 1) + 1)
    for (mask <- (singles :+ full) ++ randomMasks) {
      val required = (0 until n).filter(i => (mask & (1 << i)) != 0).toArray
      val in = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
      assert(XelbFormat.readHeader(in).toDDL == schema.toDDL)
      val outPos = Array.tabulate(n)(i => required.indexOf(i))
      rows.foreach { expected =>
        val frame = XelbFormat.readFrame(in)
        assert(frame != null)
        val (got, errored) =
          XelbFormat.decodeRecordTolerant(frame, schema, outPos, required.length)
        assert(!errored)
        required.zipWithIndex.foreach { case (srcIdx, outIdx) =>
          checkColumn(got, outIdx, expected, srcIdx)
        }
      }
      assert(XelbFormat.readFrame(in) == null) // clean EOF
    }
  }

  test("a last value cut short at the end of its frame errs under every pruning mask") {
    // each type as the second of two columns, its frame one byte short: a
    // skipped value must run out of bytes exactly as a read one does
    val last = Seq[Any](1L, 2.0, "abc", new java.sql.Timestamp(0L), 3, 4.toShort, 5.toByte,
      true, 6f, Array[Byte](7, 8), new java.math.BigDecimal("9"))
    schema.fields.zip(last).foreach { case (f, v) =>
      val two = StructType(Seq(StructField("a", LongType), f))
      val buf = new ByteArrayOutputStream()
      XelbFormat.writeRecord(new DataOutputStream(buf),
        SparkTestBase.internalRow(two, Row(0L, v)), two)
      val frame = XelbFormat.readFrame(new DataInputStream(new ByteArrayInputStream(buf.toByteArray)))
      val cut = frame.dropRight(1)
      for (mask <- 0 until 4) {
        val required = (0 until 2).filter(i => (mask & (1 << i)) != 0)
        val outPos = Array.tabulate(2)(i => required.indexOf(i))
        val (_, errored) = XelbFormat.decodeRecordTolerant(cut, two, outPos, required.length)
        assert(errored, s"${f.dataType} under mask $mask")
      }
    }
  }

  test("corrupt length prefixes raise FrameTruncated, never OOM-size allocations") {
    for (badLen <- Seq(-1, -2147483648, 1 << 29)) {
      val buf = new ByteArrayOutputStream()
      val out = new DataOutputStream(buf)
      out.writeInt(badLen)
      out.write(Array.fill(16)(0x41.toByte))
      val in = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
      intercept[XelbFormat.FrameTruncated](XelbFormat.readFrame(in))
    }
  }
}
