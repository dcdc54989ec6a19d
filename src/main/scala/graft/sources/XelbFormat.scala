package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * XELB — a self-describing length-prefixed binary event-file format, the
 * stand-in for the reference's opaque .xel container (the real XEL layout
 * lives behind `Microsoft.SqlServer.XEvent.Linq.dll`,
 * `XELoader/XELoader.csproj:21-23`, and is not publicly documented; what
 * transfers to Spark is the READER ARCHITECTURE: schema from the first
 * file's embedded metadata, whole files packed into read tasks by Spark's
 * file-source rule and read one after another, per-record decode with
 * per-file error tolerance).
 *
 * Layout:
 * {{{
 *   magic   "XELB" (4 bytes)
 *   version u16
 *   schema  u32 length + UTF-8 Spark DDL string ("a BIGINT, b STRING", …)
 *   records repeated:
 *     u32 record byte length (excluding this prefix)
 *     per column: u8 null flag (1 = null, else 0); if not null, the value
 *
 *   value, by Spark type (all integers big-endian):
 *     LONG/TIMESTAMP → 8 bytes (timestamps in epoch micros)
 *     DOUBLE         → 8-byte IEEE bits
 *     INT            → 4 bytes
 *     SHORT          → 2 bytes
 *     BYTE/BOOLEAN   → 1 byte (boolean 1 or 0)
 *     FLOAT          → 4-byte IEEE bits
 *     STRING         → u32 length + UTF-8 bytes
 *     BINARY         → u32 length + raw bytes
 *     DECIMAL(p,s)   → u32 length + two's-complement unscaled BigInteger
 *                      at the declared scale s
 * }}}
 *
 * The value table is the one value encoding of the binary event-file
 * formats: `.xeln` records ([[XelNativeFormat]]) carry the same values,
 * and both formats write them with [[writeValue]] and read them with
 * [[readValue]], straight from the frame's bytes. The record length
 * prefix lets a reader skip a corrupt record and keep going — the E1
 * error-tolerance semantics (`XELoader/EventHolder.cs:76-96`).
 */
object XelbFormat {
  val Magic: Array[Byte] = "XELB".getBytes("US-ASCII")

  /** S2 legacy body-only files (`XELoader/FileProcessor.cs:280-334`: .xel
    * paired with sidecar .xem metadata): records only, no embedded schema —
    * the reader must be handed the schema via `option("metadataPath", …)`. */
  val MagicBody: Array[Byte] = "XELO".getBytes("US-ASCII")
  val Version = 1

  /** Full §1.3 type table (`XELoader/EventMetadata.cs:257-353` mapped to
    * Spark types): integral widths down to tinyint, bit, float/real,
    * varbinary (callstacks, hash companions), and DecimalType(38,0) —
    * the UInt64-overflow-avoidance type — plus the original four. */
  def supported(dt: DataType): Boolean = dt match {
    case LongType | DoubleType | StringType | TimestampType => true
    case IntegerType | ShortType | ByteType | BooleanType | FloatType | BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  def writeHeader(out: DataOutputStream, schema: StructType): Unit = {
    out.write(Magic)
    out.writeShort(Version)
    val ddl = schema.toDDL.getBytes("UTF-8")
    out.writeInt(ddl.length)
    out.write(ddl)
  }

  def readHeader(in: DataInputStream): StructType =
    readHeaderOpt(in).getOrElse(throw new IllegalArgumentException(
      "body-only XELB file has no embedded schema — supply option(\"metadataPath\", ...)"))

  /** Some(schema) for a self-describing file; None for a body-only (S2
    * legacy) file whose schema must come from a sidecar metadata file. */
  def readHeaderOpt(in: DataInputStream): Option[StructType] = {
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(magic.sameElements(Magic) || magic.sameElements(MagicBody),
      "not an XELB file (bad magic)")
    val v = in.readUnsignedShort()
    require(v == Version, s"unsupported XELB version $v")
    if (magic.sameElements(MagicBody)) return None
    val len = in.readInt()
    val ddl = new Array[Byte](len)
    in.readFully(ddl)
    Some(StructType.fromDDL(new String(ddl, "UTF-8")))
  }

  /** Header for a body-only legacy file: magic + version, no schema. */
  def writeBodyOnlyHeader(out: DataOutputStream): Unit = {
    out.write(MagicBody)
    out.writeShort(Version)
  }

  /** Serialize one record frame: the body length, then per column a null
    * flag and the value. */
  def writeRecord(out: DataOutputStream, row: InternalRow, schema: StructType): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    val b = new DataOutputStream(body)
    var i = 0
    while (i < schema.length) {
      if (row.isNullAt(i)) b.writeByte(1)
      else {
        b.writeByte(0)
        val dt = schema(i).dataType
        writeValue(b, dt, row.get(i, dt))
      }
      i += 1
    }
    out.writeInt(body.size())
    body.writeTo(out)
  }

  /** One non-null internal value onto the wire, as the layout table says. */
  def writeValue(out: DataOutputStream, dt: DataType, v: Any): Unit = dt match {
    case LongType | TimestampType => out.writeLong(v.asInstanceOf[Long])
    case DoubleType => out.writeDouble(v.asInstanceOf[Double])
    case IntegerType => out.writeInt(v.asInstanceOf[Int])
    case ShortType => out.writeShort(v.asInstanceOf[Short])
    case ByteType => out.writeByte(v.asInstanceOf[Byte])
    case BooleanType => out.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
    case FloatType => out.writeFloat(v.asInstanceOf[Float])
    case StringType => writeBytes(out, v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => writeBytes(out, v.asInstanceOf[Array[Byte]])
    case d: DecimalType =>
      // unscaled bytes at the DECLARED scale — the reader reconstructs with
      // the schema's scale, so both sides must agree on it even when the
      // value has trailing zeros
      writeBytes(out, v.asInstanceOf[Decimal].toJavaBigDecimal.setScale(d.scale)
        .unscaledValue.toByteArray)
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  private def writeBytes(out: DataOutputStream, bytes: Array[Byte]): Unit = {
    out.writeInt(bytes.length)
    out.write(bytes)
  }

  /** One non-null value at `buf`'s position, in internal form, or — with
    * `keep = false` — stepped over, returning null. Reading or stepping
    * past the buffer's limit throws, so a value cut short costs the same
    * error whether or not its column is selected. */
  def readValue(buf: ByteBuffer, dt: DataType, keep: Boolean): Any = dt match {
    case LongType | TimestampType => if (keep) buf.getLong() else skip(buf, 8)
    case DoubleType => if (keep) buf.getDouble() else skip(buf, 8)
    case IntegerType => if (keep) buf.getInt() else skip(buf, 4)
    case ShortType => if (keep) buf.getShort() else skip(buf, 2)
    case ByteType => if (keep) buf.get() else skip(buf, 1)
    case BooleanType => if (keep) buf.get() != 0 else skip(buf, 1)
    case FloatType => if (keep) buf.getFloat() else skip(buf, 4)
    case StringType =>
      val v = readBytes(buf, keep)
      if (v == null) null else UTF8String.fromBytes(v)
    case BinaryType => readBytes(buf, keep)
    case d: DecimalType =>
      val v = readBytes(buf, keep)
      if (v == null) null
      else Decimal(new java.math.BigDecimal(new java.math.BigInteger(v), d.scale), d.precision, d.scale)
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  /** Throws IllegalArgumentException past the limit, as a read would. */
  private def skip(buf: ByteBuffer, n: Int): Null = { buf.position(buf.position() + n); null }

  private def readBytes(buf: ByteBuffer, keep: Boolean): Array[Byte] = {
    val len = buf.getInt()
    if (len < 0 || len > buf.remaining())
      throw new java.io.IOException(s"corrupt value length $len")
    if (!keep) skip(buf, len)
    else {
      val v = new Array[Byte](len)
      buf.get(v)
      v
    }
  }

  /** The framing itself is broken (bad length prefix, or the file ends
    * mid-frame — e.g. a rollover file still being flushed): the tail of
    * the file is unreadable, but the failure is contained. */
  final class FrameTruncated(msg: String) extends java.io.IOException(msg)

  /** Read the next FRAME (u32 length prefix + body bytes: an `.xelb`
    * record or an `.xeln` chunk) or null at clean EOF. Framing survives
    * corrupt bodies; a corrupt length, or a file that ends inside a length
    * or a body, raises [[FrameTruncated]] so the caller can count it
    * against the error budget and stop the file — the containment the
    * reference's per-event try/catch relies on (`EventHolder.cs:76-96`). */
  def readFrame(in: DataInputStream): Array[Byte] = {
    val first = in.read()
    if (first < 0) return null
    val len =
      try (first << 24) | (in.readUnsignedByte() << 16) | in.readUnsignedShort()
      catch { case _: EOFException => throw new FrameTruncated("file ends mid-length") }
    if (len < 0 || len > (1 << 28))
      throw new FrameTruncated(s"corrupt frame length $len")
    val bytes = new Array[Byte](len)
    try in.readFully(bytes)
    catch { case _: EOFException => throw new FrameTruncated(s"file ends mid-frame (len $len)") }
    bytes
  }

  /** Decode one framed record into an InternalRow of `outArity` slots.
    * `outPos(i)` maps the file's i-th column to its output slot, or -1 to
    * skip it without allocation — this one array carries BOTH column
    * pruning and schema evolution (output columns the file predates keep
    * their slots null).
    *
    * E2 per-field tolerance (`XELoader/EventHolder.cs:99-271`: three
    * independent try/catch stages keep the row with whatever fields
    * succeeded). Column decode failure mid-record → the row SURVIVES with
    * every field decoded before the failure (remaining output slots stay
    * null), and the error surfaces to the caller for budgeting. Returns
    * (row, errored). */
  def decodeRecordTolerant(bytes: Array[Byte], fileSchema: StructType,
                           outPos: Array[Int], outArity: Int): (InternalRow, Boolean) = {
    val out = new Array[Any](outArity)
    val errored =
      try { decodeInto(bytes, fileSchema, outPos, out); false }
      catch { case _: Exception => true }
    (new GenericInternalRow(out), errored)
  }

  private def decodeInto(bytes: Array[Byte], fileSchema: StructType,
                         outPos: Array[Int], out: Array[Any]): Unit = {
    val buf = ByteBuffer.wrap(bytes)
    var i = 0
    while (i < fileSchema.length) {
      if (buf.get() != 1) {
        val at = outPos(i)
        val v = readValue(buf, fileSchema.fields(i).dataType, at >= 0)
        if (at >= 0) out(at) = v
      }
      i += 1
    }
  }

  /** D6 schema evolution (`XELoader/EventMetadata.cs:400-455` re-homed to
    * the read side): union of per-file schemas by column name, in
    * first-seen order; a name reused at a different type is an error
    * (the reference never re-types columns either). */
  def mergeSchemas(schemas: Seq[StructType]): StructType = {
    // keyed case-insensitively (Spark's default resolution); first-seen
    // spelling wins, so `duration` and `Duration` across rollovers merge
    // into one column instead of an ambiguous pair
    val out = scala.collection.mutable.LinkedHashMap[String, StructField]()
    schemas.foreach(_.fields.foreach { f =>
      val key = f.name.toLowerCase(java.util.Locale.ROOT)
      out.get(key) match {
        case None => out(key) = f.copy(nullable = true)
        case Some(prev) if prev.dataType != f.dataType =>
          throw new IllegalArgumentException(
            s"schema evolution cannot re-type ${f.name}: ${prev.dataType} vs ${f.dataType}")
        case _ =>
      }
    })
    StructType(out.values.toSeq)
  }
}
