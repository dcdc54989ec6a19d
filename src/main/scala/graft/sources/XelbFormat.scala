package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}
import org.apache.spark.sql.Row
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
 *     per column: u8 null flag; if not null:
 *       LONG/TIMESTAMP → 8-byte big-endian (timestamps in epoch micros)
 *       DOUBLE         → 8-byte IEEE bits
 *       INT            → 4-byte big-endian
 *       SHORT          → 2-byte big-endian
 *       BYTE/BOOLEAN   → 1 byte
 *       FLOAT          → 4-byte IEEE bits
 *       STRING         → u32 length + UTF-8 bytes
 *       BINARY         → u32 length + raw bytes
 *       DECIMAL(p,s)   → u32 length + two's-complement unscaled BigInteger
 * }}}
 *
 * The record length prefix lets a reader skip a corrupt record and keep
 * going — the E1 error-tolerance semantics (`XELoader/EventHolder.cs:76-96`).
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

  /** Serialize one external Row (driver-side fixture writer). */
  def writeRecord(out: DataOutputStream, row: Row, schema: StructType): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    val b = new DataOutputStream(body)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) b.writeByte(1)
      else {
        b.writeByte(0)
        f.dataType match {
          case LongType => b.writeLong(row.getLong(i))
          case DoubleType => b.writeDouble(row.getDouble(i))
          case IntegerType => b.writeInt(row.getInt(i))
          case ShortType => b.writeShort(row.getShort(i))
          case ByteType => b.writeByte(row.getByte(i))
          case BooleanType => b.writeByte(if (row.getBoolean(i)) 1 else 0)
          case FloatType => b.writeFloat(row.getFloat(i))
          case TimestampType =>
            val ts = row.getAs[java.sql.Timestamp](i)
            b.writeLong(ts.getTime * 1000L + (ts.getNanos / 1000) % 1000)
          case StringType =>
            val bytes = row.getString(i).getBytes("UTF-8")
            b.writeInt(bytes.length)
            b.write(bytes)
          case BinaryType =>
            val bytes = row.getAs[Array[Byte]](i)
            b.writeInt(bytes.length)
            b.write(bytes)
          case d: DecimalType =>
            // unscaled two's-complement bytes at the DECLARED scale — the
            // reader reconstructs with the schema's scale, so both sides
            // must agree on it even when the value has trailing zeros
            val unscaled = row.getAs[java.math.BigDecimal](i)
              .setScale(d.scale).unscaledValue.toByteArray
            b.writeInt(unscaled.length)
            b.write(unscaled)
          case other => throw new IllegalArgumentException(s"unsupported type $other")
        }
      }
    }
    out.writeInt(body.size())
    body.writeTo(out)
  }

  /** Serialize one InternalRow (executor-side DSv2 writer) — same wire
    * layout as [[writeRecord]]; timestamps are already epoch micros in
    * the internal representation. */
  def writeInternalRecord(out: DataOutputStream, row: org.apache.spark.sql.catalyst.InternalRow,
                          schema: StructType): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    val b = new DataOutputStream(body)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) b.writeByte(1)
      else {
        b.writeByte(0)
        f.dataType match {
          case LongType | TimestampType => b.writeLong(row.getLong(i))
          case DoubleType => b.writeDouble(row.getDouble(i))
          case IntegerType => b.writeInt(row.getInt(i))
          case ShortType => b.writeShort(row.getShort(i))
          case ByteType => b.writeByte(row.getByte(i))
          case BooleanType => b.writeByte(if (row.getBoolean(i)) 1 else 0)
          case FloatType => b.writeFloat(row.getFloat(i))
          case StringType =>
            val bytes = row.getUTF8String(i).getBytes
            b.writeInt(bytes.length)
            b.write(bytes)
          case BinaryType =>
            val bytes = row.getBinary(i)
            b.writeInt(bytes.length)
            b.write(bytes)
          case d: DecimalType =>
            val unscaled = row.getDecimal(i, d.precision, d.scale)
              .toJavaBigDecimal.setScale(d.scale).unscaledValue.toByteArray
            b.writeInt(unscaled.length)
            b.write(unscaled)
          case other => throw new IllegalArgumentException(s"unsupported type $other")
        }
      }
    }
    out.writeInt(body.size())
    body.writeTo(out)
  }

  /** The framing itself is broken (bad length prefix, or the file ends
    * mid-record — e.g. a rollover file still being flushed): the tail of
    * the file is unreadable, but the failure is contained. */
  final class FrameTruncated(msg: String) extends java.io.IOException(msg)

  /** Read the next record FRAME (length prefix + body bytes) or null at
    * clean EOF. Framing survives corrupt record BODIES; a corrupt LENGTH
    * or truncated tail raises [[FrameTruncated]] so the caller can count
    * it against the error budget and stop the file — the containment the
    * reference's per-event try/catch relies on (`EventHolder.cs:76-96`). */
  def readFrame(in: DataInputStream): Array[Byte] = {
    val recLen = try in.readInt() catch { case _: EOFException => return null }
    if (recLen < 0 || recLen > (1 << 28))
      throw new FrameTruncated(s"corrupt record length $recLen")
    val bytes = new Array[Byte](recLen)
    try in.readFully(bytes)
    catch { case _: EOFException => throw new FrameTruncated(s"file ends mid-record (len $recLen)") }
    bytes
  }

  /** Decode one framed record into an InternalRow of `outArity` slots.
    * `outPos(i)` maps the file's i-th column to its output slot, or -1 to
    * skip it without allocation — this one array carries BOTH column
    * pruning and schema evolution (output columns the file predates keep
    * their slots null). Throws on a corrupt body (caller applies the
    * error budget). */
  def decodeRecord(bytes: Array[Byte], fileSchema: StructType,
                   outPos: Array[Int], outArity: Int): InternalRow = {
    val out = new Array[Any](outArity)
    decodeInto(bytes, fileSchema, outPos, out)
    new GenericInternalRow(out)
  }

  /** E2 per-field tolerance (`XELoader/EventHolder.cs:99-271`: three
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
    val b = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    var i = 0
    while (i < fileSchema.length) {
      val isNull = b.readByte() == 1
      val keepAt = outPos(i)
      if (!isNull) {
        def lengthPrefixed(): Array[Byte] = {
          val len = b.readInt()
          if (len < 0 || len > bytes.length)
            throw new java.io.IOException(s"corrupt value length $len")
          if (keepAt >= 0) {
            val v = new Array[Byte](len)
            b.readFully(v)
            v
          } else { b.skipBytes(len); null }
        }
        fileSchema.fields(i).dataType match {
          case LongType | TimestampType =>
            if (keepAt >= 0) out(keepAt) = b.readLong() else b.skipBytes(8)
          case DoubleType =>
            if (keepAt >= 0) out(keepAt) = b.readDouble() else b.skipBytes(8)
          case IntegerType =>
            if (keepAt >= 0) out(keepAt) = b.readInt() else b.skipBytes(4)
          case ShortType =>
            if (keepAt >= 0) out(keepAt) = b.readShort() else b.skipBytes(2)
          case ByteType =>
            if (keepAt >= 0) out(keepAt) = b.readByte() else b.skipBytes(1)
          case BooleanType =>
            if (keepAt >= 0) out(keepAt) = b.readByte() != 0 else b.skipBytes(1)
          case FloatType =>
            if (keepAt >= 0) out(keepAt) = b.readFloat() else b.skipBytes(4)
          case StringType =>
            val v = lengthPrefixed()
            if (v != null) out(keepAt) = UTF8String.fromBytes(v)
          case BinaryType =>
            val v = lengthPrefixed()
            if (v != null) out(keepAt) = v
          case d: DecimalType =>
            val v = lengthPrefixed()
            if (v != null) out(keepAt) = Decimal(
              new java.math.BigDecimal(new java.math.BigInteger(v), d.scale),
              d.precision, d.scale)
          case other => throw new IllegalArgumentException(s"unsupported type $other")
        }
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
