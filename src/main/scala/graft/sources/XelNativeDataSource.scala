package graft.sources

import graft.xel.{EventSchema, XelFunctions}
import graft.xel.EventSchema.{FieldMeta, SessionMeta}
import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * XELN session containers on the shared [[EventFileSource]] read path —
 * the .xel-shaped ingest format (SURVEY.md §2.1 S1). Where `xelb` reads
 * homogeneous rollover files, this one does what the reference's event
 * loop actually does (`XELoader/FileProcessor.cs:224-227` →
 * `EventHolder.ProcessEvent`):
 *
 *  - schema: the union schema of the FIRST file's metadata tree, read
 *    once on the driver — the metadata-lock init (X2,
 *    `FileProcessor.cs:206-215`); data files are assumed to share the
 *    session's metadata, as the reference assumes;
 *  - decoder: per-record dynamic dispatch on the event id (P1's input
 *    side): one file interleaves every event type; rows surface in the
 *    UNION schema with `event_name` as the demux key; dropped actions (P4)
 *    are skipped on the wire, never allocated;
 *  - chunk-fenced error tolerance: a corrupt value keeps the partial row
 *    (E2), costs one budgeted error (E1) and fences the rest of the chunk
 *    (E3) — the next chunk's length prefix resynchronizes the stream.
 *
 * `spark.read.format("xelnative").load(dir)`, option `errorBudget`.
 */
class XelNativeDataSource extends EventFileSource {
  override def shortName(): String = "xelnative"
  override def extension: String = ".xeln"

  override def schemaOf(files: Seq[FileStatus], options: CaseInsensitiveStringMap): StructType =
    XelNativeFormat.unionSchema(
      EventFileSource.readFile(files.head.getPath.toString)(XelNativeFormat.readMetadata).meta)

  override def decoder(options: CaseInsensitiveStringMap): FileDecoder = XelNativeDecoder
}

/** One XELN file: chunk framing outside, per-record event-id dispatch
  * inside. All dispatch tables are precomputed per event type at open —
  * the record loop is array lookups only. */
object XelNativeDecoder extends FileDecoder {
  override def open(file: String, in: DataInputStream, required: StructType,
                    budget: ErrorBudget): Iterator[InternalRow] = {
    val records = new XelNativeRecords(XelNativeFormat.readMetadata(in), required, budget)
    def chunk(): Array[Byte] =
      try XelbFormat.readFrame(in)
      catch {
        // tail unreadable past a broken chunk length
        case e: XelbFormat.FrameTruncated => budget.charge(e.getMessage); null
      }
    Iterator.continually(chunk()).takeWhile(_ != null).flatMap(records.of)
  }
}

/** One .xeln file of union-schema rows (`event_name`, `c_event_sequence`,
  * `e_time_of_event_utc`, `c_*`/`a_*` columns): the session's metadata
  * block, then the records in chunks of [[XelNativeFormat.ChunkRecords]]. */
case class XelNativeEncoder(meta: SessionMeta) extends FileEncoder {
  override def extension: String = ".xeln"

  override def validate(schema: StructType): Unit =
    require(schema.fieldNames.exists(_.equalsIgnoreCase("event_name")),
      "union frame must carry event_name")

  override def open(out: DataOutputStream, schema: StructType): EncodedFile = {
    val ids = XelNativeFormat.writeMetadata(out, meta)
    def idx(name: String): Int = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
    val Seq(nameIdx, seqIdx, tsIdx) =
      Seq("event_name", "c_event_sequence", "e_time_of_event_utc").map(idx)
    // per event type: its id, then per value in wire order its metadata,
    // its column (−1: the frame lacks it, so null) and whether it is a map key
    val actions = meta.actions.map(a => (a, idx(XelFunctions.actionCol(a.name)), false))
    val events = meta.events.map(e => e.name -> (ids(e.name),
      e.fields.map(f => (f, idx(XelFunctions.fieldCol(f.name)), f.isMapValue)) ++ actions)).toMap
    // columns surface a map field's DISPLAY text; the wire stores its
    // 2-byte key, reverse-resolved through the metadata table
    def mapKey(f: FieldMeta, display: String): Int =
      f.mapValues.collectFirst { case (k, d) if d == display => k }.getOrElse(
        throw new IllegalArgumentException(
          s"value '$display' not in map field ${f.name}'s metadata table"))
    val chunk = new ByteArrayOutputStream()
    val rec = new DataOutputStream(chunk)
    var inChunk = 0
    def flush(): Unit = if (inChunk > 0) {
      out.writeInt(chunk.size()); chunk.writeTo(out); chunk.reset(); inChunk = 0
    }
    new EncodedFile {
      override def write(row: InternalRow): Unit = {
        val name = String.valueOf(row.getUTF8String(nameIdx))
        val (id, values) = events.getOrElse(name,
          throw new IllegalArgumentException(s"event type $name not in session metadata"))
        rec.writeShort(id)
        rec.writeLong(if (seqIdx >= 0 && !row.isNullAt(seqIdx)) row.getLong(seqIdx) else 0L)
        rec.writeLong(if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.getLong(tsIdx) else 0L)
        values.foreach { case (f, i, isMap) =>
          if (i < 0 || row.isNullAt(i)) rec.writeByte(1)
          else {
            rec.writeByte(0)
            val v = row.get(i, schema(i).dataType)
            if (isMap) rec.writeShort(mapKey(f, v.toString))
            else XelbFormat.writeValue(rec, EventSchema.sparkType(f.clrType), v)
          }
        }
        inChunk += 1
        if (inChunk >= XelNativeFormat.ChunkRecords) flush()
      }

      override def finish(): Unit = flush()
    }
  }
}

private final class XelNativeRecords(nm: XelNativeFormat.NativeMeta, required: StructType,
                                     budget: ErrorBudget) {
  private def slot(name: String): Int =
    required.fieldNames.indexWhere(_.equalsIgnoreCase(name))
  private val eventNameSlot = slot("event_name")
  private val seqSlot = slot("c_event_sequence")
  private val tsSlot = slot("e_time_of_event_utc")

  /** Per event id: cached name, and (type, outSlot, mapTable) per value in
    * wire order — the event's fields, then the session's actions; outSlot
    * −1 = skip (pruned, or P4-dropped action);
    * mapTable non-null = F7 MapValue field — the wire holds a 2-byte map
    * key resolved to its display string through the metadata table (the
    * SDK's `MapValue.ToString()`, `EventHolder.cs:137-141`); a key absent
    * from the table surfaces as its decimal text, the lossless fallback
    * for stale metadata. */
  private case class Dispatch(name: UTF8String,
                              fields: Array[(DataType, Int, Map[Int, UTF8String])])
  private val actionCols = nm.meta.actions.map { a =>
    (EventSchema.sparkType(a.clrType), slot(XelFunctions.actionCol(a.name)),
      null: Map[Int, UTF8String])
  }
  private val dispatch: Map[Int, Dispatch] = nm.eventsById.map { case (id, e) =>
    id -> Dispatch(
      UTF8String.fromString(e.name),
      (e.fields.map { f =>
        (EventSchema.sparkType(f.clrType),
          slot(XelFunctions.fieldCol(f.name)),
          if (f.isMapValue)
            f.mapValues.map { case (k, d) => k -> UTF8String.fromString(d) }.toMap
          else null)
      } ++ actionCols).toArray)
  }

  /** The rows of one chunk. A corrupt record costs one budgeted error (E1)
    * and ends the chunk (E3): records have no own length prefix, so the
    * rest of the chunk cannot be resynchronized. A record whose header
    * decoded is kept with the fields read before the failure (E2). */
  def of(chunk: Array[Byte]): Iterator[InternalRow] = {
    val buf = ByteBuffer.wrap(chunk)
    var fenced = false
    def fence(): Unit = { budget.charge("corrupt record body"); fenced = true }
    Iterator.continually {
      if (fenced || !buf.hasRemaining) null
      else {
        val out = new Array[Any](required.length)
        val d = try header(buf, out) catch { case _: Exception => fence(); null }
        if (d == null) null
        else {
          try body(buf, d, out) catch { case _: Exception => fence() }
          new GenericInternalRow(out)
        }
      }
    }.takeWhile(_ != null)
  }

  private def header(buf: ByteBuffer, out: Array[Any]): Dispatch = {
    val eventId = buf.getShort() & 0xffff
    val d = dispatch.getOrElse(eventId,
      throw new java.io.IOException(s"unknown event id $eventId"))
    val seq = buf.getLong()
    val ts = buf.getLong()
    if (eventNameSlot >= 0) out(eventNameSlot) = d.name
    if (seqSlot >= 0) out(seqSlot) = seq
    if (tsSlot >= 0) out(tsSlot) = ts
    d
  }

  private def body(buf: ByteBuffer, d: Dispatch, out: Array[Any]): Unit = {
    var i = 0
    while (i < d.fields.length) {
      val (dt, at, mapTable) = d.fields(i)
      if (buf.get() != 1) {
        if (mapTable != null) {
          val key = buf.getShort() & 0xffff // fixed 2 bytes even when pruned
          if (at >= 0)
            out(at) = mapTable.getOrElse(key, UTF8String.fromString(key.toString))
        } else {
          val v = XelbFormat.readValue(buf, dt, at >= 0)
          if (at >= 0) out(at) = v
        }
      }
      i += 1
    }
  }
}
