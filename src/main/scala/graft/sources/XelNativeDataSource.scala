package graft.sources

import java.io.DataInputStream
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
    (graft.xel.EventSchema.sparkType(a.clrType),
      slot(graft.xel.XelFunctions.actionCol(a.name)), null: Map[Int, UTF8String])
  }
  private val dispatch: Map[Int, Dispatch] = nm.eventsById.map { case (id, e) =>
    id -> Dispatch(
      UTF8String.fromString(e.name),
      (e.fields.map { f =>
        (graft.xel.EventSchema.sparkType(f.clrType),
          slot(graft.xel.XelFunctions.fieldCol(f.name)),
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
