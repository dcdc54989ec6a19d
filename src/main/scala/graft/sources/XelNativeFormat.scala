package graft.sources

import graft.xel.EventSchema
import graft.xel.EventSchema.{EventMeta, FieldMeta, SessionMeta}
import java.io.{DataInputStream, DataOutputStream}
import org.apache.spark.sql.types._

/**
 * XELN — a minimal XE-session container with the structure the reference's
 * SDK exposes publicly (`Microsoft.SqlServer.XEvent.Linq.dll` object model:
 * `IMetadataGeneration → IPackage → {IEventMetadata → IEventFieldMetadata,
 * IActionMetadata}`, consumed at `XELoader/EventMetadata.cs:37-129`): an
 * embedded metadata tree describing packages, event types with typed
 * fields, and the session-wide action set, followed by chunked,
 * HETEROGENEOUS event records — unlike XELB (one schema per file), one
 * XELN file interleaves every event type of the session, which is exactly
 * what makes the reference's P1 demux necessary.
 *
 * The byte-level encoding here is ours (length-prefixed, big-endian — the
 * proprietary .xel wire encoding is not publicly documented and is NOT
 * reproduced); what is faithful to the reference is the CONTAINER MODEL
 * (metadata tree + typed multi-event stream + per-session actions) and the
 * reader obligations it creates: one-time metadata init (X2), per-event
 * dynamic dispatch on the event id (P1), CLR-name type mapping (§1.3),
 * chunk-fenced error tolerance (E1/E3) and per-field tolerance (E2).
 *
 * Layout:
 * {{{
 *   magic "XELN" (4) | u16 version
 *   metadata:
 *     u16 nPackages; per package: str name
 *     u16 nEvents;   per event: u16 eventId, u16 packageIdx, str name,
 *                    u16 nFields; per field: str name, str clrTypeName
 *     u16 nActions;  per action: str name, str clrTypeName
 *   chunks until EOF:
 *     u32 chunkByteLen, then records packed back to back:
 *       u16 eventId | i64 eventSequence | i64 utcMicros
 *       per event field (metadata order): u8 null flag + value
 *       per action:                       u8 null flag + value
 *   str = u16 len + UTF-8 bytes
 * }}}
 *
 * A value is encoded by the field's Spark type exactly as in
 * [[XelbFormat]]'s layout table (its one spec), written and read by
 * `XelbFormat.writeValue`/`readValue`; a MapValue field's value is its
 * u16 map key instead. A chunk is framed like an `.xelb` record and read
 * by `XelbFormat.readFrame`.
 */
object XelNativeFormat {
  val Magic: Array[Byte] = "XELN".getBytes("US-ASCII")
  val Version = 1

  /** Records per chunk a writer packs: a file has several chunks, so real
    * layouts exercise the chunk-fence error path (E3). */
  val ChunkRecords = 256

  // ---- strings ----------------------------------------------------------
  private def writeStr(out: DataOutputStream, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    out.writeShort(b.length)
    out.write(b)
  }
  private def readStr(in: DataInputStream): String = {
    val len = in.readUnsignedShort()
    val b = new Array[Byte](len)
    in.readFully(b)
    new String(b, "UTF-8")
  }

  // ---- metadata tree ----------------------------------------------------
  /** The metadata of a session whose event types all sit in one package,
    * `sqlserver`, like most real XE sessions'; returns the event ids, the
    * type names numbered in sorted order. */
  def writeMetadata(out: DataOutputStream, meta: SessionMeta): Map[String, Int] = {
    val eventIds = meta.events.map(_.name).sorted.zipWithIndex.toMap
    out.write(Magic)
    out.writeShort(Version)
    out.writeShort(1)
    writeStr(out, "sqlserver")
    out.writeShort(meta.events.size)
    meta.events.foreach { e =>
      out.writeShort(eventIds(e.name))
      out.writeShort(0)
      writeStr(out, e.name)
      out.writeShort(e.fields.size)
      e.fields.foreach { f =>
        writeStr(out, f.name); writeStr(out, f.clrType)
        // MapValue fields carry their key→display table IN the metadata
        // (XE's dm_xe_map_values): records then store a 2-byte key where
        // strings would repeat the display text per row
        if (f.isMapValue) {
          out.writeShort(f.mapValues.size)
          f.mapValues.foreach { case (k, d) => out.writeShort(k); writeStr(out, d) }
        }
      }
    }
    out.writeShort(meta.actions.size)
    meta.actions.foreach { a => writeStr(out, a.name); writeStr(out, a.clrType) }
    eventIds
  }

  /** The decoded metadata tree plus the id→event dispatch table. */
  final case class NativeMeta(packages: Seq[String], meta: SessionMeta,
                              eventsById: Map[Int, EventMeta])

  def readMetadata(in: DataInputStream): NativeMeta = {
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(magic.sameElements(Magic), "not an XELN file (bad magic)")
    val v = in.readUnsignedShort()
    require(v == Version, s"unsupported XELN version $v")
    val packages = Seq.fill(in.readUnsignedShort())(readStr(in))
    val events = Seq.fill(in.readUnsignedShort()) {
      val id = in.readUnsignedShort()
      val pkgIdx = in.readUnsignedShort()
      require(pkgIdx < packages.size, s"event package index $pkgIdx out of range")
      val name = readStr(in)
      val fields = Seq.fill(in.readUnsignedShort()) {
        val fname = readStr(in)
        val clr = readStr(in)
        val maps =
          if (clr == EventSchema.MapValueClr)
            Seq.fill(in.readUnsignedShort())((in.readUnsignedShort(), readStr(in)))
          else Nil
        FieldMeta(fname, clr, maps)
      }
      id -> EventMeta(name, fields)
    }
    val actions = Seq.fill(in.readUnsignedShort())(FieldMeta(readStr(in), readStr(in)))
    NativeMeta(packages, SessionMeta(events.map(_._2), actions), events.toMap)
  }

  // ---- union schema (what the DSv2 table exposes) -----------------------
  /** The scan schema: `event_name`, the two record-header columns, the
    * name-keyed UNION of every event type's `c_` fields (first-seen order;
    * a name reused at a different CLR type is session-metadata corruption
    * and fails fast) and the shared `a_` actions. Rows of one event type
    * leave other types' field slots null — the read-side shape P1 demuxes. */
  def unionSchema(meta: SessionMeta): StructType = {
    val head = Seq(
      StructField("event_name", StringType, nullable = false),
      StructField("c_event_sequence", LongType, nullable = true),
      StructField("e_time_of_event_utc", TimestampType, nullable = true))
    val fields = scala.collection.mutable.LinkedHashMap[String, StructField]()
    meta.events.foreach(_.fields.foreach { f =>
      val name = graft.xel.XelFunctions.fieldCol(f.name)
      val dt = EventSchema.sparkType(f.clrType)
      fields.get(name.toLowerCase(java.util.Locale.ROOT)) match {
        case None =>
          fields(name.toLowerCase(java.util.Locale.ROOT)) =
            StructField(name, dt, nullable = true)
        case Some(prev) if prev.dataType != dt =>
          throw new IllegalArgumentException(
            s"field ${f.name} maps to both ${prev.dataType} and $dt across event types")
        case _ =>
      }
    })
    val actions = meta.actions
      .filterNot(a => graft.xel.XelFunctions.droppedActions.contains(a.name))
      .map(a => StructField(graft.xel.XelFunctions.actionCol(a.name),
        EventSchema.sparkType(a.clrType), nullable = true))
    StructType(head ++ fields.values ++ actions)
  }
}
