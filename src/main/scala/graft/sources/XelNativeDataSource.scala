package graft.sources

import java.io.{BufferedInputStream, DataInputStream}
import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * DataSource V2 for XELN session containers — the .xel-shaped ingest path
 * (SURVEY.md §2.1 S1). Where the XELB source reads homogeneous rollover
 * files, this one does what the reference's event loop actually does
 * (`XELoader/FileProcessor.cs:224-227` → `EventHolder.ProcessEvent`):
 *
 *  - metadata tree read ONCE, from the first file, on the driver — the
 *    metadata-lock init (X2, `FileProcessor.cs:206-215`); data files are
 *    assumed to share the session's metadata, as the reference assumes;
 *  - per-record dynamic dispatch on the event id (P1's input side): one
 *    file interleaves every event type; rows surface in the UNION schema
 *    with `event_name` as the demux key;
 *  - dropped actions (P4) are skipped on the wire, never allocated;
 *  - chunk-fenced error tolerance: a corrupt value keeps the partial row
 *    (E2), costs one budgeted error (E1) and fences the rest of the chunk
 *    (E3) — the next chunk's length prefix resynchronizes the stream.
 *
 * `spark.read.format("xelnative").load(dir)`, option `errorBudget`.
 */
class XelNativeDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xelnative"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = XelNativeDataSource.listFiles(options.get("path"))
    require(files.nonEmpty, "no .xeln files found")
    // X2: the FIRST file's metadata tree defines the session schema
    XelNativeFormat.unionSchema(XelNativeDataSource.metadataOf(files.head).meta)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    val budget = properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("errorBudget") => v.toInt
    }.getOrElse(100)
    new XelNativeTable(schema, XelNativeDataSource.listFiles(properties.get("path")), budget)
  }
}

object XelNativeDataSource {
  def listFiles(path: String): Seq[String] = {
    require(path != null, "xelnative source requires a path")
    val p = new Path(path)
    val fs = p.getFileSystem(XelbDataSource.hadoopConf)
    val stats =
      try {
        if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
        else Seq(fs.getFileStatus(p))
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    stats.filter(s => s.isFile && s.getPath.getName.endsWith(".xeln"))
      .map(_.getPath.toString).sorted
  }

  def metadataOf(file: String): XelNativeFormat.NativeMeta = {
    val p = new Path(file)
    val in = new DataInputStream(new BufferedInputStream(
      p.getFileSystem(XelbDataSource.hadoopConf).open(p)))
    try XelNativeFormat.readMetadata(in) finally in.close()
  }
}

class XelNativeTable(schema: StructType, files: Seq[String], errorBudget: Int)
    extends Table with SupportsRead {
  override def name(): String = s"xelnative(${files.size} files)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XelNativeScanBuilder(schema, files, errorBudget)
}

class XelNativeScanBuilder(unionSchema: StructType, files: Seq[String], errorBudget: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = unionSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(unionSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new XelNativeScan(required, files, errorBudget)
}

class XelNativeScan(required: StructType, files: Seq[String], errorBudget: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"XelNativeScan[${required.fieldNames.mkString(",")}] over ${files.size} files"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => XelbInputPartition(Seq(f)): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new XelNativeReaderFactory(required, errorBudget)
}

class XelNativeReaderFactory(required: StructType, errorBudget: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FileSequenceReader(partition.asInstanceOf[XelbInputPartition].files,
      new XelNativePartitionReader(_, required, errorBudget))
}

/** Streams one XELN file: chunk framing outside, per-record event-id
  * dispatch inside. All dispatch tables are precomputed per event type at
  * open — the record loop is array lookups only. */
class XelNativePartitionReader(file: String, required: StructType, errorBudget: Int)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.unsafe.types.UTF8String

  private val in: DataInputStream = {
    val p = new Path(file)
    new DataInputStream(new BufferedInputStream(
      p.getFileSystem(XelbDataSource.hadoopConf).open(p), 4 * 1024 * 1024))
  }
  private val nm = XelNativeFormat.readMetadata(in)

  private def slot(name: String): Int =
    required.fieldNames.indexWhere(_.equalsIgnoreCase(name))
  private val eventNameSlot = slot("event_name")
  private val seqSlot = slot("c_event_sequence")
  private val tsSlot = slot("e_time_of_event_utc")

  /** Per event id: cached name, and (type, outSlot, mapTable) per field in
    * wire order; outSlot −1 = skip (pruned, or P4-dropped action);
    * mapTable non-null = F7 MapValue field — the wire holds a 2-byte map
    * key resolved to its display string through the metadata table (the
    * SDK's `MapValue.ToString()`, `EventHolder.cs:137-141`); a key absent
    * from the table surfaces as its decimal text, the lossless fallback
    * for stale metadata. */
  private case class Dispatch(name: UTF8String,
                              fields: Array[(DataType, Int, Map[Int, UTF8String])])
  private val actionCols: Array[(DataType, Int)] = nm.meta.actions.map { a =>
    (graft.xel.EventSchema.sparkType(a.clrType),
      slot(graft.xel.XelFunctions.actionCol(a.name)))
  }.toArray
  private val dispatch: Map[Int, Dispatch] = nm.eventsById.map { case (id, e) =>
    id -> Dispatch(
      UTF8String.fromString(e.name),
      e.fields.map { f =>
        (graft.xel.EventSchema.sparkType(f.clrType),
          slot(graft.xel.XelFunctions.fieldCol(f.name)),
          if (f.isMapValue)
            f.mapValues.map { case (k, d) => k -> UTF8String.fromString(d) }.toMap
          else null)
      }.toArray)
  }

  private var chunkIn: DataInputStream = _
  private var chunkBound: Int = 0
  private var current: InternalRow = _
  private var errors = 0

  private def charge(msg: String): Unit = {
    errors += 1
    if (errors > errorBudget)
      throw new IllegalStateException(
        s"$file: $errors corrupt records exceeds error budget $errorBudget ($msg)")
  }

  override def next(): Boolean = {
    while (true) {
      if (chunkIn != null && chunkIn.available() > 0) {
        val out = new Array[Any](required.length)
        var errored = false
        var haveRow = false
        try {
          val eventId = chunkIn.readUnsignedShort()
          val d = dispatch.getOrElse(eventId,
            throw new java.io.IOException(s"unknown event id $eventId"))
          val seq = chunkIn.readLong()
          val ts = chunkIn.readLong()
          if (eventNameSlot >= 0) out(eventNameSlot) = d.name
          if (seqSlot >= 0) out(seqSlot) = seq
          if (tsSlot >= 0) out(tsSlot) = ts
          haveRow = true // header decoded — E2 keeps the row from here on
          var i = 0
          while (i < d.fields.length) {
            val (dt, at, mapTable) = d.fields(i)
            if (chunkIn.readByte() != 1) {
              if (mapTable != null) {
                val key = chunkIn.readUnsignedShort() // fixed 2 bytes even when pruned
                if (at >= 0)
                  out(at) = mapTable.getOrElse(key, UTF8String.fromString(key.toString))
              } else {
                val v = XelNativeFormat.readValue(chunkIn, dt, at >= 0, chunkBound)
                if (at >= 0) out(at) = v
              }
            }
            i += 1
          }
          var j = 0
          while (j < actionCols.length) {
            val (dt, at) = actionCols(j)
            if (chunkIn.readByte() != 1) {
              val v = XelNativeFormat.readValue(chunkIn, dt, at >= 0, chunkBound)
              if (at >= 0) out(at) = v
            }
            j += 1
          }
        } catch {
          case _: Exception => errored = true
        }
        if (errored) {
          // E1 + E3: one budgeted error; records have no own length prefix,
          // so the rest of this chunk cannot be resynchronized — fence it.
          charge("corrupt record body")
          chunkIn = null
          if (haveRow) { current = new GenericInternalRow(out); return true } // E2
        } else {
          current = new GenericInternalRow(out)
          return true
        }
      } else {
        val chunk =
          try XelNativeFormat.readChunk(in)
          catch {
            case e: XelNativeFormat.ChunkTruncated =>
              charge(e.getMessage)
              return false // tail unreadable past a broken chunk length
          }
        if (chunk == null) return false
        chunkBound = chunk.length
        chunkIn = new DataInputStream(new java.io.ByteArrayInputStream(chunk))
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
