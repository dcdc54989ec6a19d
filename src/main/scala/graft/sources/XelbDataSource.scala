package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.util
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * The XELB event-file format on the shared [[EventFileSource]] read path
 * (SURVEY.md §2.1 S1/S2 — the pluggable ingest slot behind the
 * `EventSource` seam; §7.1 "a later real .xel DataSource V2"), plus the
 * two things only `xelb` has: a micro-batch stream and a write path.
 *
 *  - schema: the name-keyed union of every file's embedded header (D6
 *    schema evolution — sessions add fields across rollovers), or a
 *    sidecar's header for body-only files (S2, option `metadataPath`);
 *  - decoder: each file is checked against its own header (by name; a
 *    shared name at another type is drift and fails the file), and column
 *    pruning reaches the byte decoder: unrequested columns are
 *    length-skipped, never allocated.
 *
 * Register by short name: `spark.read.format("xelb").load(dir)`.
 */
class XelbDataSource extends EventFileSource {
  override def shortName(): String = "xelb"
  override def extension: String = ".xelb"

  override def schemaOf(files: Seq[FileStatus], options: CaseInsensitiveStringMap): StructType = {
    // S2 sidecar metadata (`XELoader/FileProcessor.cs:280-334`): an
    // external header file supplies the schema for body-only event files
    val external = sidecar(options)
    // D6: the union of every file's header is the read-side analogue of
    // EnsureTableSchemaMatches. Headers are a few hundred bytes; reading
    // all of them stays a driver-side triviality.
    val fileSchemas = files.flatMap(f =>
      EventFileSource.readFile(f.getPath.toString)(XelbFormat.readHeaderOpt))
    require(fileSchemas.size == files.size || external.isDefined,
      "directory contains body-only XELB files — supply option(\"metadataPath\", ...)")
    XelbFormat.mergeSchemas(external.toSeq ++ fileSchemas)
  }

  // resolved driver-side once; readers get the StructType, not the path
  override def decoder(options: CaseInsensitiveStringMap): FileDecoder =
    XelbDecoder(sidecar(options))

  private def sidecar(options: CaseInsensitiveStringMap): Option[StructType] =
    Option(options.get("metadataPath")).map(EventFileSource.readFile(_)(XelbFormat.readHeader))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new XelbTable(this, schema, new CaseInsensitiveStringMap(properties))
}

/** One .xelb file: its header (or the sidecar's), then length-prefixed
  * record frames. A corrupt record BODY keeps the fields decoded before
  * the failure (E2, `XELoader/EventHolder.cs:99-271`) and costs one
  * budgeted error (E1); a corrupt frame length ends the file after one
  * budgeted error. */
case class XelbDecoder(external: Option[StructType]) extends FileDecoder {
  override def open(file: String, in: DataInputStream, required: StructType,
                    budget: ErrorBudget): Iterator[InternalRow] = {
    val header = XelbFormat.readHeaderOpt(in).orElse(external).getOrElse(
      throw new IllegalArgumentException(
        s"$file is body-only and no metadataPath was supplied"))
    // D6: columns are matched by NAME (case-insensitively, matching
    // Spark's default resolution) against this file's own header; a
    // shared name at a different type is real drift and fails fast.
    header.fields.foreach { f =>
      required.fields.find(_.name.equalsIgnoreCase(f.name)).foreach { r =>
        require(r.dataType == f.dataType,
          s"schema drift in $file: ${f.name} is ${f.dataType}, table has ${r.dataType}")
      }
    }
    // file column index → output slot (or -1): pruning + evolution in one
    // map; output columns this file predates keep their slots null
    val outPos = header.fieldNames.map(n => required.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
    def frame(): Array[Byte] =
      try XelbFormat.readFrame(in)
      catch {
        // framing lost — no resync is possible past a bad length
        case e: XelbFormat.FrameTruncated => budget.charge(e.getMessage); null
      }
    Iterator.continually(frame()).takeWhile(_ != null).map { bytes =>
      val (row, errored) =
        XelbFormat.decodeRecordTolerant(bytes, header, outPos, required.length)
      if (errored) budget.charge("corrupt record body")
      row
    }
  }
}

/** One .xelb file: its header, then one record frame per row. */
object XelbEncoder extends FileEncoder {
  override def extension: String = ".xelb"

  override def validate(schema: StructType): Unit =
    require(schema.fields.forall(f => XelbFormat.supported(f.dataType)),
      s"unsupported column types in ${schema.toDDL}")

  override def open(out: DataOutputStream, schema: StructType): EncodedFile = {
    XelbFormat.writeHeader(out, schema)
    row => XelbFormat.writeRecord(out, row, schema)
  }
}

/** The shared table, plus the stream (MICRO_BATCH_READ) and the write path. */
class XelbTable(source: XelbDataSource, schema: StructType, options: CaseInsensitiveStringMap)
    extends EventFileTable(source, schema, options) with SupportsWrite {
  private def path(what: String): String = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException(s"xelb $what requires a path"))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE)

  override def scan(required: StructType): Scan =
    new EventFileScan(format, files, required, readerFactory(required)) {
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new XelbMicroBatchStream(path("streaming"), readerFactory(required), checkpointLocation)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new XelbBatchWrite(path("write"), info.schema())
    }
  }
}

/** Stream offset = how many files this stream has ADMITTED, in admission
  * order (the streaming twin of the reference's "process files as they
  * roll over" loop, `FileProcessor.cs:351`). */
case class XelbOffset(fileCount: Int) extends Offset {
  override def json(): String = fileCount.toString
}

/** One file per micro-batch task, read by the shared `readers`. */
class XelbMicroBatchStream(path: String, readers: PartitionReaderFactory,
                           checkpointLocation: String = "") extends MicroBatchStream {

  /** Admission log: new directory listings are appended in sorted order,
    * but files already admitted keep their positions FOREVER — so an
    * offset range always maps to the same file set even when later
    * arrivals sort lexically between (or before) admitted names, e.g.
    * `_10` arriving after `_2` with non-padded rollover numbers. The log
    * is PERSISTED under the stream's checkpoint location (temp-file +
    * rename), so a restart replays the exact admission order instead of
    * rebuilding from a fresh sorted listing that late arrivals may have
    * reshuffled. */
  private val admitted = scala.collection.mutable.LinkedHashSet[String]()

  private def logPath: Option[Path] =
    if (checkpointLocation.isEmpty) None
    else Some(new Path(checkpointLocation, "xelb-admitted.log"))

  // recover the admission order from a prior run; if only the temp file
  // survived a crash mid-swap, it holds a complete, newer log — use it
  logPath.foreach { lp =>
    val fs = lp.getFileSystem(EventFileSource.hadoopConf)
    val tmp = new Path(lp.getParent, lp.getName + ".tmp")
    val src = if (fs.exists(lp)) Some(lp)
              else if (fs.exists(tmp)) Some(tmp)
              else None
    src.foreach { p =>
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).foreach(admitted += _)
      finally in.close()
    }
  }

  private def persistLog(): Unit = logPath.foreach { lp =>
    val tmp = new Path(lp.getParent, lp.getName + ".tmp")
    val out = EventFileSource.create(tmp.toString)
    try out.write(admitted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // the rename moves only the temp file's (absent) sidecar: one an
    // older checksummed log left would fail the next recovery read
    EventFileSource.dropSidecar(lp)
    // single-op overwriting rename — no delete-then-rename window in which
    // a driver crash could lose the log entirely (the exact remap hazard
    // the admission log exists to prevent); throws loudly on failure
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(lp.toUri, EventFileSource.hadoopConf)
    fc.rename(tmp, lp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def admitNew(): Unit = {
    val before = admitted.size
    EventFileSource.list(".xelb", Seq(path)).foreach(admitted += _.getPath.toString)
    if (admitted.size != before) persistLog()
  }

  override def initialOffset(): Offset = XelbOffset(0)

  override def latestOffset(): Offset = {
    admitNew()
    XelbOffset(admitted.size)
  }

  override def deserializeOffset(json: String): Offset = XelbOffset(json.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[XelbOffset].fileCount
    val e = end.asInstanceOf[XelbOffset].fileCount
    if (admitted.size < e) admitNew()
    admitted.iterator.slice(s, e)
      .map(f => EventFilesPartition(Seq(f)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = readers

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

// ---- DSv2 write path -------------------------------------------------

case class XelbCommitMessage(tmp: String, dest: String) extends WriterCommitMessage

/** Batch write: one .xelb rollover file per non-empty partition — the
  * write-side twin of the file-per-partition read (X1 both directions).
  * Files are created lazily on the first row, so empty partitions leave
  * nothing behind. Task output is invisible until job commit: writers
  * emit `*.xelb.inprogress` (the reader's `.xelb` suffix filter never
  * lists them); commit renames the survivors, abort deletes them — so a
  * crashed or speculatively-retried task can never leave a half-written
  * file that a later scan absorbs. */
class XelbBatchWrite(dir: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    XelbWriterFactory(dir, schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case XelbCommitMessage(tmp, dest) if tmp.nonEmpty =>
        val t = new Path(tmp)
        val fs = t.getFileSystem(EventFileSource.hadoopConf)
        fs.delete(new Path(dest), false)
        // FileSystem.rename reports failure by RETURNING false, not
        // throwing — ignoring it would let commit() succeed while this
        // partition's file never appears (silent data loss; the
        // streaming log below uses FileContext.rename for the same
        // reason)
        if (!fs.rename(t, new Path(dest)))
          throw new java.io.IOException(
            s"xelb commit: rename $tmp -> $dest failed; partition output would be lost")
      case _ =>
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case XelbCommitMessage(tmp, _) if tmp.nonEmpty =>
        val t = new Path(tmp)
        t.getFileSystem(EventFileSource.hadoopConf).delete(t, false)
      case _ =>
    }
}

case class XelbWriterFactory(dir: String, schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new XelbDataWriter(f"$dir/part-$partitionId%05d-$taskId.xelb", schema)
}

class XelbDataWriter(file: String, schema: StructType) extends DataWriter[InternalRow] {
  private var out: DataOutputStream = _
  private var rows: EncodedFile = _
  private val tmp = new Path(file + ".inprogress") // not listed by readers
  private val dest = new Path(file)

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      out = EventFileSource.create(tmp.toString)
      rows = XelbEncoder.open(out, schema)
    }
    rows.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (out == null) return XelbCommitMessage("", "") // empty partition
    rows.finish()
    out.close()
    XelbCommitMessage(tmp.toString, dest.toString)
  }

  override def abort(): Unit = {
    if (out != null) {
      out.close()
      tmp.getFileSystem(EventFileSource.hadoopConf).delete(tmp, false)
    }
  }

  override def close(): Unit = ()
}
