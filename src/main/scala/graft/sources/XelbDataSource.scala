package graft.sources

import java.io.{BufferedInputStream, DataInputStream}
import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * DataSource V2 read path for XELB event files (SURVEY.md §2.1 S1/S2 —
 * the pluggable ingest slot behind the `EventSource` seam; §7.1 "a later
 * real .xel DataSource V2"). Architecture mirrors the reference loader:
 *
 *  - schema comes from the FIRST file's embedded metadata, once, on the
 *    driver — the analogue of the metadata-lock init
 *    (`XELoader/FileProcessor.cs:206-215`, X2);
 *  - one InputPartition per file — the reference's file-level fan-out
 *    (`FileProcessor.cs:113-129`, X1) becomes Spark task scheduling;
 *  - column pruning (SupportsPushDownRequiredColumns) reaches the byte
 *    decoder: unrequested columns are length-skipped, never allocated.
 *
 * Register by short name: `spark.read.format("xelb").load(dir)`.
 */
class XelbDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xelb"

  /** A user-supplied schema is accepted (readStream needs one up front);
    * per-file headers are still validated against it at read time. */
  override def supportsExternalMetadata(): Boolean = true

  private def listFiles(options: CaseInsensitiveStringMap): Seq[String] =
    XelbDataSource.pathsOf(options.get("path"), options.get("paths"))
      .flatMap(XelbDataSource.listXelbFiles).distinct.sorted

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // S2 sidecar metadata (`XELoader/FileProcessor.cs:280-334`): an
    // external header file supplies the schema for body-only event files
    val external = Option(options.get("metadataPath")).map(XelbDataSource.headerOf)
    val files = listFiles(options)
    require(files.nonEmpty, "no .xelb files found")
    // D6 schema evolution: sessions add fields across rollovers — the
    // table schema is the name-keyed union of every file's header (the
    // read-side analogue of EnsureTableSchemaMatches). Headers are a few
    // hundred bytes; reading all of them stays a driver-side triviality.
    val fileSchemas = files.flatMap(XelbDataSource.headerOfOpt)
    require(fileSchemas.size == files.size || external.isDefined,
      "directory contains body-only XELB files — supply option(\"metadataPath\", ...)")
    XelbFormat.mergeSchemas(external.toSeq ++ fileSchemas)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // E1 error tolerance (`XELoader/EventHolder.cs:76-96`,
    // `InputParameters.cs:49`): tolerate up to `errorBudget` corrupt
    // record bodies per file, then fail the file.
    // getTable receives the case-SENSITIVE option map — normalize keys
    import scala.jdk.CollectionConverters._
    val budget = properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("errorBudget") => v.toInt
    }.getOrElse(100)
    // resolved driver-side once; readers get the StructType, not the path
    val external = properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("metadataPath") => XelbDataSource.headerOf(v)
    }
    new XelbTable(schema,
      XelbDataSource.pathsOf(properties.get("path"), properties.get("paths"))
        .flatMap(XelbDataSource.listXelbFiles).distinct.sorted,
      budget,
      streamingPath = Option(properties.get("path")), external = external)
  }
}

object XelbDataSource {

  /** `load(p1, p2, …)` arrives as a Jackson-serialized array under the
    * `paths` option while `load(p)` uses `path` — accept both, exactly as
    * the builtin file sources do (a rollover-set reader must take an
    * explicit file list: the reference's directory mode filters discovery
    * by session pattern BEFORE handing files to the loader,
    * `FileProcessor.cs:94-117`). */
  def pathsOf(path: String, pathsJson: String): Seq[String] = {
    val multi = Option(pathsJson).map { js =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(js, classOf[Array[String]]).toSeq
    }.getOrElse(Seq.empty)
    val all = multi ++ Option(path).toSeq
    if (all.isEmpty) throw new IllegalArgumentException("xelb source requires a path")
    all
  }
  /** The Hadoop configuration of every per-file call (listing, header
    * reads, record readers): a fresh `new Configuration()` parses the
    * default resources again, about 8 ms each, and a load makes three
    * such calls per rollover file. Read-only, so threads can share it. */
  private[sources] lazy val hadoopConf = new Configuration()

  def listXelbFiles(path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    // glob patterns must be expanded FIRST — getFileStatus throws
    // FileNotFoundException on a pattern path
    val isGlob = path.exists("*?[{".contains(_))
    val stats =
      try {
        if (isGlob) Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
          .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
        else if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
        else Seq(fs.getFileStatus(p))
      } catch {
        // a not-yet-existing directory is a valid WRITE target (and an
        // empty stream source) — not an error
        case _: java.io.FileNotFoundException => Seq.empty
      }
    stats.filter(s => s.isFile && s.getPath.getName.endsWith(".xelb"))
      .map(_.getPath.toString).sorted
  }

  def headerOf(file: String): StructType = {
    val p = new Path(file)
    val in = new DataInputStream(new BufferedInputStream(
      p.getFileSystem(hadoopConf).open(p)))
    try XelbFormat.readHeader(in) finally in.close()
  }

  /** None for body-only (S2 legacy) files. */
  def headerOfOpt(file: String): Option[StructType] = {
    val p = new Path(file)
    val in = new DataInputStream(new BufferedInputStream(
      p.getFileSystem(hadoopConf).open(p)))
    try XelbFormat.readHeaderOpt(in) finally in.close()
  }
}

class XelbTable(schema: StructType, files: Seq[String], errorBudget: Int = 100,
                streamingPath: Option[String] = None,
                external: Option[StructType] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"xelb(${files.size} files)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XelbScanBuilder(schema, files, errorBudget,
      streamingPath.orElse(Option(options.get("path"))), external)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new XelbWriteBuilder(
      streamingPath.getOrElse(throw new IllegalArgumentException(
        "xelb write requires a path")), info.schema())
}

class XelbScanBuilder(fileSchema: StructType, files: Seq[String], errorBudget: Int,
                      streamingPath: Option[String] = None,
                      external: Option[StructType] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fileSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve file field order — the decoder walks columns in file order
    required = StructType(fileSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan =
    new XelbScan(fileSchema, required, files, errorBudget, streamingPath, external)
}

class XelbScan(fileSchema: StructType, required: StructType, files: Seq[String],
               errorBudget: Int, streamingPath: Option[String] = None,
               external: Option[StructType] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"XelbScan[${required.fieldNames.mkString(",")}] over ${files.size} files"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => XelbInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new XelbReaderFactory(fileSchema, required, errorBudget, external)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new XelbMicroBatchStream(fileSchema, required,
      streamingPath.getOrElse(throw new IllegalArgumentException(
        "xelb streaming requires a path")), errorBudget, checkpointLocation, external)
}

/** Stream offset = how many files this stream has ADMITTED, in admission
  * order (the streaming twin of the reference's "process files as they
  * roll over" loop, `FileProcessor.cs:351`). */
case class XelbOffset(fileCount: Int) extends Offset {
  override def json(): String = fileCount.toString
}

class XelbMicroBatchStream(fileSchema: StructType, required: StructType,
                           path: String, errorBudget: Int,
                           checkpointLocation: String = "",
                           external: Option[StructType] = None) extends MicroBatchStream {

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
    val fs = lp.getFileSystem(new Configuration())
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
    val conf = new Configuration()
    val fs = lp.getFileSystem(conf)
    val tmp = new Path(lp.getParent, lp.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(admitted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // single-op overwriting rename — no delete-then-rename window in which
    // a driver crash could lose the log entirely (the exact remap hazard
    // the admission log exists to prevent); throws loudly on failure
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(lp.toUri, conf)
    fc.rename(tmp, lp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def admitNew(): Unit = {
    val before = admitted.size
    XelbDataSource.listXelbFiles(path).foreach(admitted += _)
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
      .map(f => XelbInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new XelbReaderFactory(fileSchema, required, errorBudget, external)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class XelbInputPartition(file: String) extends InputPartition

class XelbReaderFactory(fileSchema: StructType, required: StructType, errorBudget: Int,
                        external: Option[StructType] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[XelbInputPartition].file
    new XelbPartitionReader(file, fileSchema, required, errorBudget, external)
  }
}

/** Streams one file's records; column pruning applied at decode time.
  * Corrupt record BODIES are skipped up to `errorBudget` per file (E1,
  * `XELoader/EventHolder.cs:76-96`) — the length-prefixed framing keeps
  * later records reachable; exceeding the budget fails the file. */
class XelbPartitionReader(file: String, fileSchema: StructType, required: StructType,
                          errorBudget: Int, external: Option[StructType] = None)
    extends PartitionReader[InternalRow] {

  // expose the file to input_file_name()/input_file_block_*() — the
  // builtin file sources set this holder per task; without it a custom
  // DSv2 reader reports "" and any per-file lineage collapses to one row
  org.apache.spark.sql.graft.bridge.setInputFile(file)

  private var header: StructType = _
  private val in: DataInputStream = {
    val p = new Path(file)
    val s = new DataInputStream(new BufferedInputStream(
      p.getFileSystem(XelbDataSource.hadoopConf).open(p), 4 * 1024 * 1024))
    try {
      // S2: a body-only legacy file decodes with the sidecar's schema
      header = XelbFormat.readHeaderOpt(s).orElse(external).getOrElse(
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
      s
    } catch {
      case e: Throwable => s.close(); throw e // don't leak the handle
    }
  }
  /** file column index → output slot (or -1): pruning + evolution in one map;
    * output columns this file predates keep their slots null. */
  private val outPos: Array[Int] =
    header.fieldNames.map(n => required.fieldNames.indexWhere(_.equalsIgnoreCase(n)))
  private var current: InternalRow = _
  private var errors = 0

  override def next(): Boolean = {
    while (true) {
      val frame =
        try XelbFormat.readFrame(in)
        catch {
          case e: XelbFormat.FrameTruncated =>
            // framing lost — the tail is unreadable; one budgeted error,
            // then the file ends (no resync possible past a bad length)
            errors += 1
            if (errors > errorBudget)
              throw new IllegalStateException(
                s"$file: $errors corrupt records exceeds error budget $errorBudget", e)
            return false
        }
      if (frame == null) return false
      // E2 per-field tolerance (`XELoader/EventHolder.cs:99-271`): a
      // corrupt column mid-record keeps the row with the fields that
      // decoded before the failure; the error still counts against the
      // per-file budget (E1 semantics unchanged).
      val (row, errored) =
        XelbFormat.decodeRecordTolerant(frame, header, outPos, required.length)
      if (errored) {
        errors += 1
        if (errors > errorBudget)
          throw new IllegalStateException(
            s"$file: $errors corrupt records exceeds error budget $errorBudget")
      }
      current = row
      return true
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

// ---- DSv2 write path -------------------------------------------------

/** Batch write: one .xelb rollover file per non-empty partition — the
  * write-side twin of the file-per-partition read (X1 both directions).
  * Files are created lazily on the first row, so empty partitions leave
  * nothing behind; abort deletes the partial file. */
class XelbWriteBuilder(dir: String, schema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new XelbBatchWrite(dir, schema)
    }
}

/** Task output is invisible until job commit: writers emit
  * `*.xelb.inprogress` (the reader's `.xelb` suffix filter never lists
  * them); commit renames the survivors, abort deletes them — so a crashed
  * or speculatively-retried task can never leave a half-written file
  * that a later scan absorbs. */
case class XelbCommitMessage(tmp: String, dest: String)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

class XelbBatchWrite(dir: String, schema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    XelbWriterFactory(dir, schema.toDDL)

  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.foreach {
      case XelbCommitMessage(tmp, dest) if tmp.nonEmpty =>
        val t = new Path(tmp)
        val fs = t.getFileSystem(new Configuration())
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

  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.foreach {
      case XelbCommitMessage(tmp, _) if tmp.nonEmpty =>
        val t = new Path(tmp)
        t.getFileSystem(new Configuration()).delete(t, false)
      case _ =>
    }
}

case class XelbWriterFactory(dir: String, schemaDdl: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new XelbDataWriter(
      f"$dir/part-$partitionId%05d-$taskId.xelb",
      StructType.fromDDL(schemaDdl), partitionId)
}

class XelbDataWriter(file: String, schema: StructType, partitionId: Int)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import java.io.DataOutputStream

  private var out: DataOutputStream = _
  private val tmp = new Path(file + ".inprogress") // not listed by readers
  private val dest = new Path(file)

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      out = new DataOutputStream(new java.io.BufferedOutputStream(
        tmp.getFileSystem(new Configuration()).create(tmp, true)))
      XelbFormat.writeHeader(out, schema)
    }
    XelbFormat.writeInternalRecord(out, row, schema)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (out == null) return XelbCommitMessage("", "") // empty partition
    out.close()
    XelbCommitMessage(tmp.toString, dest.toString)
  }

  override def abort(): Unit = {
    if (out != null) {
      out.close()
      tmp.getFileSystem(new Configuration()).delete(tmp, false)
    }
  }

  override def close(): Unit = ()
}
