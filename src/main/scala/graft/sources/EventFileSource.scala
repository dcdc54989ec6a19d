package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * The DataSource V2 read path shared by the event-file formats (`xelb`,
 * `xelnative`, `xexml`) — the reference's one per-file loop
 * (`XELoader/FileProcessor.cs:113-129`), written once:
 *
 *  - listing: `load(p)`, `load(p1, p2, …)` and glob paths, the files with
 *    the format's extension, deduplicated, in name order (rollover order);
 *  - option `errorBudget` (default 100): corrupt records tolerated per
 *    file before the file fails (E1, `InputParameters.cs:49`);
 *  - one scan: column pruning keeps file field order and reaches the
 *    decoder; files are packed into read tasks by Spark's file-source rule
 *    (`bridge.packFiles`), the reference's bounded worker pool draining
 *    files one after another (X1);
 *  - per file, inside a task: `input_file_name()`, one buffered stream of
 *    at most 4 MB, no larger than the listed file (closed when the
 *    decoder's open throws), and one [[ErrorBudget]].
 *
 * A format supplies its extension, its schema inference and its
 * [[FileDecoder]].
 */
abstract class EventFileSource extends TableProvider with DataSourceRegister {

  /** The file name suffix this format lists, e.g. `.xelb`. */
  def extension: String

  /** The table schema, read on the driver from the listed files (at least
    * one) and the load options. */
  def schemaOf(files: Seq[FileStatus], options: CaseInsensitiveStringMap): StructType

  /** The decoder of one opened file, built once per load on the driver and
    * shipped with the read tasks. */
  def decoder(options: CaseInsensitiveStringMap): FileDecoder

  /** A user-supplied schema skips inference (readStream needs one up front). */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = EventFileSource.list(extension, options)
    require(files.nonEmpty, s"no $extension files found")
    schemaOf(files, options)
  }

  // getTable receives the case-SENSITIVE option map — normalize keys
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new EventFileTable(this, schema, new CaseInsensitiveStringMap(properties))
}

object EventFileSource {

  /** One instance of each `graft.sources` format that
    * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`
    * registers, in the services file's order. */
  lazy val registered: Seq[EventFileSource] = {
    import scala.jdk.CollectionConverters._
    val loader = getClass.getClassLoader
    loader.getResources("META-INF/services/" + classOf[DataSourceRegister].getName)
      .asScala.toSeq.flatMap { url =>
        val src = scala.io.Source.fromURL(url, "UTF-8")
        try src.getLines().map(_.trim).filter(_.startsWith("graft.sources.")).toList
        finally src.close()
      }.map(cls => Class.forName(cls, true, loader).getDeclaredConstructor().newInstance())
      .collect { case s: EventFileSource => s }
  }

  /** The Hadoop configuration of every file-system call of the event-file
    * sources (listing, header reads, record readers, the `xelb` stream's
    * admission log, every file written): a fresh `new Configuration()` parses
    * the default resources again, about 8 ms each, and a load makes several
    * such calls per rollover file. Read-only, so threads can share it. */
  private[sources] lazy val hadoopConf = new Configuration()

  /** `load(p1, p2, …)` arrives as a Jackson-serialized array under the
    * `paths` option while `load(p)` uses `path` — accept both, exactly as
    * the builtin file sources do (a rollover-set reader must take an
    * explicit file list: the reference's directory mode filters discovery
    * by session pattern BEFORE handing files to the loader,
    * `FileProcessor.cs:94-117`). */
  def list(extension: String, options: CaseInsensitiveStringMap): Seq[FileStatus] = {
    val multi = Option(options.get("paths")).map { js =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(js, classOf[Array[String]]).toSeq
    }.getOrElse(Seq.empty)
    val paths = multi ++ Option(options.get("path"))
    require(paths.nonEmpty, "event-file sources require a path")
    list(extension, paths)
  }

  /** Every file ending in `extension` under `paths` (directories, files or
    * glob patterns), deduplicated and in name order. */
  def list(extension: String, paths: Seq[String]): Seq[FileStatus] =
    paths.flatMap { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(hadoopConf)
      // glob patterns must be expanded FIRST — getFileStatus throws
      // FileNotFoundException on a pattern path
      val isGlob = path.exists("*?[{".contains(_))
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
    }.filter(s => s.isFile && s.getPath.getName.endsWith(extension))
      .distinctBy(_.getPath.toString).sortBy(_.getPath.toString)

  /** The `errorBudget` option: a non-negative integer, 100 when absent. */
  def errorBudget(options: CaseInsensitiveStringMap): Int = {
    val v = options.getOrDefault("errorBudget", "100")
    v.toIntOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
      s"option errorBudget must be a non-negative integer, got '$v'"))
  }

  private val maxBufferBytes = 4 * 1024 * 1024

  /** The read buffer of a file of `length` bytes, when the listing gave
    * it: at most 4 MB, and no larger than the file, since rollover files
    * are often far smaller. */
  def bufferBytes(length: Option[Long]): Int =
    length.fold(maxBufferBytes)(n => math.max(1L, math.min(n, maxBufferBytes.toLong)).toInt)

  def open(file: String, bufferBytes: Int): DataInputStream = {
    val p = new Path(file)
    new DataInputStream(new BufferedInputStream(p.getFileSystem(hadoopConf).open(p), bufferBytes))
  }

  /** Reads a driver-side prefix of `file` (a header, a metadata block). */
  def readFile[A](file: String, bufferBytes: Int = 8192)(read: DataInputStream => A): A = {
    val in = open(file, bufferBytes)
    try read(in) finally in.close()
  }

  /** `file` (over)written through the raw layer of its Hadoop file system,
    * so no write leaves a `.crc` sidecar. */
  def create(file: String): DataOutputStream = {
    val p = new Path(file)
    new DataOutputStream(new BufferedOutputStream(dropSidecar(p).create(p, true)))
  }

  /** Deletes the `.crc` sidecar an earlier checksummed write left beside
    * `p` — it would fail the read of bytes written or renamed to `p`
    * without one — and returns the raw layer of `p`'s file system. */
  private[sources] def dropSidecar(p: Path): FileSystem = p.getFileSystem(hadoopConf) match {
    case c: ChecksumFileSystem =>
      c.getRawFileSystem.delete(c.getChecksumFile(p), false)
      c.getRawFileSystem
    case other => other
  }
}

/** The write-side twin of [[FileDecoder]]: one format's bytes for one file
  * of rows; naming, order and the file open belong to [[RolloverSet]]. */
trait FileEncoder extends Serializable {

  /** The file name suffix this format writes, e.g. `.xelb`. */
  def extension: String

  /** Refuses, before any file IO, a `schema` this format cannot write. */
  def validate(schema: StructType): Unit = ()

  /** Writes the file's own prefix (a header, a metadata block, a prolog) to
    * `out` and returns the writer of its rows of `schema`. */
  def open(out: DataOutputStream, schema: StructType): EncodedFile
}

/** The rows of one file being written; `finish` writes the file's tail (a
  * last chunk, a closing tag), and the caller closes the stream. */
trait EncodedFile {
  def write(row: InternalRow): Unit
  def finish(): Unit = ()
}

/** Event files in the reference's rollover-set shape,
  * `SessionName_PartitionID_TimeStampInfo.xel` (`FileProcessor.cs:351`),
  * through a format's [[FileEncoder]]: inputs for the read path (the
  * committed production write is `df.write.format("xelb")`). A file is
  * `<dir>/<session>_<key>_0<extension>`; an integer key is zero-padded to
  * 9 digits, so name order (the read order) is key order, and a negative
  * key, which no padding sorts, is refused. Every file opens through
  * [[EventFileSource.create]]. */
object RolloverSet {

  /** Hard ceiling on the rows `writeByKey` will `collect()`: a caller's
    * missing slice must fail here, loudly, before any file IO, instead of
    * turning the collect into a driver OOM. */
  private[graft] val MaxFixtureRows = 100000L

  /** One file per distinct value of `keyCol`, which the files leave out,
    * rows in input order, collected to the driver; returns the files in
    * name order. */
  def writeByKey(encoder: FileEncoder, df: DataFrame, keyCol: String, dir: String,
                 sessionName: String = "GraftSession"): Seq[String] = {
    val keyIdx = df.schema.fieldIndex(keyCol)
    val types = df.schema.map(_.dataType)
    val schema = StructType(df.schema.fields.patch(keyIdx, Nil, 1))
    encoder.validate(schema)
    // limit+1 bounds the guard's own cost: the count job stops scanning
    // at the ceiling instead of counting an unexpectedly-huge frame
    val n = df.limit(MaxFixtureRows.toInt + 1).count()
    require(n <= MaxFixtureRows,
      s"RolloverSet.writeByKey collects to the driver by design and refuses > " +
        s"$MaxFixtureRows rows (got at least $n) — slice the input, or use " +
        "RolloverSet.writeDistributed for large fixtures")
    val qe = df.queryExecution
    val rows =
      SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    val files = rows.groupBy(_.get(keyIdx, types(keyIdx))).toSeq
      .map { case (key, rs) => fileName(dir, sessionName, key, encoder) -> rs }.sortBy(_._1)
    files.foreach { case (file, rs) =>
      write(file, encoder, schema,
        rs.iterator.map(r => InternalRow.fromSeq(r.toSeq(types).patch(keyIdx, Nil, 1))))
    }
    files.map(_._1)
  }

  /** One file per non-empty partition of `df`, keyed by partition id and
    * written by the executor that holds its rows: repartition by the
    * rollover key first for one file per key. The target directory must
    * be pre-wiped. */
  def writeDistributed(encoder: FileEncoder, df: DataFrame, dir: String,
                       sessionName: String = "GraftSession"): Unit = {
    val schema = df.schema
    encoder.validate(schema)
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foreachPartition"))(qe.toRdd.foreachPartition {
      rows => if (rows.hasNext)
        write(fileName(dir, sessionName, TaskContext.getPartitionId(), encoder), encoder, schema, rows)
    })
  }

  private def fileName(dir: String, session: String, key: Any, encoder: FileEncoder): String = {
    val token = key match {
      case n @ (_: Long | _: Int) =>
        val v = n.asInstanceOf[Number].longValue
        require(v >= 0, s"rollover keys must be non-negative (got $v): zero-padding " +
          "cannot make negative numbers sort lexically in numeric order")
        f"$v%09d"
      case other => other.toString
    }
    s"$dir/${session}_${token}_0${encoder.extension}"
  }

  private def write(file: String, encoder: FileEncoder, schema: StructType,
                    rows: Iterator[InternalRow]): Unit = {
    val out = EventFileSource.create(file)
    try {
      val encoded = encoder.open(out, schema)
      rows.foreach(encoded.write)
      encoded.finish()
    } finally out.close()
  }
}

/** One opened file's rows. */
trait FileDecoder extends Serializable {

  /** Reads the file's own prefix from `in` (a header or metadata block;
    * a throw fails the file, and the caller closes the stream) and returns
    * its rows pruned to `required`, charging corrupt records to `budget`. */
  def open(file: String, in: DataInputStream, required: StructType,
           budget: ErrorBudget): Iterator[InternalRow]
}

/** One file's count of corrupt records (E1, `XELoader/EventHolder.cs:76-96`):
  * past the `errorBudget` option the file fails, named in the message. */
final class ErrorBudget(file: String, limit: Int) {
  private var errors = 0

  def charge(msg: String): Unit = {
    errors += 1
    if (errors > limit)
      throw new IllegalStateException(
        s"$file: $errors corrupt records exceeds error budget $limit ($msg)")
  }
}

class EventFileTable(source: EventFileSource, schema: StructType,
                     options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  protected val files: Seq[FileStatus] = EventFileSource.list(source.extension, options)
  private val errorBudget = EventFileSource.errorBudget(options)
  private val decoder = source.decoder(options)

  override def name(): String = s"${source.shortName()}(${files.size} files)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = schema
      // keep file field order — the decoders walk columns in file order
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = StructType(schema.fields.filter(f =>
          requiredSchema.fieldNames.contains(f.name)))
      override def build(): Scan = scan(required)
    }

  /** The format's name in scan descriptions: `XelbDataSource` → `Xelb`. */
  protected val format: String = source.getClass.getSimpleName.stripSuffix("DataSource")

  /** The batch scan of the `required` columns. */
  def scan(required: StructType): Scan =
    new EventFileScan(format, files, required, readerFactory(required))

  def readerFactory(required: StructType): PartitionReaderFactory =
    EventFileReaderFactory(required, errorBudget, decoder)
}

class EventFileScan(format: String, files: Seq[FileStatus], required: StructType,
                    readers: PartitionReaderFactory) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${format}Scan[${required.fieldNames.mkString(",")}] over ${files.size} files"
  override def planInputPartitions(): Array[InputPartition] =
    bridge.packFiles(SparkSession.active, files)
      .map(t => EventFilesPartition(t.map(_._1), t.map(_._2)): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = readers
}

/** One read task: the files it reads, in order, and their lengths from the
  * listing (none where the planner has only paths: the `xelb` stream). */
case class EventFilesPartition(files: Seq[String], lengths: Seq[Long] = Nil)
    extends InputPartition

case class EventFileReaderFactory(required: StructType, errorBudget: Int, decoder: FileDecoder)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FileSequenceReader(partition.asInstanceOf[EventFilesPartition], this)
}

/** Reads a task's files one after another. The next file opens only after
  * the previous one is exhausted and closed, so a task holds at most one
  * file handle; `close` (which Spark also calls when the task fails) closes
  * the open one. */
class FileSequenceReader(partition: EventFilesPartition, factory: EventFileReaderFactory)
    extends PartitionReader[InternalRow] {
  private val pending = partition.files.iterator.zipWithIndex
  private var in: DataInputStream = _
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (!rows.hasNext) {
      close()
      if (!pending.hasNext) return false
      val (file, i) = pending.next()
      open(file, partition.lengths.lift(i))
    }
    current = rows.next()
    true
  }

  private def open(file: String, length: Option[Long]): Unit = {
    // expose the file to input_file_name() — the builtin file sources set
    // this holder per split; without it a custom DSv2 reader reports ""
    // and any per-file lineage collapses to one row
    bridge.setInputFile(file)
    in = EventFileSource.open(file, EventFileSource.bufferBytes(length))
    rows =
      try factory.decoder.open(file, in, factory.required,
        new ErrorBudget(file, factory.errorBudget))
      catch { case e: Throwable => close(); throw e }
  }

  override def get(): InternalRow = current
  override def close(): Unit =
    if (in != null) try in.close() finally { in = null; rows = Iterator.empty }
}
