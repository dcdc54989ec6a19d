package graft.sources

import java.io.BufferedInputStream
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
import org.apache.spark.unsafe.types.UTF8String

/**
 * DataSource V2 read path for XML event exports — the one PUBLIC ingest
 * format a real XE user can bring (`sys.fn_xe_file_target_read_file` /
 * SSMS event export; see [[XeXmlFormat]]). The reference reads the same
 * logical event tree through the proprietary SDK
 * (`XELoader/FileProcessor.cs:203`); this source shreds the XML export of
 * it into the reference's wide table shape (§1.2):
 *
 *   event_name | e_time_of_event_utc | c_<field>… | a_<action>…
 *
 * with the §1.3 type mapping driven by each element's `<type name=…/>`,
 * the P4 action drop-list and P5 null-field list applied at schema
 * synthesis, and P6 prefixing via [[graft.xel.XelFunctions]].
 *
 * Architecture matches the reference loader and the sibling sources:
 *  - schema from ONE driver-side structure pass over the first file (X2);
 *    XML exports carry no separate metadata block, so structure must come
 *    from the events themselves. For rollover sets that evolve mid-set,
 *    `option("inferFiles", "all")` unions every file's structure (D6);
 *    at scale, supply the schema explicitly (`.schema(...)`) and skip
 *    inference entirely — `supportsExternalMetadata` is on.
 *  - one InputPartition per file (X1): Spark schedules the per-file
 *    fan-out the reference hand-rolled with threads.
 *  - column pruning reaches the parser: unrequested columns are never
 *    materialized into rows (the XML is still walked — character-level
 *    skipping is not possible in a tag stream).
 *  - E2 tolerance: a value that fails its declared type parses to null
 *    and counts against the per-file `errorBudget` (default 100);
 *    malformed XML fails the file (no framing to resync on).
 */
class XeXmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xexml"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = XeXmlDataSource.listXmlFiles(
      XelbDataSource.pathsOf(options.get("path"), options.get("paths")))
    require(files.nonEmpty, "no .xml files found")
    val sample =
      if (Option(options.get("inferFiles")).exists(_.equalsIgnoreCase("all"))) files
      else files.take(1)
    XeXmlDataSource.inferFromFiles(sample)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    val budget = properties.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase("errorBudget") => v.toInt
    }.getOrElse(100)
    new XeXmlTable(schema,
      XeXmlDataSource.listXmlFiles(
        XelbDataSource.pathsOf(properties.get("path"), properties.get("paths"))),
      budget)
  }
}

object XeXmlDataSource {

  def listXmlFiles(paths: Seq[String]): Seq[String] = paths.flatMap { path =>
    val p = new Path(path)
    val fs = p.getFileSystem(XelbDataSource.hadoopConf)
    val isGlob = path.exists("*?[{".contains(_))
    val stats =
      try {
        if (isGlob) Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
          .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
        else if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
        else Seq(fs.getFileStatus(p))
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    stats.filter(s => s.isFile && s.getPath.getName.endsWith(".xml"))
      .map(_.getPath.toString)
  }.distinct.sorted

  /** Structure pass: walk the files' events, collect field/action
    * (name, xeType) pairs in first-seen order, synthesize the wide
    * schema. First-seen type wins on cross-event-type name conflicts
    * (the reference builds one table per event type, so conflicts there
    * are impossible; the union view must pick deterministically). */
  def inferFromFiles(files: Seq[String]): StructType = {
    val fieldOrder = scala.collection.mutable.LinkedHashMap[String, String]()
    val actionOrder = scala.collection.mutable.LinkedHashMap[String, String]()
    files.foreach { f =>
      val p = new Path(f)
      val in = new BufferedInputStream(
        p.getFileSystem(XelbDataSource.hadoopConf).open(p), 1 << 20)
      val it = XeXmlFormat.events(in)
      try it.foreach { e =>
        e.fields.foreach { case (n, t, _) => fieldOrder.getOrElseUpdate(n, t) }
        e.actions.foreach { case (n, t, _) => actionOrder.getOrElseUpdate(n, t) }
      } finally { it.close(); in.close() }
    }
    import graft.xel.XelFunctions
    val fieldCols = fieldOrder.toSeq.map { case (n, t) =>
      // P5: known no-payload fields stay as permanently-null columns
      StructField(XelFunctions.fieldCol(n), XeXmlFormat.sparkType(t), nullable = true)
    }
    val actionCols = actionOrder.toSeq
      .filterNot { case (n, _) => XelFunctions.droppedActions.contains(n) } // P4
      .map { case (n, t) =>
        StructField(XelFunctions.actionCol(n), XeXmlFormat.sparkType(t), nullable = true)
      }
    StructType(
      StructField("event_name", StringType, nullable = false) +:
      StructField("e_time_of_event_utc", TimestampType, nullable = true) +:
      (fieldCols ++ actionCols))
  }
}

class XeXmlTable(schema: StructType, files: Seq[String], errorBudget: Int)
    extends Table with SupportsRead {
  override def name(): String = s"xexml(${files.size} files)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XeXmlScanBuilder(schema, files, errorBudget)
}

class XeXmlScanBuilder(fileSchema: StructType, files: Seq[String], errorBudget: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fileSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(fileSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new XeXmlScan(required, files, errorBudget)
}

class XeXmlScan(required: StructType, files: Seq[String], errorBudget: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"XeXmlScan[${required.fieldNames.mkString(",")}] over ${files.size} files"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => XeXmlInputPartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new XeXmlReaderFactory(required, errorBudget)
}

case class XeXmlInputPartition(file: String) extends InputPartition

class XeXmlReaderFactory(required: StructType, errorBudget: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new XeXmlPartitionReader(
      partition.asInstanceOf[XeXmlInputPartition].file, required, errorBudget)
}

/** Streams one file's `<event>` elements into pruned InternalRows. */
class XeXmlPartitionReader(file: String, required: StructType, errorBudget: Int)
    extends PartitionReader[InternalRow] {

  org.apache.spark.sql.graft.bridge.setInputFile(file)

  private val in = {
    val p = new Path(file)
    new BufferedInputStream(p.getFileSystem(XelbDataSource.hadoopConf).open(p), 1 << 22)
  }
  private val events = XeXmlFormat.events(in)

  // output slot index per role, or -1 when pruned away
  private val nameSlot = required.fieldNames.indexOf("event_name")
  private val tsSlot = required.fieldNames.indexOf("e_time_of_event_utc")
  private val slotOf: Map[String, (Int, DataType)] =
    required.fields.zipWithIndex.collect {
      case (f, i) if f.name != "event_name" && f.name != "e_time_of_event_utc" =>
        f.name -> (i, f.dataType)
    }.toMap

  private var current: InternalRow = _
  private var errors = 0

  private def put(row: GenericInternalRow, col: String, xeType: String,
                  raw: String): Unit =
    slotOf.get(col).foreach { case (slot, dt) =>
      // P5: FIELDS on the null list load as NULL columns, by design; the
      // reference applies the list to fields only (EventHolder.cs:145-148),
      // so an action that happens to share a nulled field's name loads
      val isNulledField =
        col.startsWith("c_") &&
          graft.xel.XelFunctions.nulledFields.contains(col.drop(2))
      if (raw == null || isNulledField) ()
      else {
        val v = XeXmlFormat.parseValue(xeType, raw)
        // declared-type drift against the table schema (D6 conflicts)
        // degrades to null rather than a ClassCastException mid-scan
        val ok = v != null && typeMatches(v, dt)
        if (v != null && !ok) () // drift: leave null, no budget charge
        else if (v == null && raw.nonEmpty) {
          errors += 1
          if (errors > errorBudget) throw new IllegalStateException(
            s"$file: $errors unparseable values exceeds error budget $errorBudget")
        } else if (ok) row.update(slot, v)
      }
    }

  private def typeMatches(v: Any, dt: DataType): Boolean = dt match {
    case LongType => v.isInstanceOf[java.lang.Long]
    case IntegerType => v.isInstanceOf[java.lang.Integer]
    case ShortType => v.isInstanceOf[java.lang.Short]
    case ByteType => v.isInstanceOf[java.lang.Byte]
    case BooleanType => v.isInstanceOf[java.lang.Boolean]
    case FloatType => v.isInstanceOf[java.lang.Float]
    case DoubleType => v.isInstanceOf[java.lang.Double]
    case TimestampType => v.isInstanceOf[java.lang.Long]
    case BinaryType => v.isInstanceOf[Array[Byte]]
    case _: DecimalType => v.isInstanceOf[Decimal]
    case StringType => v.isInstanceOf[UTF8String]
    case _ => false
  }

  override def next(): Boolean = {
    if (!events.hasNext) return false
    val e = events.next()
    val row = new GenericInternalRow(required.length)
    if (nameSlot >= 0) row.update(nameSlot, UTF8String.fromString(e.name))
    if (tsSlot >= 0) e.timestamp.foreach(i =>
      row.update(tsSlot, i.getEpochSecond * 1000000L + i.getNano / 1000L))
    import graft.xel.XelFunctions
    e.fields.foreach { case (n, t, v) => put(row, XelFunctions.fieldCol(n), t, v) }
    e.actions.foreach { case (n, t, v) => put(row, XelFunctions.actionCol(n), t, v) }
    current = row
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = { events.close(); in.close() }
}
