package graft.sources

import java.io.{DataInputStream, DataOutputStream, OutputStreamWriter}
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/**
 * XML event exports on the shared [[EventFileSource]] read path — the
 * one PUBLIC ingest format a real XE user can bring
 * (`sys.fn_xe_file_target_read_file` / SSMS event export; see
 * [[XeXmlFormat]]). The reference reads the same logical event tree
 * through the proprietary SDK (`XELoader/FileProcessor.cs:203`); this
 * source shreds the XML export of it into the reference's wide table
 * shape (§1.2):
 *
 *   event_name | e_time_of_event_utc | c_<field>… | a_<action>…
 *
 * with the §1.3 type mapping driven by each element's `<type name=…/>`,
 * the P4 action drop-list and P5 null-field list applied at schema
 * synthesis, and P6 prefixing via [[graft.xel.XelFunctions]].
 *
 *  - schema: ONE driver-side structure pass over the first file (X2); XML
 *    exports carry no separate metadata block, so structure must come
 *    from the events themselves. For rollover sets that evolve mid-set,
 *    `option("inferFiles", "all")` unions every file's structure (D6); at
 *    scale, supply the schema explicitly (`.schema(...)`) and skip
 *    inference entirely.
 *  - decoder: column pruning reaches the parser — unrequested columns are
 *    never materialized into rows (the XML is still walked;
 *    character-level skipping is not possible in a tag stream).
 *  - E2 tolerance: a value that fails its declared type parses to null
 *    and costs one budgeted error; malformed XML fails the file (no
 *    framing to resync on).
 */
class XeXmlDataSource extends EventFileSource {
  override def shortName(): String = "xexml"
  override def extension: String = ".xml"

  override def schemaOf(files: Seq[FileStatus], options: CaseInsensitiveStringMap): StructType = {
    val sample =
      if (Option(options.get("inferFiles")).exists(_.equalsIgnoreCase("all"))) files
      else files.take(1)
    XeXmlDataSource.inferFromFiles(sample.map(_.getPath.toString))
  }

  override def decoder(options: CaseInsensitiveStringMap): FileDecoder = XeXmlDecoder
}

/** One XML export file ([[XeXmlFormat.Events]]) of `.xelb` value types. */
object XeXmlEncoder extends FileEncoder {
  override def extension: String = ".xml"

  override def validate(schema: StructType): Unit =
    require(schema.fields.forall(f => !(f.name.startsWith("c_") || f.name.startsWith("a_")) ||
      XelbFormat.supported(f.dataType)), s"unsupported column types in ${schema.toDDL}")

  override def open(out: DataOutputStream, schema: StructType): EncodedFile =
    new XeXmlFormat.Events(new OutputStreamWriter(out, "UTF-8"), schema)
}

object XeXmlDataSource {

  /** Structure pass: walk the files' events, collect field/action
    * (name, xeType) pairs in first-seen order, synthesize the wide
    * schema. First-seen type wins on cross-event-type name conflicts
    * (the reference builds one table per event type, so conflicts there
    * are impossible; the union view must pick deterministically). */
  def inferFromFiles(files: Seq[String]): StructType = {
    val fieldOrder = scala.collection.mutable.LinkedHashMap[String, String]()
    val actionOrder = scala.collection.mutable.LinkedHashMap[String, String]()
    files.foreach(EventFileSource.readFile(_, 1 << 20) { in =>
      val it = XeXmlFormat.events(in)
      try it.foreach { e =>
        e.fields.foreach { case (n, t, _) => fieldOrder.getOrElseUpdate(n, t) }
        e.actions.foreach { case (n, t, _) => actionOrder.getOrElseUpdate(n, t) }
      } finally it.close()
    })
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

/** One XML export: its `<event>` elements as pruned rows. */
object XeXmlDecoder extends FileDecoder {
  override def open(file: String, in: DataInputStream, required: StructType,
                    budget: ErrorBudget): Iterator[InternalRow] = {
    val rows = new XeXmlRows(required, budget)
    XeXmlFormat.events(in).map(rows.of)
  }
}

private final class XeXmlRows(required: StructType, budget: ErrorBudget) {
  // output slot index per role, or -1 when pruned away
  private val nameSlot = required.fieldNames.indexOf("event_name")
  private val tsSlot = required.fieldNames.indexOf("e_time_of_event_utc")
  private val slotOf: Map[String, (Int, DataType)] =
    required.fields.zipWithIndex.collect {
      case (f, i) if f.name != "event_name" && f.name != "e_time_of_event_utc" =>
        f.name -> (i, f.dataType)
    }.toMap

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
        else if (v == null && raw.nonEmpty) budget.charge(s"unparseable $xeType value in $col")
        else if (ok) row.update(slot, v)
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

  def of(e: XeXmlFormat.XmlEvent): InternalRow = {
    val row = new GenericInternalRow(required.length)
    if (nameSlot >= 0) row.update(nameSlot, UTF8String.fromString(e.name))
    if (tsSlot >= 0) e.timestamp.foreach(i =>
      row.update(tsSlot, i.getEpochSecond * 1000000L + i.getNano / 1000L))
    import graft.xel.XelFunctions
    e.fields.foreach { case (n, t, v) => put(row, XelFunctions.fieldCol(n), t, v) }
    e.actions.foreach { case (n, t, v) => put(row, XelFunctions.actionCol(n), t, v) }
    row
  }
}
