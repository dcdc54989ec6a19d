package graft.sources

import java.io.{InputStream, Writer}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/**
 * The public XML export shape of Extended Events sessions (SURVEY.md §2.1
 * S1 — the ingest format a real XELoader user can actually bring without
 * the proprietary `.xel` SDK): `sys.fn_xe_file_target_read_file` and the
 * SSMS "Export Events" path both emit one `<event>` element per event,
 *
 * {{{
 * <event name="sql_batch_completed" package="sqlserver"
 *        timestamp="2024-01-01T00:00:01.123456Z">
 *   <data name="duration"><type name="int64"/><value>1000</value></data>
 *   <data name="statement"><type name="unicode_string"/>
 *     <value><![CDATA[select 1]]></value></data>
 *   <action name="query_hash" package="sqlserver">
 *     <type name="uint64"/><value>42</value></action>
 * </event>
 * }}}
 *
 * wrapped in a single `<events>` root per file. The reference consumes the
 * same logical tree through the SDK (`XELoader/FileProcessor.cs:203`,
 * `EventHolder.cs:54-67`); here the elements are pull-parsed with the
 * JDK's StAX reader — streaming, no DOM, one event in memory at a time.
 *
 * Typing follows the XE wire-type names published in
 * `sys.dm_xe_objects` (object_type = 'type') and the reference's CLR
 * mapping (§1.3, `EventMetadata.cs:257-282`): int64 → BIGINT,
 * uint64 → DECIMAL(38,0) (unsigned-64 overflows a signed long), strings /
 * xml / guid / mapvalue → string catch-all, binary_data → hex-encoded
 * bytes, filetime/datetime → timestamp. The writer is [[Events]].
 */
object XeXmlFormat {

  /** One parsed event: name + optional timestamp + (name → (xeType, raw
    * text)) for data and action elements, in document order. */
  final case class XmlEvent(name: String,
                            timestamp: Option[java.time.Instant],
                            fields: Seq[(String, String, String)],
                            actions: Seq[(String, String, String)])

  /** XE wire-type name → Spark type (§1.3 collapsed to one hop). */
  def sparkType(xeType: String): DataType = xeType match {
    case "uint64" => DecimalType(38, 0)
    case "int64" | "uint32" => LongType
    case "int32" | "uint16" => IntegerType
    case "int16" | "uint8" => ShortType
    case "int8" => ByteType
    case "boolean" => BooleanType
    case "float32" => FloatType
    case "float64" => DoubleType
    case "binary_data" => BinaryType
    case "filetime" | "datetime" => TimestampType
    // unicode_string / ansi_string / xml / guid / activity_id / mapvalue /
    // anything unknown → string (the reference's stringly catch-all)
    case _ => StringType
  }

  /** Spark type → XE wire-type name for the writer (inverse of
    * [[sparkType]] on the `.xelb` value types). */
  def xeTypeName(dt: DataType): String = dt match {
    case _: DecimalType => "uint64"
    case LongType => "int64"
    case IntegerType => "int32"
    case ShortType => "int16"
    case ByteType => "int8"
    case BooleanType => "boolean"
    case FloatType => "float32"
    case DoubleType => "float64"
    case BinaryType => "binary_data"
    case TimestampType => "datetime"
    case _ => "unicode_string"
  }

  /** Parse one raw text value under its XE type. Unparseable values
    * return null (E2 per-field tolerance — the row keeps its other
    * fields; the caller counts the error against the file budget). */
  def parseValue(xeType: String, raw: String): Any = xeType match {
    case "uint64" =>
      try {
        val d = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(raw.trim))
        if (d.changePrecision(38, 0)) d else null
      } catch { case _: NumberFormatException => null }
    case "int64" | "uint32" => raw.toLongOption.orNull
    case "int32" | "uint16" => raw.toIntOption.orNull
    case "int16" | "uint8" => raw.toShortOption.orNull
    case "int8" => raw.toByteOption.orNull
    case "boolean" =>
      raw.trim.toLowerCase match {
        case "true" | "1" => java.lang.Boolean.TRUE
        case "false" | "0" => java.lang.Boolean.FALSE
        case _ => null
      }
    case "float32" => raw.toFloatOption.orNull
    case "float64" => raw.toDoubleOption.orNull
    case "binary_data" => hexToBytes(raw)
    case "filetime" | "datetime" => parseInstantMicros(raw)
    case _ => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
  }

  /** ISO-8601 instant → epoch micros (java.lang.Long), or null. Accepts
    * both Z-suffixed instants and zone-offset forms (`…+01:00`) — SSMS
    * exports from a server in local-time mode carry the offset. */
  def parseInstantMicros(raw: String): java.lang.Long = {
    val t = raw.trim
    val instant: java.time.Instant =
      try java.time.Instant.parse(t)
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.OffsetDateTime.parse(t).toInstant
          catch { case _: java.time.format.DateTimeParseException => null }
      }
    if (instant == null) null
    else java.lang.Long.valueOf(
      instant.getEpochSecond * 1000000L + instant.getNano / 1000L)
  }

  def hexToBytes(s: String): Array[Byte] = {
    val t = s.trim.stripPrefix("0x").stripPrefix("0X")
    if (t.length % 2 != 0 || !t.forall(c => Character.digit(c, 16) >= 0)) null
    else t.grouped(2).map(p => Integer.parseInt(p, 16).toByte).toArray
  }

  def bytesToHex(b: Array[Byte]): String =
    b.map(x => f"$x%02X").mkString

  private val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    // no DTDs, no external entities: event files are data, not documents
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true) // CDATA + text as one
    f
  }

  /** Streaming pull-parse: an iterator of events, one element tree at a
    * time. Malformed XML throws — a broken document has no record framing
    * to resync on (unlike XELB's length-prefixed frames), so the file
    * fails loudly rather than silently losing its tail. */
  def events(in: InputStream): Iterator[XmlEvent] with AutoCloseable = {
    val r = factory.createXMLStreamReader(in, "UTF-8")
    new Iterator[XmlEvent] with AutoCloseable {
      private var nextEvent: XmlEvent = _
      private var finished = false

      private def advance(): Unit = {
        nextEvent = null
        while (nextEvent == null && !finished) {
          if (!r.hasNext) { finished = true; return }
          if (r.next() == XMLStreamConstants.START_ELEMENT &&
              r.getLocalName == "event")
            nextEvent = readEvent(r)
        }
      }

      override def hasNext: Boolean = {
        if (nextEvent == null && !finished) advance()
        nextEvent != null
      }
      override def next(): XmlEvent = {
        if (!hasNext) throw new NoSuchElementException
        val e = nextEvent; nextEvent = null; e
      }
      override def close(): Unit = r.close()
    }
  }

  /** Read one `<event>` element (reader positioned ON its start tag). */
  private def readEvent(r: XMLStreamReader): XmlEvent = {
    val name = Option(r.getAttributeValue(null, "name")).getOrElse("unknown_event")
    val ts = Option(r.getAttributeValue(null, "timestamp")).flatMap(t =>
      Option(parseInstantMicros(t)).map(m =>
        java.time.Instant.ofEpochSecond(m / 1000000L, (m % 1000000L) * 1000L)))
    val fields = Seq.newBuilder[(String, String, String)]
    val actions = Seq.newBuilder[(String, String, String)]
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "data" | "action" =>
              val isAction = r.getLocalName == "action"
              val n = Option(r.getAttributeValue(null, "name")).getOrElse("")
              val (t, v) = readTypedValue(r)
              if (isAction) actions += ((n, t, v)) else fields += ((n, t, v))
            case _ => depth += 1
          }
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    }
    XmlEvent(name, ts, fields.result(), actions.result())
  }

  /** Read a `<data>`/`<action>` element body: `<type name=…/>` +
    * `<value>text</value>`; reader consumes through the end tag. */
  private def readTypedValue(r: XMLStreamReader): (String, String) = {
    var xeType = "unicode_string"
    var value: String = null
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "type" =>
              Option(r.getAttributeValue(null, "name")).foreach(xeType = _)
              skipElement(r)
            case "value" => value = readValueText(r) // consumes end tag
            case _ => depth += 1
          }
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    }
    (xeType, value)
  }

  /** Read the text of a `<value>` element (reader ON its start tag);
    * consumes through the matching end tag. Unlike `getElementText`,
    * nested element content — xml-typed payloads such as showplan_xml or
    * tsql_stack frames, which real exports embed as child elements — is
    * serialized back to its XML string form instead of throwing. Plain
    * text/CDATA values come back exactly as `getElementText` returned
    * them. */
  private def readValueText(r: XMLStreamReader): String = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          depth += 1
          sb.append('<').append(r.getLocalName)
          var i = 0
          while (i < r.getAttributeCount) {
            sb.append(' ').append(r.getAttributeLocalName(i)).append("=\"")
              .append(escape(r.getAttributeValue(i))).append('"')
            i += 1
          }
          sb.append('>')
        case XMLStreamConstants.END_ELEMENT =>
          depth -= 1
          if (depth > 0) sb.append("</").append(r.getLocalName).append('>')
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA |
             XMLStreamConstants.SPACE =>
          // top-level text stays raw (entities already decoded by StAX);
          // text inside a nested element re-escapes so the serialized
          // subtree round-trips as well-formed XML
          if (depth > 1) sb.append(escape(r.getText)) else sb.append(r.getText)
        case _ =>
      }
    }
    sb.toString
  }

  private def skipElement(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ =>
      }
    }
  }

  /** XML text escaping for the writer (attribute-safe too). */
  def escape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      // XML 1.0 forbids control chars even as character references — drop
      case c if c < ' ' && c != '\n' && c != '\r' && c != '\t' => ""
      case c => c.toString
    }

  /** One `<events>` document of rows of `schema`, the reader's inverse:
    * the prolog on creation, then per row one `<event>` whose `name` is
    * `event_name` and `timestamp` is `e_time_of_event_utc`, with a `<data>`
    * element per `c_*` and an `<action>` per `a_*` column, each typed by
    * [[xeTypeName]] (a NULL value omits its element, which the reader
    * leaves null); the closing tag on `finish`. */
  final class Events(w: Writer, schema: StructType) extends EncodedFile {
    private val nameIdx = schema.fieldIndex("event_name")
    private val tsIdx = schema.fieldNames.indexOf("e_time_of_event_utc")
    // per c_/a_ column: its index, type, and element text around the value
    private val elements = schema.fields.zipWithIndex.collect {
      case (f, i) if f.name.startsWith("c_") || f.name.startsWith("a_") =>
        val tag = if (f.name.startsWith("c_")) "data" else "action"
        (i, f.dataType,
          s"""    <$tag name="${escape(f.name.drop(2))}">""" +
            s"""<type name="${xeTypeName(f.dataType)}" package="graft"/><value>""",
          s"</value></$tag>\n")
    }
    w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<events>\n")

    override def write(row: InternalRow): Unit = {
      val name = if (row.isNullAt(nameIdx)) "unknown_event" else row.getUTF8String(nameIdx).toString
      val tsAttr = if (tsIdx < 0 || row.isNullAt(tsIdx)) ""
        else s""" timestamp="${valueText(row.getLong(tsIdx), TimestampType)}""""
      w.write(s"""  <event name="${escape(name)}" package="graft"$tsAttr>\n""")
      elements.foreach { case (i, dt, open, close) =>
        if (!row.isNullAt(i)) w.write(open + escape(valueText(row.get(i, dt), dt)) + close)
      }
      w.write("  </event>\n")
    }

    override def finish(): Unit = { w.write("</events>\n"); w.flush() }
  }

  /** An internal value's `<value>` text: binary as hex, a timestamp as an
    * ISO-8601 instant. */
  def valueText(v: Any, dt: DataType): String = dt match {
    case BinaryType => bytesToHex(v.asInstanceOf[Array[Byte]])
    case TimestampType =>
      java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        DateTimeUtils.microsToInstant(v.asInstanceOf[Long]))
    case _ => v.toString
  }
}
