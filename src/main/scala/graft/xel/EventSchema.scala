package graft.xel

import org.apache.spark.sql.types._

/**
 * Runtime schema synthesis — the Spark re-expression of the reference's
 * metadata-driven schema engine (SURVEY.md §1.2/§1.3;
 * `XELoader/EventMetadata.cs:31-132,257-353`).
 *
 * The reference walks the XE metadata tree (generation → package →
 * {event(fields), action}) once, under a lock, and builds one wide table
 * per event type: 4 mandatory columns + `c_`-prefixed fields + a shared
 * `a_`-prefixed action set. We model the metadata tree as plain descriptors
 * (supplied by the ingest format — parquet fixtures now, a real XEL reader
 * later) and synthesize `StructType`s on the driver before any distributed
 * work starts — Spark's natural analysis/execution phase split.
 */
object EventSchema {

  /** The CLR name of XE's map-typed values: the wire carries an integer
    * map KEY; the session metadata carries the key→display table, and the
    * SDK's `MapValue.ToString()` hands loaders the resolved display text
    * (`XELoader/EventHolder.cs:137-141`). */
  val MapValueClr = "Microsoft.SqlServer.XEvent.MapValue"

  /** One field/action descriptor: name + XE CLR type name as the metadata
    * reports it (e.g. "System.UInt64", "Microsoft.SqlServer.XEvent.XMLData").
    * For [[MapValueClr]] fields, `mapValues` is the key→display table from
    * the metadata tree (XE's dm_xe_map_values analogue); displays must be
    * distinct so a display round-trips to one key. */
  final case class FieldMeta(name: String, clrType: String,
                             mapValues: Seq[(Int, String)] = Nil) {
    require(clrType != MapValueClr || mapValues.map(_._2).distinct.size == mapValues.size,
      s"map field $name has duplicate display values")
    def isMapValue: Boolean = clrType == MapValueClr
  }

  /** One event type: name + payload fields. Actions live session-wide. */
  final case class EventMeta(name: String, fields: Seq[FieldMeta])

  /** The metadata "generation": all event types + the shared action set. */
  final case class SessionMeta(events: Seq[EventMeta], actions: Seq[FieldMeta])

  // --- Stage 1+2 collapsed: XE CLR type → Spark DataType -------------------
  // Reference does CLR→DataTable (`EventMetadata.cs:257-282`) then
  // DataTable→SQL (`EventMetadata.cs:284-353`); on Spark one hop suffices.
  def sparkType(clrType: String): DataType = clrType match {
    case "System.UInt64" => DecimalType(38, 0) // avoid signed-64 overflow
    case "System.Int64" | "System.UInt32" => LongType
    case "System.Int32" | "System.UInt16" => IntegerType
    case "System.Int16" | "System.UInt8" | "System.Byte" => ShortType
    case "System.Int8" | "System.SByte" => ByteType
    case "System.Boolean" => BooleanType
    case "System.DateTime" | "System.DateTimeOffset" => TimestampType
    case "System.Byte[]" => BinaryType
    case "System.Single" => FloatType
    case "System.Double" => DoubleType
    // MapValue / ActivityId / XMLData / String / anything else → string
    // (`EventMetadata.cs:274-280`: stringly-typed catch-all)
    case _ => StringType
  }

  /** XML-typed string columns (`EventMetadata.cs:331-344`) — used by the
    * truncation pipeline to pick the XML limit over the string limit. */
  val xmlColumns: Set[String] = Set(
    "a_tsql_stack", "a_tsql_frame", "c_blocked_process", "c_calculator",
    "c_data", "c_execution_stats_report", "c_input_relation",
    "c_output_parameters", "c_server_memory_grants", "c_showplan_xml",
    "c_stats_collection", "c_xml_report")

  /** The 4 mandatory columns every event table starts with
    * (`EventMetadata.cs:87-105`). */
  val mandatoryColumns: Seq[StructField] = Seq(
    StructField("e_imported_file_id", LongType, nullable = true),
    StructField("e_time_of_event", TimestampType, nullable = true),
    StructField("e_time_of_event_utc", TimestampType, nullable = true),
    StructField("e_time_of_event_local", TimestampType, nullable = true))

  /** Synthesize the wide per-event-type schema: mandatory ++ c_fields ++
    * shared a_actions (incl. the synthesized companions, minus drop-lists —
    * `EventMetadata.cs:46-128`). */
  def eventTableSchema(event: EventMeta, actions: Seq[FieldMeta]): StructType = {
    val fieldCols = event.fields.map { f =>
      StructField(XelFunctions.fieldCol(f.name), sparkType(f.clrType), nullable = true)
    }
    val actionCols = actions
      .filterNot(a => XelFunctions.droppedActions.contains(a.name))
      .flatMap { a =>
        val base = StructField(XelFunctions.actionCol(a.name), sparkType(a.clrType), nullable = true)
        a.name match {
          // hash actions get the binary companion (`EventMetadata.cs:56-62`)
          case "query_hash" | "query_plan_hash" =>
            Seq(base, StructField(base.name + "_bin", BinaryType, nullable = true))
          // callstack gets the debugger-command companion (`EventMetadata.cs:63-68`)
          case "callstack" =>
            Seq(base, StructField(base.name + "_debugcmd", StringType, nullable = true))
          case _ => Seq(base)
        }
      }
    StructType(mandatoryColumns ++ fieldCols ++ actionCols)
  }

  /** All per-event-type schemas for a session. */
  def sessionSchemas(meta: SessionMeta): Map[String, StructType] =
    meta.events.map(e => e.name -> eventTableSchema(e, meta.actions)).toMap

  /**
   * Schema evolution (`EventMetadata.cs:400-455`): the reference diffs the
   * synthesized schema against INFORMATION_SCHEMA and ALTERs missing columns
   * in; columns only on the target side are back-filled as strings. On
   * Spark: produce the merged target schema for an append — existing columns
   * keep the existing type (the at-rest table wins on conflicts, matching
   * the reference, which never re-types an existing SQL column).
   */
  def evolve(existing: StructType, incoming: StructType): StructType = {
    val existingNames = existing.fieldNames.map(_.toLowerCase).toSet
    val added = incoming.fields.filterNot(f => existingNames.contains(f.name.toLowerCase))
    StructType(existing.fields ++ added)
  }

  /** Columns the incoming frame must add (as nulls) to write into the
    * evolved schema — the mirror of the reference's string back-fill. */
  def missingInIncoming(existing: StructType, incoming: StructType): Seq[StructField] = {
    val incomingNames = incoming.fieldNames.map(_.toLowerCase).toSet
    existing.fields.filterNot(f => incomingNames.contains(f.name.toLowerCase)).toSeq
  }
}
