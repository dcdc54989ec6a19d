package graft

import graft.xel.{EventSchema, Pipeline, XeFixture, XelConfig}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  // --- P2: wildcard → regex (`XELoader/FileProcessor.cs:148-166`) ---------
  test("wildcard filter matches like the reference (case-insensitive * and ?)") {
    def m(p: String, f: String) = f.matches(Pipeline.wildcardToRegex(p))
    assert(m("SessionName*.xel", "sessionname_0_130.xel"))
    assert(m("*AlwaysOn*.xel", "my_alwayson_health_0_1.xel"))
    assert(m("Session?_*.xel", "Session1_0_130.xel"))
    assert(!m("Session?_*.xel", "Session12_0_130.xel"))
    assert(!m("SessionName*.xel", "other_0_130.xel"))
    assert(m("a+b*.xel", "a+b_1_2.xel")) // regex metachars escaped
  }

  // --- P3: session leading pattern (`FileProcessor.cs:336-378`) -----------
  test("leading file pattern strips the last two underscore segments") {
    assert(Pipeline.leadingFilePattern("MySession_0_130325.xel") == Right("MySession"))
    assert(Pipeline.leadingFilePattern("My_Long_Session_0_130325.xel") == Right("My_Long_Session"))
    assert(Pipeline.leadingFilePattern("Bad.xel").isLeft)
    assert(Pipeline.leadingFilePattern("OnlyOne_1.xel").isLeft)
  }

  // --- demux write preserves all rows and partitions by event type ---------
  test("demux write: row count preserved, partitioned at rest by event_name") {
    val dir = java.nio.file.Files.createTempDirectory("demux").toString
    val xe = XeFixture.frame(spark, sf("sf0.001"))
    val perType = Pipeline.writeDemuxed(xe, dir, XelConfig.default, mode = "overwrite")
    val counts = perType.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000L) // demux preserves total rows
    assert(counts.keySet == Set("sql_batch_completed", "rpc_completed",
      "wait_info", "module_start", "module_end"))
    // at-rest layout: one directory per event type (partition pruning works)
    val sub = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(sub.forall(_.startsWith("event_name=")))
    // reading one partition prunes to that type
    val one = spark.read.parquet(dir).filter($"event_name" === "wait_info")
    assert(one.count() == counts("wait_info"))
    // ...and it prunes AT THE PLAN level: the type predicate becomes a
    // PartitionFilter on the scan (directories skipped, not row-filtered)
    // — at 100 TB this is the difference between reading one event type
    // and reading everything
    val explained = one.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("PartitionFilters:.*event_name#\\d+ = wait_info".r
      .findFirstIn(explained).isDefined,
      s"expected a partition filter on event_name, got:\n$explained")
  }

  test("append twice == union of two loads (property from SURVEY §5)") {
    val dir = java.nio.file.Files.createTempDirectory("append").toString
    val xe = XeFixture.frame(spark, sf("sf0.001"))
    Pipeline.writeDemuxed(xe, dir, XelConfig.default)
    Pipeline.writeDemuxed(xe, dir, XelConfig.default)
    assert(spark.read.parquet(dir).count() == 2000L)
  }

  // --- width limits ---------------------------------------------------------
  test("width limits: string/xml/binary columns truncated per class") {
    val cfg = XelConfig(stringLimit = 4, xmlLimit = 6, binaryLimit = 3, limitWidths = true)
    val df = Seq(("aaaaaaaa", "xxxxxxxx", Array.range(0, 10).map(_.toByte), "keepme"))
      .toDF("c_statement", "c_showplan_xml", "a_callstack", "other")
    val out = Pipeline.applyWidthLimits(df, cfg).collect()(0)
    assert(out.getString(0).length == 4) // string limit
    assert(out.getString(1).length == 6) // xml column → xml limit
    assert(out.getAs[Array[Byte]](2).length == 3) // binary limit (intended semantics)
    assert(out.getString(3) == "keepme") // unprefixed column untouched
    // A4 counters, one per truncation class, in one declarative pass
    val stats = Pipeline.truncationStats(df, cfg).collect()(0)
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == ((1L, 1L, 1L)))
  }

  test("-x exempts XML from the width pass AND from the truncation counters") {
    // an -x xml column is never truncated, so it must count ZERO in
    // every class — not fall through to the string counter and report a
    // truncation that never happened
    val cfg = XelConfig(stringLimit = 4, xmlLimit = 6, limitWidths = true,
      xmlUnbounded = true)
    val df = Seq(("aaaaaaaa", "xxxxxxxx"))
      .toDF("c_statement", "c_showplan_xml")
    val out = Pipeline.applyWidthLimits(df, cfg).collect()(0)
    assert(out.getString(0).length == 4 && out.getString(1) == "xxxxxxxx")
    val stats = Pipeline.truncationStats(df, cfg).collect()(0)
    assert((stats.getLong(0), stats.getLong(1)) == ((1L, 0L)),
      "only the real string truncation counts; the exempt XML counts nowhere")
  }

  test("width limits off: identity") {
    val df = Seq(Tuple1("a" * 5000)).toDF("c_statement")
    val out = Pipeline.applyWidthLimits(df, XelConfig.default).collect()(0)
    // stats measure what truncation WOULD fire at these limits: 5000 > 1024
    val stats = Pipeline.truncationStats(df, XelConfig.default).collect()(0)
    assert(stats.getLong(0) == 1L && stats.getLong(1) == 0L && stats.getLong(2) == 0L)
    assert(out.getString(0).length == 5000)
  }

  // --- lineage --------------------------------------------------------------
  test("lineage assigns stable unique ids and per-file aggregates, no global sort") {
    val xe = XeFixture.frame(spark, sf("sf0.001"))
      .withColumn("source_file",
        concat(lit("GraftSession_"), $"e_imported_file_id", lit("_20240101.xel")))
    val lin = Pipeline.lineage(xe)
    val rows = lin.collect()
    assert(rows.length == 4)
    // ids: unique, deterministic across runs (hash of the file name)
    assert(rows.map(_.getLong(0)).distinct.length == 4)
    assert(Pipeline.lineage(xe).collect().map(_.getLong(0)).sorted.toSeq ==
      rows.map(_.getLong(0)).sorted.toSeq)
    assert(rows.map(_.getLong(2)).sum == 1000L)
    // scale gate: no single-partition exchange (the old global-window
    // row_number shape) anywhere in the lineage plan
    lin.collect() // finalize AQE
    val singleExchanges = lin.queryExecution.executedPlan.toString
      .linesIterator.filter(l => l.contains("Exchange SinglePartition")).toSeq
    assert(singleExchanges.isEmpty, s"lineage plan has a global sort: $singleExchanges")
  }

  // --- schema engine --------------------------------------------------------
  test("CLR type mapping (SURVEY §1.3 stage-1+2 table)") {
    assert(EventSchema.sparkType("System.UInt64") == DecimalType(38, 0))
    assert(EventSchema.sparkType("System.Int64") == LongType)
    assert(EventSchema.sparkType("System.UInt32") == LongType)
    assert(EventSchema.sparkType("System.Int32") == IntegerType)
    assert(EventSchema.sparkType("System.UInt16") == IntegerType)
    assert(EventSchema.sparkType("System.Int16") == ShortType)
    assert(EventSchema.sparkType("System.Boolean") == BooleanType)
    assert(EventSchema.sparkType("System.DateTime") == TimestampType)
    assert(EventSchema.sparkType("System.Byte[]") == BinaryType)
    assert(EventSchema.sparkType("Microsoft.SqlServer.XEvent.MapValue") == StringType)
    assert(EventSchema.sparkType("Microsoft.SqlServer.XEvent.XMLData") == StringType)
  }

  test("event table schema: mandatory cols, prefixes, companions, drop list") {
    val meta = EventSchema.SessionMeta(
      events = Seq(EventSchema.EventMeta("sql_batch_completed", Seq(
        EventSchema.FieldMeta("duration", "System.UInt64"),
        EventSchema.FieldMeta("batch_text", "System.String")))),
      actions = Seq(
        EventSchema.FieldMeta("query_hash", "System.UInt64"),
        EventSchema.FieldMeta("callstack", "System.Byte[]"),
        EventSchema.FieldMeta("debug_break", "System.String"), // dropped
        EventSchema.FieldMeta("sql_text", "System.String")))
    val s = EventSchema.sessionSchemas(meta)("sql_batch_completed")
    assert(s.fieldNames.take(4).toSeq == Seq("e_imported_file_id",
      "e_time_of_event", "e_time_of_event_utc", "e_time_of_event_local"))
    assert(s("c_duration").dataType == DecimalType(38, 0))
    assert(s("a_query_hash_bin").dataType == BinaryType) // synthesized companion
    assert(s("a_callstack_debugcmd").dataType == StringType)
    assert(!s.fieldNames.contains("a_debug_break")) // drop list honored
    assert(s.fieldNames.contains("a_sql_text"))
  }

  test("schema evolution: adds new columns, never re-types existing") {
    val existing = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val incoming = StructType(Seq(
      StructField("a", StringType), // conflict: existing type wins
      StructField("c", IntegerType)))
    val evolved = EventSchema.evolve(existing, incoming)
    assert(evolved.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(evolved("a").dataType == LongType)
    assert(EventSchema.missingInIncoming(existing, incoming).map(_.name) == Seq("b"))
  }
}
