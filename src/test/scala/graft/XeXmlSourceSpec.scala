package graft

import graft.sources.{RolloverSet, XeXmlEncoder, XeXmlFormat}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The XML event-export ingest source (S1 over the one PUBLIC format):
  * typed round-trip, schema synthesis with the P4/P5 drop lists, column
  * pruning, per-file fan-out, value-level error tolerance, and schema
  * evolution across rollover files. */
class XeXmlSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-xexml-$tag").toString

  test("typed round-trip: every §1.3 type survives write → parse → scan") {
    val dir = tmpDir("types")
    val df = Seq(
      (1L, 1L, "q one", 1.5, true, 3.25f, 42, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:01.123456Z"))),
      (1L, 2L, "q <two> & \"co\"", -2.0, false, -1.0f, -7, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-06-30T23:59:59.999999Z")))
    ).toDF("e_imported_file_id", "c_seq", "c_stmt", "c_score", "c_flag",
        "c_ratio", "c_small", "e_time_of_event_utc")
      .withColumn("event_name", lit("probe"))
      .withColumn("a_hash_dec", col("c_seq").cast("decimal(38,0)"))
      .withColumn("a_blob", unhex(lit("DEADBEEF")))
    RolloverSet.writeByKey(XeXmlEncoder, df, "e_imported_file_id", dir)

    val back = spark.read.format("xexml").load(dir)
    assert(back.schema("c_seq").dataType == LongType)
    assert(back.schema("c_stmt").dataType == StringType)
    assert(back.schema("c_score").dataType == DoubleType)
    assert(back.schema("c_flag").dataType == BooleanType)
    assert(back.schema("c_ratio").dataType == FloatType)
    assert(back.schema("c_small").dataType == IntegerType)
    assert(back.schema("a_hash_dec").dataType == DecimalType(38, 0))
    assert(back.schema("a_blob").dataType == BinaryType)
    assert(back.schema("e_time_of_event_utc").dataType == TimestampType)

    val r = back.orderBy("c_seq").collect()
    assert(r.length == 2)
    assert(r(0).getAs[String]("c_stmt") == "q one")
    assert(r(1).getAs[String]("c_stmt") == "q <two> & \"co\"") // escaping
    assert(r(0).getAs[Boolean]("c_flag"))
    assert(r(0).getAs[java.sql.Timestamp]("e_time_of_event_utc").toInstant ==
      java.time.Instant.parse("2024-01-01T00:00:01.123456Z"))
    assert(XeXmlFormat.bytesToHex(r(0).getAs[Array[Byte]]("a_blob")) == "DEADBEEF")
    assert(r(1).getAs[java.math.BigDecimal]("a_hash_dec").longValue == 2L)
  }

  test("P4 dropped actions and P5 nulled fields apply at the source") {
    val dir = tmpDir("drop")
    // hand-write a file carrying a dropped action and a nulled field
    val f = new java.io.PrintWriter(s"$dir/S_0_0.xml", "UTF-8")
    f.write("""<?xml version="1.0"?><events>
      |<event name="probe" timestamp="2024-01-01T00:00:00Z">
      |  <data name="data_stream"><type name="binary_data"/><value>AB</value></data>
      |  <data name="keepme"><type name="int64"/><value>5</value></data>
      |  <action name="debug_break"><type name="boolean"/><value>true</value></action>
      |  <action name="session_id"><type name="int64"/><value>9</value></action>
      |</event></events>""".stripMargin)
    f.close()
    val back = spark.read.format("xexml").load(dir)
    assert(!back.columns.contains("a_debug_break")) // P4: no loadable data
    assert(back.columns.contains("c_data_stream")) // P5: column exists...
    val row = back.head()
    assert(row.isNullAt(back.columns.indexOf("c_data_stream"))) // ...always null
    assert(row.getAs[Long]("c_keepme") == 5L)
    assert(row.getAs[Long]("a_session_id") == 9L)
  }

  test("one partition per file; pruning keeps only requested columns") {
    val dir = tmpDir("fanout")
    val df = (1L to 40L).map(i => (i % 4, i, s"s$i")).toDF(
      "e_imported_file_id", "c_seq", "c_stmt")
      .withColumn("event_name", lit("probe"))
    RolloverSet.writeByKey(XeXmlEncoder, df, "e_imported_file_id", dir)
    val back = spark.read.format("xexml").load(dir)
    assert(back.rdd.getNumPartitions == 4) // X1: file-level fan-out
    val pruned = back.select("c_seq")
    val scan = flattenPlan(pruned.queryExecution.executedPlan)
      .map(_.toString).mkString("\n")
    assert(scan.contains("XeXmlScan[c_seq]"), s"pruning must reach the scan:\n$scan")
    assert(pruned.agg(sum("c_seq")).head().getLong(0) == (1L to 40L).sum)
    // per-file lineage is visible (input_file_name holder)
    assert(back.select(input_file_name()).distinct().count() == 4)
  }

  test("unparseable values null out under the budget; over it, the file fails") {
    val dir = tmpDir("budget")
    def file(n: Int, bad: Int): Unit = {
      val f = new java.io.PrintWriter(s"$dir/S_${n}_0.xml", "UTF-8")
      f.write("<?xml version=\"1.0\"?><events>")
      (1 to 10).foreach { i =>
        val v = if (i <= bad) "not-a-number" else i.toString
        f.write(s"""<event name="probe"><data name="n"><type name="int64"/>""" +
          s"""<value>$v</value></data></event>""")
      }
      f.write("</events>")
      f.close()
    }
    file(1, bad = 2)
    val ok = spark.read.format("xexml").option("errorBudget", "3").load(dir)
    assert(ok.count() == 10) // rows kept, bad values null (E2)
    assert(ok.filter(col("c_n").isNull).count() == 2)
    file(2, bad = 5)
    val strict = spark.read.format("xexml").option("errorBudget", "3")
      .load(s"$dir/S_2_0.xml")
    // count() prunes every column — values never parse, no budget charge
    // (pruning by design); reading the column trips the budget
    val e = intercept[org.apache.spark.SparkException](
      strict.select("c_n").collect())
    assert(e.getMessage != null)
  }

  test("schema evolution across rollovers: inferFiles=all unions; missing → null") {
    val dir = tmpDir("evolve")
    val gen1 = Seq((1L, 1L, "a")).toDF("e_imported_file_id", "c_seq", "c_stmt")
      .withColumn("event_name", lit("probe"))
    val gen2 = Seq((2L, 2L, "b", 7L)).toDF(
      "e_imported_file_id", "c_seq", "c_stmt", "c_added")
      .withColumn("event_name", lit("probe"))
    RolloverSet.writeByKey(XeXmlEncoder, gen1, "e_imported_file_id", dir)
    RolloverSet.writeByKey(XeXmlEncoder, gen2, "e_imported_file_id", dir)
    // default (first-file) inference misses the added column — by design
    assert(!spark.read.format("xexml").load(dir).columns.contains("c_added"))
    val all = spark.read.format("xexml").option("inferFiles", "all").load(dir)
    assert(all.columns.contains("c_added"))
    val rows = all.orderBy("c_seq").collect()
    assert(rows(0).isNullAt(all.columns.indexOf("c_added"))) // back-fill null
    assert(rows(1).getAs[Long]("c_added") == 7L)
  }

  test("xml-typed values with nested elements serialize, not throw") {
    val dir = tmpDir("nested")
    val f = new java.io.PrintWriter(s"$dir/S_0_0.xml", "UTF-8")
    // real exports embed element content inside <value> for xml-typed
    // payloads (showplan_xml, tsql_stack) — the parser must serialize
    // the subtree back to a string rather than die in getElementText
    f.write("""<?xml version="1.0"?><events>
      |<event name="probe" timestamp="2024-01-01T00:00:00Z">
      |  <data name="plan"><type name="xml"/>
      |    <value><ShowPlanXML Version="1.564"><Batch><Op cost="0.5">scan &amp; seek</Op></Batch></ShowPlanXML></value></data>
      |  <data name="stmt"><type name="unicode_string"/><value><![CDATA[select 1]]></value></data>
      |</event></events>""".stripMargin)
    f.close()
    val back = spark.read.format("xexml").load(dir)
    val row = back.head()
    val plan = row.getAs[String]("c_plan")
    assert(plan.contains("<ShowPlanXML Version=\"1.564\">"))
    assert(plan.contains("<Op cost=\"0.5\">scan &amp; seek</Op>"))
    assert(plan.contains("</ShowPlanXML>"))
    assert(row.getAs[String]("c_stmt") == "select 1") // plain values unchanged
  }

  test("zone-offset timestamps parse (attribute and datetime field)") {
    val dir = tmpDir("offset")
    val f = new java.io.PrintWriter(s"$dir/S_0_0.xml", "UTF-8")
    f.write("""<?xml version="1.0"?><events>
      |<event name="probe" timestamp="2024-01-01T01:00:00.500000+01:00">
      |  <data name="when"><type name="datetime"/><value>2024-07-01T10:30:00-04:00</value></data>
      |</event></events>""".stripMargin)
    f.close()
    val back = spark.read.format("xexml").load(dir)
    val row = back.head()
    assert(row.getAs[java.sql.Timestamp]("e_time_of_event_utc").toInstant ==
      java.time.Instant.parse("2024-01-01T00:00:00.500Z"))
    assert(row.getAs[java.sql.Timestamp]("c_when").toInstant ==
      java.time.Instant.parse("2024-07-01T14:30:00Z"))
  }

  test("P5 null list applies to fields only — a like-named action loads") {
    val dir = tmpDir("nullrole")
    val f = new java.io.PrintWriter(s"$dir/S_0_0.xml", "UTF-8")
    f.write("""<?xml version="1.0"?><events>
      |<event name="probe">
      |  <data name="data_stream"><type name="unicode_string"/><value>drop me</value></data>
      |  <action name="data_stream"><type name="unicode_string"/><value>keep me</value></action>
      |</event></events>""".stripMargin)
    f.close()
    val back = spark.read.format("xexml").load(dir)
    val row = back.head()
    assert(row.isNullAt(back.columns.indexOf("c_data_stream"))) // field: nulled
    assert(row.getAs[String]("a_data_stream") == "keep me") // action: loads
  }

  test("malformed XML fails the file loudly (no silent tail loss)") {
    val dir = tmpDir("broken")
    val f = new java.io.PrintWriter(s"$dir/S_0_0.xml", "UTF-8")
    f.write("""<?xml version="1.0"?><events><event name="probe">""" +
      """<data name="n"><type name="int64"/><value>1</value></data>""")
    // document ends mid-event: unclosed tags
    f.close()
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("xexml")
        .schema(StructType(Seq(StructField("event_name", StringType),
          StructField("c_n", LongType))))
        .load(dir).count()
    }
    assert(e.getMessage != null)
  }
}
