package graft

import graft.xel.{JdbcSink, XeFixture, XelConfig}
import org.apache.spark.sql.functions._

/** Integration test of the S5 JDBC sink against embedded Derby (in-memory,
  * ships with Spark) — a real database round-trip: demux-append one table
  * per event type, read back over JDBC, compare with the source frame. */
class JdbcSinkSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("demux bulk-append round-trips per-event-type tables through Derby") {
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("c_event_sequence"), col("c_session_id"), col("c_duration_us"),
      col("e_time_of_event_utc"), col("event_name"))

    val tables = JdbcSink.demuxAppend(xe, url, XelConfig.default)
    assert(tables.size == 5) // one per event type (A3 counter)

    val perType = xe.groupBy(col("event_name")).agg(
      count(lit(1)).as("n"), sum(col("c_duration_us")).as("d")).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap

    tables.foreach { t =>
      val eventName = t.stripPrefix("xel_")
      val back = spark.read.format("jdbc")
        .option("url", url).option("dbtable", t).load()
      val (n, d) = perType(eventName)
      val got = back.agg(count(lit(1)), sum(col("c_duration_us"))).head()
      assert(got.getLong(0) == n, s"$t row count")
      assert(got.getLong(1) == d, s"$t duration sum")
      // no event_name column at rest — the table name IS the demux key
      assert(!back.columns.contains("event_name"))
    }
  }

  test("the source is computed once for the type list and every per-type append") {
    import spark.implicits._
    val computed = spark.sparkContext.longAccumulator("jdbc-source-rows")
    val counted = udf { (name: String) => computed.add(1); name }.asNondeterministic()
    val df = (1L to 30L).map(i => (i, Seq("a", "b", "c")((i % 3).toInt))).toDF("seq", "name")
      .select(col("seq"), counted(col("name")).as("event_name"))
    val tables = JdbcSink.demuxAppend(df, url, XelConfig.default.copy(schemaName = "onepass"))
    assert(tables.size == 3)
    assert(computed.value == 30L, s"${computed.value} source rows computed for 30: one pass")
  }

  test("colliding folded event names get distinct tables, not a silent merge") {
    import spark.implicits._
    // 'rpc.completed' and 'rpc completed' both fold to rpc_completed —
    // without the digest suffix their rows would land in one table
    val df = Seq(
      (1L, "rpc.completed"), (2L, "rpc.completed"),
      (3L, "rpc completed"),
      (4L, "clean_type")
    ).toDF("seq", "event_name")
    val tables = JdbcSink.demuxAppend(df, url, XelConfig.default)
    assert(tables.size == 3, s"expected 3 distinct tables, got $tables")
    assert(tables.distinct.size == 3)
    // the clean name keeps its plain folded form
    assert(tables.contains("xel_clean_type"))
    val counts = tables.sorted.map { t =>
      spark.read.format("jdbc").option("url", url).option("dbtable", t)
        .load().count()
    }
    // one table with 2 rows (rpc.completed), two with 1 row each
    assert(counts.sorted == Seq(1L, 1L, 2L))
  }

  test("a NULL event_name fails with the demux-key error before any table is made") {
    import spark.implicits._
    def tables(): Set[String] = {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
        var names = Set.empty[String]
        while (rs.next()) names += rs.getString("TABLE_NAME")
        rs.close(); names
      } finally conn.close()
    }
    val df = Seq[(Long, String)]((1L, "null_a"), (2L, "null_b"), (3L, null))
      .toDF("seq", "event_name")
    val before = tables()
    val e = intercept[IllegalArgumentException] {
      JdbcSink.demuxAppend(df, url, XelConfig.default.copy(schemaName = "nulltest"))
    }
    assert(e.getMessage.contains("NULL event_name"), e.getMessage)
    assert(e.getMessage.contains("demux key"), e.getMessage)
    assert(tables() == before, s"new tables: ${tables() -- before}")
  }

  test("D6 JDBC evolution: new column ALTERed in, pre-existing rows read NULL") {
    import spark.implicits._
    val cfg = XelConfig.default
    // run 1: the session's early rollovers — two columns
    val v1 = Seq((1L, 10L, "evo_ev"), (2L, 20L, "evo_ev"))
      .toDF("c_event_sequence", "c_duration_us", "event_name")
    JdbcSink.demuxAppend(v1, url, cfg)
    // run 2: the session grew a column mid-capture (the D6 scenario,
    // `EventMetadata.cs:400-455`) — demuxAppend must ALTER it in
    val v2 = Seq((3L, 30L, "extra", "evo_ev"))
      .toDF("c_event_sequence", "c_duration_us", "c_new_field", "event_name")
    JdbcSink.demuxAppend(v2, url, cfg)

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", s"${cfg.schemaName}_evo_ev").load()
      .orderBy("c_event_sequence").collect()
    assert(back.length == 3)
    val newIdx = back.head.fieldIndex("c_new_field")
    assert(back(0).isNullAt(newIdx) && back(1).isNullAt(newIdx)) // old rows back-fill NULL
    assert(back(2).getString(newIdx) == "extra")

    // idempotent: a rerun with the same schema ALTERs nothing
    assert(JdbcSink.ensureTableSchemaMatches(
      v2.drop("event_name"), url, s"${cfg.schemaName}_evo_ev").isEmpty)
  }

  test("append mode accumulates (reference -a semantics)") {
    val df = XeFixture.frame(spark, sf("sf0.001"))
      .filter(col("event_name") === "wait_info")
      .select(col("c_event_sequence"), col("c_duration_us"))
    val n = df.count()
    JdbcSink.bulkAppend(df, url, "xel_append_t")
    JdbcSink.bulkAppend(df, url, "xel_append_t")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "xel_append_t").load()
    assert(back.count() == 2 * n)
  }

  test("D1 probe reports Derby capabilities; D5 index DDL gated on them") {
    import spark.implicits._
    val caps = JdbcSink.probeCapabilities(url)
    assert(caps.product.toLowerCase.contains("derby"))
    assert(caps.supportsBatchUpdates, "batched writer path requires batch support")
    assert(caps.supportsIndexDdl, "Derby speaks ANSI CREATE INDEX")

    val cfg = XelConfig.default.copy(schemaName = "ixtest")
    val df = Seq((1L, 5L, "ix_ev"), (2L, 7L, "ix_ev"))
      .toDF("c_event_sequence", "c_duration_us", "event_name")
    val tables = JdbcSink.demuxAppend(df, url, cfg, indexOn = Some("c_event_sequence"))
    // index exists on the demuxed table (and a second run is idempotent)
    JdbcSink.demuxAppend(df, url, cfg, indexOn = Some("c_event_sequence"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getIndexInfo(null, null, tables.head.toUpperCase, false, false)
      var names = Set.empty[String]
      while (rs.next()) names += Option(rs.getString("INDEX_NAME")).getOrElse("")
      rs.close()
      assert(names.exists(_.equalsIgnoreCase(s"${tables.head}_ix_c_event_sequence")),
        s"expected seek index, saw $names")
    } finally conn.close()
  }

  test("-U/-P credentials land in the JDBC connection properties") {
    // Derby makes the authenticated user observable without configuring
    // an auth provider: the connection's current schema IS the user name
    // (default APP). If the properties were dropped, this reads APP.
    val cfg = XelConfig.default.copy(
      jdbcUser = Some("graftuser"), jdbcPassword = Some("s3cret"))
    val conn = JdbcSink.connect(url, cfg)
    try assert(conn.getSchema.equalsIgnoreCase("graftuser"),
      s"expected the -U user as current schema, got ${conn.getSchema}")
    finally conn.close()
    // and the no-credential default still connects as APP
    val anon = JdbcSink.connect(url)
    try assert(anon.getSchema.equalsIgnoreCase("APP"))
    finally anon.close()
    // the probe path accepts the same credentials end-to-end
    assert(JdbcSink.probeCapabilities(url, cfg)
      .product.toLowerCase.contains("derby"))
  }

  test("JDBC -c rerun replaces instead of duplicating") {
    import spark.implicits._
    val cfg = XelConfig.default.copy(schemaName = "ctest", clearTables = true)
    val df = Seq((1L, 5L, "c_ev"), (2L, 7L, "c_ev"))
      .toDF("c_event_sequence", "c_duration_us", "event_name")
    val t1 = JdbcSink.demuxAppend(df, url, cfg)
    val t2 = JdbcSink.demuxAppend(df, url, cfg) // rerun with -c: drop+reload
    assert(t1 == t2)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", t1.head).load()
    assert(back.count() == 2, "rerun with -c must not accumulate")
  }

  test("D1 version-matrix layout fork mirrors InputParameters.cs:344-383") {
    import JdbcSink.{JdbcCapabilities, resolveLayout}
    def sqlServer(major: Int) = JdbcCapabilities("Microsoft SQL Server",
      major, 0, supportsBatchUpdates = true, 128, "\"")
    // pre-2014: no updateable columnstore -> RowStore default, limits idle
    val v11 = resolveLayout(sqlServer(11), None, disableLob = false)
    assert(v11.indexType == "RowStore" && !v11.widthLimitsBite)
    // 2014-2016: columnstore default, but LOB-on-CSI unsupported ->
    // the width limits bite even without -l
    val v12 = resolveLayout(sqlServer(12), None, disableLob = false)
    assert(v12.indexType == "ColumnStore" && !v12.lobAllowed && v12.widthLimitsBite)
    // 2017+: LOB allowed on columnstore -> limits idle ...
    val v14 = resolveLayout(sqlServer(14), None, disableLob = false)
    assert(v14.indexType == "ColumnStore" && v14.lobAllowed && !v14.widthLimitsBite)
    // ... unless -l (the reference's disable-LOB-on-CSI) re-engages them
    val v14l = resolveLayout(sqlServer(14), None, disableLob = true)
    assert(!v14l.lobAllowed && v14l.widthLimitsBite)
    // explicit RowStore wins at any version (reference honors -I)
    val rs14 = resolveLayout(sqlServer(14), Some("RowStore"), disableLob = false)
    assert(rs14.indexType == "RowStore" && !rs14.widthLimitsBite)
    // explicit ColumnStore pre-12 is honored as-given (fails at DDL time
    // in the reference, which never downgrades an explicit request)
    val cs11 = resolveLayout(sqlServer(11), Some("ColumnStore"), disableLob = false)
    assert(cs11.indexType == "ColumnStore" && !cs11.lobAllowed)
    // non-SQL-Server products: rowstore analogue, unbounded LOB types
    val derby = resolveLayout(JdbcSink.probeCapabilities(url), None, disableLob = false)
    assert(derby.indexType == "RowStore" && derby.lobAllowed && !derby.widthLimitsBite)
  }
}
