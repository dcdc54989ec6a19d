package graft.xel

import org.apache.spark.sql.DataFrame

/**
 * S5 — the bulk-append JDBC sink (`XELoader/EventHolder.cs:360-433`),
 * re-homed onto Spark's JDBC writer. The reference's `SqlBulkCopy`
 * performance model maps knob-for-knob:
 *
 *  - batch size 1,048,576 (columnstore-rowgroup-aligned,
 *    `InputParameters.cs:35`)      → `batchsize` writer option
 *  - `BulkCopyTimeout = 0`         → `queryTimeout` 0
 *  - minimally-logged bulk load
 *    (BULK_LOGGED + NUL backup,
 *    `InputParameters.cs:449-458`) → `isolationLevel=NONE` (no
 *    per-batch transaction overhead; idempotency comes from append-only
 *    tables + the lineage table, not rollback)
 *  - column-mapped-by-name append  → Spark maps DataFrame columns to
 *    table columns by name on append
 *
 * Executors write their partitions concurrently — the reference's
 * file-level thread fan-out (X1) becomes partition-level write
 * parallelism with zero custom code.
 */
object JdbcSink {

  /** D1 — what the target can do, probed once per run. */
  case class JdbcCapabilities(
      product: String, majorVersion: Int, minorVersion: Int,
      supportsBatchUpdates: Boolean, maxColumnNameLength: Int,
      identifierQuote: String) {
    /** The reference's columnstore-vs-rowstore fork (version-gated)
      * becomes: can we issue post-load index DDL on this product? The
      * JDBC metadata API has no direct flag; gate on products known to
      * speak ANSI CREATE INDEX. Unknown products skip the index, never
      * fail the load — same graceful degradation as the reference
      * falling back to a plain clustered layout. */
    def supportsIndexDdl: Boolean =
      Seq("derby", "h2", "postgres", "mysql", "mariadb", "sqlite")
        .exists(product.toLowerCase.contains)
  }

  /** D1 capability detection (`XELoader/InputParameters.cs:315-384`): the
    * reference probes the server version/edition to decide whether
    * columnstore indexes exist before choosing the event-table layout
    * (D5). The Spark-side twin reads JDBC `DatabaseMetaData` once per
    * run — one driver-side round-trip, nothing on the data path — and
    * feeds [[demuxAppend]]'s layout choice. */
  /** Every driver-side connection goes through here so `-U`/`-P`
    * credentials (`InputParameters.cs:199-229`) reach the server as
    * connection PROPERTIES — never spliced into the URL, which lands in
    * logs, plans and error messages. */
  private[graft] def connect(url: String,
      cfg: XelConfig = XelConfig.default): java.sql.Connection = {
    val props = new java.util.Properties()
    cfg.jdbcUser.foreach(props.setProperty("user", _))
    cfg.jdbcPassword.foreach(props.setProperty("password", _))
    java.sql.DriverManager.getConnection(url, props)
  }

  def probeCapabilities(url: String,
      cfg: XelConfig = XelConfig.default): JdbcCapabilities = {
    val conn = connect(url, cfg)
    try {
      val md = conn.getMetaData
      JdbcCapabilities(md.getDatabaseProductName,
        md.getDatabaseMajorVersion, md.getDatabaseMinorVersion,
        md.supportsBatchUpdates, md.getMaxColumnNameLength,
        Option(md.getIdentifierQuoteString).getOrElse("\"").trim)
    } finally conn.close()
  }

  /** D1→D5 version-matrix layout fork (`XELoader/InputParameters.cs:
    * 344-383`): ProductVersion major < 12 (pre-SQL-2014) has no
    * updateable columnstore, so the default layout is RowStore; ≥ 12
    * defaults to ColumnStore unless RowStore was requested explicitly
    * (an explicit ColumnStore request is honored as-given, even pre-12 —
    * the reference lets that fail at DDL time); ≥ 14 (SQL 2017)
    * additionally allows LOB columns inside a columnstore, unless
    * disabled (`-l`). */
  final case class LayoutPolicy(indexType: String, lobAllowed: Boolean) {
    /** Width limits bite exactly on the ColumnStore-without-LOB layout
      * (`XELoader/EventHolder.cs:277-281`) — that is the entire reason
      * the reference's string/XML/binary limits exist. */
    def widthLimitsBite: Boolean = indexType == "ColumnStore" && !lobAllowed
  }

  /** Resolve the layout policy from the probed capabilities — a pure
    * function so the version matrix is unit-testable without a server.
    * Non-SQL-Server targets have no columnstore in this dialect registry:
    * rowstore analogue with unbounded LOB types (nothing forces width
    * limits); an explicit request is recorded as-given. */
  def resolveLayout(caps: JdbcCapabilities, requested: Option[String],
                    disableLob: Boolean): LayoutPolicy =
    if (!caps.product.toLowerCase.contains("sql server"))
      LayoutPolicy(requested.getOrElse("RowStore"), lobAllowed = true)
    else {
      var ix = requested.getOrElse("")
      if (caps.majorVersion < 12 && ix.isEmpty) ix = "RowStore"
      if (caps.majorVersion >= 12 && ix != "RowStore") ix = "ColumnStore"
      val lob = caps.majorVersion >= 14 && ix == "ColumnStore" && !disableLob
      LayoutPolicy(ix, lob)
    }

  def bulkAppend(df: DataFrame, url: String, table: String,
                 cfg: XelConfig = XelConfig.default): Unit = {
    val w = df.write
      .mode("append")
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", cfg.batchSize)
      .option("isolationLevel", "NONE")
      .option("queryTimeout", 0)
    val withUser = cfg.jdbcUser.fold(w)(u => w.option("user", u))
    cfg.jdbcPassword.fold(withUser)(p => withUser.option("password", p))
      .save()
  }

  /** P1 at the sink: one table per event type, `<schema>.<event_name>`
    * (`EventMetadata.cs:81-128` — the reference's central demux). Event
    * types are few by construction (they are XE event NAMES), so the
    * driver-side distinct is a handful of rows; each per-type write is a
    * filter over one pin of the frame ([[EventCatalog.withTypeSlices]]).
    * Each target table is schema-evolved first (D6,
    * [[ensureTableSchemaMatches]]) so a session that grew columns across
    * rollovers appends cleanly. Returns the table names. */
  def demuxAppend(df: DataFrame, url: String,
                  cfg: XelConfig = XelConfig.default,
                  indexOn: Option[String] = None): Seq[String] = {
    // D1 probe once per run; D5 layout choice hangs off it below
    val caps = probeCapabilities(url, cfg)
    EventCatalog.withTypeSlices(df, "input") { slices =>
      val types = slices.map(_._1)
      // Derby/portable: schema folded into the name; the event-name part is
      // data-derived, so fold anything outside [A-Za-z0-9_] to _ —
      // identifier quoting downstream is belt, this is suspenders. Folding
      // can COLLIDE ('rpc.completed' and 'rpc completed' both fold to
      // rpc_completed); silently merging two event types into one table
      // would corrupt the demux, so colliding names get a short digest of
      // the raw name appended.
      val folded = types.map(t => t -> s"${cfg.schemaName}_$t".replaceAll("[^A-Za-z0-9_]", "_"))
      val collisions = folded.groupBy(_._2).filter(_._2.length > 1).keySet
      val tableFor = folded.map { case (t, name) =>
        t -> (if (collisions(name))
          name + "_" + java.security.MessageDigest.getInstance("MD5")
            .digest(t.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
        else name)
      }.toMap
      slices.map { case (t, slice) =>
        val table = tableFor(t)
        // -c parity (`EventMetadata.cs:160-175`): DROP each event table
        // before the load. The stored name is resolved through metadata
        // FIRST (the writer creates the table UNQUOTED, so the database
        // case-folds it — a quoted DROP of the raw name would target a
        // table that never existed and silently clear nothing). Absent
        // table → nothing to clear; a DROP that then fails (permission
        // denied, lock timeout) is FATAL — falling through to append
        // would produce exactly the silent duplication -c exists to
        // prevent.
        if (cfg.clearTables) {
          val conn = connect(url, cfg)
          try storedName(conn, table).foreach { stored =>
            val quote = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier _
            val stmt = conn.createStatement()
            try { stmt.execute(s"DROP TABLE ${quote(stored)}"); () }
            catch {
              case e: java.sql.SQLException =>
                throw new IllegalStateException(
                  s"-c could not clear table $stored (it exists); " +
                    s"appending would duplicate data: ${e.getMessage}", e)
            }
            finally stmt.close()
          } finally conn.close()
        }
        ensureTableSchemaMatches(slice, url, table, cfg)
        bulkAppend(slice, url, table, cfg)
        // D5: the reference picks columnstore vs clustered-rowstore by the
        // D1 probe; the JDBC analogue is a post-load seek index on the
        // caller's scan key — only where the product speaks index DDL
        indexOn.filter(_ => caps.supportsIndexDdl).foreach { ixCol =>
          val conn = connect(url, cfg)
          try {
            val meta = conn.getMetaData
            // resolve the stored (case-folded) table name once: quoted
            // identifiers are case-exact, so the DDL below must use the
            // case the database actually stored
            val stored = storedName(conn, table).getOrElse(table)
            val ixName = s"${stored}_ix_$ixCol"
            var exists = false
            val rs = meta.getIndexInfo(null, null, stored, false, false)
            while (rs.next())
              exists |= ixName.equalsIgnoreCase(Option(rs.getString("INDEX_NAME")).getOrElse(""))
            rs.close()
            if (!exists) {
              // the table name derives from data (event_name values): quote
              // EVERY identifier, not just the column — an event name with
              // spaces/quotes/metacharacters must not break or inject DDL
              val quote = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier _
              val stmt = conn.createStatement()
              try stmt.execute(
                s"CREATE INDEX ${quote(ixName)} ON ${quote(stored)} (${quote(ixCol)})")
              finally stmt.close()
            }
          } finally conn.close()
        }
        table
      }
    }
  }

  /** Unquoted identifiers are case-FOLDED by the database, and the fold
    * direction is product-specific (Derby/H2 up, Postgres/MySQL down) —
    * probe metadata under each folding until one matches. */
  private def foldedCandidates(table: String): Seq[String] =
    Seq(table.toUpperCase, table.toLowerCase, table).distinct

  /** `read` of each metadata row that `lookup` returns for exactly the
    * table `name`. Metadata calls take a LIKE pattern, and every
    * generated name contains '_' (a single-char wildcard): the pattern is
    * escaped where the driver has an escape string, but Derby's is empty,
    * so `XEL_A_B` still matches `XEL_AXB` there — rows of any other
    * table are dropped by their TABLE_NAME. */
  private def rowsOf[A](meta: java.sql.DatabaseMetaData, name: String)(
      lookup: String => java.sql.ResultSet)(read: java.sql.ResultSet => A): List[A] = {
    val esc = Option(meta.getSearchStringEscape).getOrElse("")
    val pattern =
      if (esc.isEmpty) name
      else name.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    val rs = lookup(pattern)
    try Iterator.continually(rs).takeWhile(_.next())
      .filter(_.getString("TABLE_NAME") == name).map(read).toList
    finally rs.close()
  }

  /** Resolve the case the database actually stored `table` under (or
    * None if absent). */
  private def storedName(conn: java.sql.Connection,
      table: String): Option[String] = {
    val meta = conn.getMetaData
    foldedCandidates(table).find(t =>
      rowsOf(meta, t)(meta.getTables(null, null, _, null))(_ => ()).nonEmpty)
  }

  /** D6 on the JDBC side (`XELoader/EventMetadata.cs:400-455`
    * `EnsureTableSchemaMatches`): diff the frame's schema against the live
    * table's columns and `ALTER TABLE … ADD` the missing ones (nullable —
    * rows loaded before the column existed read NULL, exactly the
    * reference's back-fill semantics). No-op when the table doesn't exist
    * yet (the writer's own CREATE covers it). One driver-side metadata
    * round-trip per table per run — nothing on the data path. Returns the
    * added column names. */
  def ensureTableSchemaMatches(df: DataFrame, url: String, table: String,
      cfg: XelConfig = XelConfig.default): Seq[String] = {
    val conn = connect(url, cfg)
    // no table yet — the writer's CREATE will fit
    try storedName(conn, table).fold(Seq.empty[String]) { stored =>
      // match case-insensitively like the reference's INFORMATION_SCHEMA diff
      val meta = conn.getMetaData
      val existing = rowsOf(meta, stored)(meta.getColumns(null, null, _, null))(
        _.getString("COLUMN_NAME").toLowerCase).toSet
      val missing = df.schema.fields.filterNot(f => existing.contains(f.name.toLowerCase))
      // quote like Spark's own CREATE TABLE does, so the new column's
      // spelling matches the writer's quoted lowercase convention
      val quote = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier _
      missing.map { f =>
        val stmt = conn.createStatement()
        try stmt.execute(
          s"ALTER TABLE ${quote(stored)} ADD COLUMN ${quote(f.name)} ${jdbcDdlType(f.dataType, url)}")
        finally stmt.close()
        f.name
      }.toSeq
    } finally conn.close()
  }

  /** DDL column type for an ALTER: the url's Spark dialect first (what the
    * writer itself would CREATE with), portable ANSI fallbacks otherwise. */
  private def jdbcDdlType(dt: org.apache.spark.sql.types.DataType, url: String): String = {
    import org.apache.spark.sql.types._
    org.apache.spark.sql.jdbc.JdbcDialects.get(url).getJDBCType(dt)
      .map(_.databaseTypeDefinition)
      .getOrElse(dt match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case ShortType | ByteType => "SMALLINT"
        case DoubleType => "DOUBLE PRECISION"
        case FloatType => "REAL"
        case BooleanType => "BOOLEAN"
        case TimestampType => "TIMESTAMP"
        case StringType => "VARCHAR(4000)"
        case BinaryType => "BLOB"
        case d: DecimalType => s"DECIMAL(${d.precision.min(31)},${d.scale})"
        case other => throw new IllegalArgumentException(s"no JDBC DDL mapping for $other")
      })
  }
}
