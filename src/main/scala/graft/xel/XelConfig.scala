package graft.xel

/**
 * Engine configuration — the Spark-side equivalent of the reference's CLI
 * field bag (`XELoader/InputParameters.cs:26-61`). Every knob the reference
 * exposes that still has meaning on Spark is carried here; knobs that are
 * SQL-Server-physical (connection strings, recovery model, TCP forcing) are
 * intentionally absent — the Spark analogues are session/write options.
 *
 * Defaults mirror the reference defaults (`InputParameters.cs:35,45-49,53-54,270`).
 *
 * @param stringLimit    max chars kept for plain string columns when the
 *                       at-rest format is width-limited columnar (`-L`, 1024)
 * @param xmlLimit       max chars for XML-typed string columns (`-X`, 4000)
 * @param binaryLimit    max bytes for binary columns (`-B`, 1024). NOTE: the
 *                       reference has a bug (`EventHolder.cs:327`) where the
 *                       binary copy length uses the *string* limit; we
 *                       implement the intended semantics (binary limit).
 * @param limitWidths    whether truncation applies at all — the reference
 *                       truncates only on ColumnStore-without-LOB targets
 *                       (`EventHolder.cs:277-281`); Parquet has no width
 *                       limits, so default false and oracle queries opt in
 * @param xmlUnbounded   store XML columns as unlimited strings even when
 *                       widths are limited (`-x`: the reference forces
 *                       XML → nvarchar(max), `InputParameters.cs:169-173`,
 *                       which exempts those columns from the width policy,
 *                       `EventMetadata.cs:372-375`)
 * @param timezone       zone for `e_time_of_event_local` (`-z`, system local;
 *                       we default UTC for determinism: in UTC the column
 *                       passes through from the file)
 * @param schemaName     catalog namespace for event tables (`-s`, "xel")
 * @param appendMode     skip DDL, pure append (`-a`)
 * @param wipeDatabase   drop the namespace (cascade) before loading (`-w`,
 *                       the reference's SINGLE_USER+DROP DATABASE path,
 *                       `InputParameters.cs:400-447`)
 * @param clearTables    drop per-event tables before loading (`-c`,
 *                       `EventMetadata.cs:146-160`)
 * @param errorBudget    max tolerated bad events per file before the file
 *                       fails (`-e`, 100)
 * @param batchSize      writer batch size (`-b`, 1,048,576 — columnstore
 *                       rowgroup-aligned; used for JDBC `batchsize` and as
 *                       the Parquet row-group row target)
 * @param frameLength    callstack frame width in bytes (`-h`, 8)
 * @param frameCommand   debugger command prefix per frame (`-j`, "ln")
 * @param jdbcUser       SQL-auth user for the JDBC target (`-U`,
 *                       `InputParameters.cs:199-229`) — carried as a
 *                       connection PROPERTY, never spliced into the URL
 *                       (URLs land in logs and plans; properties do not)
 * @param jdbcPassword   SQL-auth password for the JDBC target (`-P`)
 */
final case class XelConfig(
    stringLimit: Int = 1024,
    xmlLimit: Int = 4000,
    binaryLimit: Int = 1024,
    limitWidths: Boolean = false,
    xmlUnbounded: Boolean = false,
    timezone: String = "UTC",
    schemaName: String = "xel",
    appendMode: Boolean = false,
    wipeDatabase: Boolean = false,
    clearTables: Boolean = false,
    errorBudget: Int = 100,
    batchSize: Int = 1048576,
    frameLength: Int = 8,
    frameCommand: String = "ln",
    jdbcUser: Option[String] = None,
    jdbcPassword: Option[String] = None
)

object XelConfig {
  val default: XelConfig = XelConfig()
}
