package graft.xel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * D2/D3/D5 catalog DDL as code (`XELoader/InputParameters.cs:385-515`,
 * `EventMetadata.cs:134-255`): the reference creates the target database,
 * the `[xel]` schema and one table per event type before loading; `-a`
 * (append) skips every DDL step, `-w` wipes the database first, `-c`
 * drops the event tables first. On Spark the database/schema pair maps to
 * one catalog NAMESPACE and the per-type tables to managed tables inside
 * it — the physical layout (columnar parquet, rows clustered by event
 * sequence) is the columnstore analogue that [[Pipeline.writeDemuxed]]
 * documents.
 *
 * SQL-Server-physical steps have no Spark meaning and are deliberately
 * absent: BULK_LOGGED recovery + NUL backup (`InputParameters.cs:449-458`)
 * is how SQL Server gets minimally-logged loads — parquet appends are
 * naturally "minimally logged"; the version/capability probe (D1,
 * `InputParameters.cs:315-383`) gates columnstore features that parquet
 * always has.
 */
object CatalogDdl {

  /** D2 + D3: ensure the namespace exists; `-w` wipes it first (the
    * DROP DATABASE path); `-a` must not touch the catalog at all. */
  def ensureNamespace(spark: SparkSession, cfg: XelConfig): Unit = {
    if (cfg.appendMode) {
      require(spark.catalog.databaseExists(cfg.schemaName),
        s"append mode (-a) skips DDL: namespace ${cfg.schemaName} must already exist")
      return
    }
    if (cfg.wipeDatabase)
      spark.sql(s"DROP NAMESPACE IF EXISTS `${cfg.schemaName}` CASCADE")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS `${cfg.schemaName}`")
  }

  private def tableName(cfg: XelConfig, eventType: String): String =
    s"`${cfg.schemaName}`.`$eventType`"

  /** D5 as catalog tables: the `saveAsTable` variant of
    * [[Pipeline.writeDemuxed]] — one managed table per event type in the
    * namespace, rows clustered by event sequence within files (the
    * rowstore-clustered-index analogue; parquet itself is the columnstore
    * analogue). `-c` drops each table first; `-a` requires the tables to
    * exist and appends without DDL. Returns the qualified table names. */
  def writeDemuxedTables(df: DataFrame, cfg: XelConfig): Seq[String] = {
    val spark = df.sparkSession
    ensureNamespace(spark, cfg)
    // one source scan for the whole load: the per-type slices below are
    // in-memory filters over this pin, not T re-reads of the input
    // (DISK-spillable — at the 100 TB framing T extra source scans cost
    // far more than one spill-backed materialization)
    val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      EventCatalog.eventTypes(pinned, "input").map { t =>
        val table = tableName(cfg, t)
        if (cfg.appendMode)
          require(spark.catalog.tableExists(table),
            s"append mode (-a) skips DDL: table $table must already exist")
        else if (cfg.clearTables)
          spark.sql(s"DROP TABLE IF EXISTS $table")
        else
          // default mode mirrors the -o path's errorifexists stance
          // (LoaderMain: a plain rerun "must not silently duplicate
          // data") — append is reserved for -a, replace for -c
          require(!spark.catalog.tableExists(table),
            s"table $table already exists — rerun with -a to append or " +
              "-c to replace (a plain rerun must not silently duplicate)")
        val slice = pinned.filter(col("event_name") === t).drop("event_name")
        val clustered =
          if (slice.columns.contains("c_event_sequence"))
            slice.sortWithinPartitions("c_event_sequence")
          else slice
        clustered.write
          .mode("append")
          .option("maxRecordsPerFile", cfg.batchSize)
          .saveAsTable(table)
        table
      }
    } finally { pinned.unpersist(false); () }
  }
}
