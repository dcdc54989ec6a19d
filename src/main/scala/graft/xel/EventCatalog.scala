package graft.xel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The "query half" made explicit (SURVEY.md §2.4): the reference loads
 * per-event-type tables into SQL Server *so users can run SQL on them*;
 * here the demuxed parquet layout surfaces as one Spark SQL view per
 * event type, plus a union view over all types. Partition pruning on
 * `event_name` means each per-type view scans only its own directory.
 */
object EventCatalog {

  /** The distinct event types of `df`, sorted: the demux key list that
    * every per-type table write and view registration iterates. A NULL
    * `event_name` is refused before anything is written or registered: it
    * would fail the sort with an NPE, or name a table or view "null".
    * `source` names the input in the error. */
  def eventTypes(df: DataFrame, source: String): Seq[String] = {
    val raw = df.select(col("event_name")).distinct()
      .collect().map(r => Option(r.getString(0)))
    require(!raw.contains(None),
      s"$source contains rows with a NULL event_name — the demux key " +
        "must be non-null (fix or filter the source)")
    raw.flatten.sorted.toSeq
  }

  /** The demux of a table-per-type sink: pins `df`, lists its event types
    * ([[eventTypes]]), hands `write` each type with its slice
    * (`event_name` dropped) and unpins. The type list and every slice read
    * the one pin, so the sink scans the source once, not once per type
    * plus the distinct (DISK-spillable: a spill-backed materialization
    * costs far less than T extra source scans). */
  def withTypeSlices[A](df: DataFrame, source: String)(
      write: Seq[(String, DataFrame)] => A): A = {
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    try write(eventTypes(pinned, source).map(t =>
      t -> pinned.filter(col("event_name") === t).drop("event_name")))
    finally { pinned.unpersist(false); () }
  }

  /** Register `<prefix><event_name>` temp views over a demuxed directory
    * (written by [[Pipeline.writeDemuxed]]). Returns the view names.
    *
    * The views SNAPSHOT the file listing at registration: a later `-a`
    * load into the same directory is invisible through them (and a
    * compaction that removes listed files breaks them). After changing
    * the store, call [[refreshViews]] — or re-register — before
    * querying; both are cheap (a listing, no data read). */
  def registerEventViews(spark: SparkSession, demuxDir: String,
                         prefix: String = "xel_"): Seq[String] = {
    val all = spark.read.parquet(demuxDir)
    all.createOrReplaceTempView(s"${prefix}all_events")
    eventTypes(all, demuxDir).map { t =>
      val view = prefix + t
      // filter on the partition column → partition-pruned scan per view
      all.filter(col("event_name") === t).drop("event_name")
        .createOrReplaceTempView(view)
      view
    }
  }

  /** Re-resolve the views' file listing after the store changed (an
    * `-a` append, a compaction): invalidates every cached listing under
    * `demuxDir` and re-registers, so the views serve the CURRENT store
    * instead of the registration-time snapshot. */
  def refreshViews(spark: SparkSession, demuxDir: String,
                   prefix: String = "xel_"): Seq[String] = {
    spark.catalog.refreshByPath(demuxDir)
    registerEventViews(spark, demuxDir, prefix)
  }
}
