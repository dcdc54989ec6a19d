package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming ingest (SURVEY.md §2.9, phase F): XE sessions are
 * streams — the reference only ever consumes rolled-over files
 * (`XELoader/FileProcessor.cs:224-227`), so its natural streaming twin is
 * the file source: new event files dropped into a directory are picked up
 * per micro-batch, flow through the SAME transforms as the batch path,
 * and land in windowed rollups guarded by a watermark.
 *
 * The transform functions here are source-agnostic `DataFrame =>
 * DataFrame` — the batch query `xe_rate_minute` and the streaming rollup
 * share one definition, which is the property that matters at scale: one
 * tested semantics, two execution modes.
 */
object EventStream {

  /** File-source stream over a directory of event-table parquet drops.
    * `maxFilesPerTrigger=1` mirrors the reference's file-at-a-time loop. */
  def readEventDir(spark: SparkSession, dir: String, schema: StructType,
                   maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Streaming attribution PAIR join — clicks join purchases by user
    * within a bounded look-back interval. NOTE the semantics: this emits
    * one row per (click, purchase) pair inside the lookback — a click
    * with N qualifying purchases emits N rows. Last-touch attribution
    * (exactly one row per click, the batch `asof_attribution` /
    * graft.operators.AsofJoin semantics) requires a further per-click
    * `max(purch_ts)` reduction — see [[lastTouch]], applied downstream
    * (in `foreachBatch` or on the collected result; a blind sum over
    * this join's output double-counts).
    *
    * The watermarks + the range condition are what make this run forever
    * on unbounded streams: state for each side is dropped once the event
    * time falls behind watermark + lookback, so executor state is
    * O(users active in the window), not O(history). An unbounded as-of
    * ("most recent EVER") is not expressible with finite state — the
    * interval bound is the streaming-correct formulation.
    *
    * Both inputs must carry (user_id, ts, ...); output = click columns +
    * the matching purchase's ts/value (inner join: unmatched clicks age
    * out silently, as in any attribution window). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      lookback: String = "10 minutes",
                      lateness: String = "2 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("user_id").as("p_user_id"), col("ts").as("purch_ts"),
        col("value").as("purch_value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purch_ts") <= col("click_ts") &&
        col("purch_ts") >= col("click_ts") - expr(s"INTERVAL $lookback"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purch_ts"), col("purch_value"))
  }

  /** Reduce [[attributionJoin]] pairs to last-touch: one row per click,
    * the most recent qualifying purchase (ties on purch_ts broken by the
    * larger value, deterministically). Batch/foreachBatch finisher — a
    * bare groupBy after a stream-stream join is not an append-mode plan,
    * which is exactly why the pair join and the reduction are separate
    * steps. */
  def lastTouch(pairs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("click_id"))
      .orderBy(col("purch_ts").desc, col("purch_value").desc)
    pairs.withColumn("_lt_rn", row_number().over(w))
      .filter(col("_lt_rn") === 1).drop("_lt_rn")
  }

  /** Per-minute event-rate rollup — the streaming twin of the batch
    * `xe_rate_minute` query. Works on batch frames too (tumbling window ==
    * date_trunc minute). On a stream, pair with [[withLateDataGuard]]. */
  def rateByMinute(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("e_time_of_event_utc"), "1 minute"), col("event_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_duration_us")).as("total_duration_us"))
      .select(col("window.start").as("minute"), col("event_name"),
        col("n"), col("total_duration_us"))

  /** Streaming→JDBC exactly-once sink (the §2.9 completion of the S5
    * bulk-append path): a `foreachBatch` body that makes each micro-batch
    * append IDEMPOTENT under replay with the standard batch-id discipline
    * — every row carries its `batch_id`, and the batch's rows are deleted
    * before (re-)appending, so a retry of a partially-written batch
    * converges instead of duplicating. Restart-safe together with
    * checkpointing: the streaming engine replays at-least-once, the
    * delete-by-batch-id turns that into exactly-once at the sink.
    * The data append itself is the distributed bulk path
    * (delegated to [[graft.xel.JdbcSink.bulkAppend]]: rowgroup-aligned
    * `batchsize`, isolation NONE, `-U/-P` credentials as connection
    * properties); only the per-batch DELETE runs on the driver. `table`
    * is a caller-supplied identifier, not data-derived — callers own its
    * validity (cf. JdbcSink's folding for data-derived names).
    *
    * Returns ONE closure per call — the loop instance. Its first batch
    * refuses a table whose max recorded `batch_id` is AHEAD of the
    * in-flight id: a RESTARTED checkpoint re-numbers batches from 0, and
    * the delete-by-batch-id discipline would then OVERWRITE the old
    * stream's batches one by one — silent progressive data loss, the
    * same signature the file-store loops refuse (the manifest fence in
    * [[CorpusManifest.IngestLoop]]), which delete-based idempotence makes WORSE
    * than plain duplication because nothing ever looks wrong. The check
    * latches off only after a probe has ACTUALLY run against an existing
    * table AND that batch's append succeeded (one MAX query per stream
    * start/restart in the common case): a first batch that finds no
    * table has checked nothing — a table created externally (or restored
    * from a backup holding higher batch_ids) afterwards must still meet
    * the probe — and a failed first append must re-probe on an
    * in-process retry, matching the file-store loops' chain-breaks-on-
    * failed-batch discipline. Within one run the engine's batch ids are
    * monotonic, and a restart builds a fresh closure. */
  def jdbcIdempotentAppend(url: String, table: String,
                           cfg: graft.xel.XelConfig = graft.xel.XelConfig.default)
      : (DataFrame, Long) => Unit = {
    var aheadChecked = false
    (df: DataFrame, batchId: Long) => {
      val withId = df.withColumn("batch_id",
        org.apache.spark.sql.functions.lit(batchId))
      // the writer quotes COLUMN identifiers per dialect (so the column is
      // case-exact), while the table name passes through as written — the
      // DELETE must quote the same way or Derby folds batch_id to BATCH_ID
      val qCol = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
        .quoteIdentifier("batch_id")
      // SQLStates meaning "relation does not exist" (Derby, SQL Server/
      // MySQL, Postgres). Anything ELSE on the probe must propagate: a
      // transient failure misread as "missing table" would skip the
      // idempotence DELETE and turn a replay into silent duplication.
      val missingTableStates = Set("42X05", "42S02", "42P01")
      val conn = graft.xel.JdbcSink.connect(url, cfg)
      val probed = try {
        val exists =
          try {
            val st = conn.createStatement()
            try st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close()
            finally st.close()
            true
          } catch {
            case e: java.sql.SQLException
                if missingTableStates.contains(e.getSQLState) => false
          }
        if (exists && !aheadChecked) {
          val st = conn.createStatement()
          try {
            val rs = st.executeQuery(s"SELECT MAX($qCol) FROM $table")
            try {
              rs.next()
              val maxId = rs.getLong(1)
              require(rs.wasNull() || maxId <= batchId,
                s"JDBC sink table $table holds batch_id $maxId beyond " +
                  s"batch $batchId — a restarted checkpoint must use a " +
                  "fresh table (or resume the old checkpoint); continuing " +
                  "would overwrite previously appended batches one by one")
            } finally rs.close()
          } finally st.close()
        }
        if (exists) {
          val del = conn.prepareStatement(s"DELETE FROM $table WHERE $qCol = ?")
          try {
            del.setLong(1, batchId)
            del.executeUpdate()
          } finally del.close()
        }
        exists
      } finally conn.close()
      graft.xel.JdbcSink.bulkAppend(withId, url, table, cfg)
      // latch ONLY when the MAX probe ran (the table existed) and the
      // whole batch — append included — succeeded: an absent table means
      // nothing was checked, and a failed append means the next attempt
      // through this closure must probe again (see scaladoc)
      if (probed) aheadChecked = true
    }
  }

  /** Watermark for out-of-order events: state for a minute window is kept
    * `delay` past the max observed event time, then finalized — bounded
    * state at 100 TB/day stream rates. */
  def withLateDataGuard(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("e_time_of_event_utc", delay)
}
