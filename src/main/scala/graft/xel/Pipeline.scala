package graft.xel

import org.apache.spark.sql.{Column, DataFrame, Encoder, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * The load pipeline — the reference's per-file driver loop
 * (`XELoader/FileProcessor.cs:81-278`, SURVEY.md §3.2) re-homed onto
 * Spark's execution model:
 *
 *  - file discovery + wildcard filter  → `pathGlobFilter` / regex on
 *    `input_file_name()` (P2)
 *  - session-pattern filter            → leading-pattern derivation + filter (P3)
 *  - per-event-type demux              → ONE distributed write with
 *    `partitionBy(event_name)` instead of N buffered tables (P1)
 *  - rowstore "clustered index on c_event_sequence" → `sortWithinPartitions`
 *    before write, giving parquet row-group min/max pruning on time/seq
 *    predicates (`EventMetadata.cs:205-228` analogue)
 *  - truncation counters + per-file tracking → one `Dataset.observe` on
 *    the decoded frame, computed by the demux write's own scan and read
 *    at the driver after it (replaces `error_truncation_Lock`,
 *    `FileProcessor.cs:242-252`, and the per-file bookkeeping of
 *    `EventHolder.cs:478-511`) — see [[observeLoad]]
 *  - lineage                           → per-file summary written next to
 *    the data (replaces `dbo.tbl_ImportedXEventFiles`)
 *
 * Scale notes (100 TB): the plan is shuffle-free — each read task flows
 * scan → project → write. `partitionBy` does not shuffle; a task writes one
 * file per event type it sees (more only past `maxRecordsPerFile`). The
 * `xelb` scan packs rollover files into read tasks by Spark's file-source
 * rule (`spark.sql.files.maxPartitionBytes`, `openCostInBytes`,
 * `minPartitionNum`), so the store's file count is bounded by
 * (read tasks × event types), not (files × types): a session's rollover
 * files are small next to a split. AQE rebalance can be layered on if the
 * type distribution is extremely skewed.
 */
object Pipeline {

  /** P2 — `*`/`?` wildcard → anchored case-insensitive regex
    * (`FileProcessor.cs:148-166`). */
  def wildcardToRegex(pattern: String): String =
    "(?i)^" + pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
      case c => c.toString
    } + "$"

  /** P3 — derive the session's leading file pattern by stripping the last
    * two `_`-separated segments: `Session_Name_0_130.xel` → `Session_Name`
    * (`FileProcessor.cs:336-378`). Malformed names (fewer than two
    * underscores) are an error, as in the reference. */
  def leadingFilePattern(fileName: String): Either[String, String] = {
    val base = fileName.stripSuffix(".xel")
    val lastUs = base.lastIndexOf('_')
    if (lastUs <= 0) Left(s"malformed XEL file name (needs SessionName_Partition_Timestamp): $fileName")
    else {
      val secondUs = base.lastIndexOf('_', lastUs - 1)
      if (secondUs <= 0) Left(s"malformed XEL file name (needs SessionName_Partition_Timestamp): $fileName")
      else Right(base.substring(0, secondUs))
    }
  }

  /**
   * Width-limit a frame per config (F2–F4) the way the reference's
   * ColumnStore-without-LOB path does (`EventHolder.cs:273-339`), driving
   * the truncation counters. Column classes come from [[EventSchema]]:
   * XML-typed strings use the XML limit, known-large strings are exempt
   * only when `limitWidths` is off (the reference truncates them too when
   * widths are limited), binary uses the binary limit — the reference's
   * copy-length bug (`EventHolder.cs:327`) is deliberately not reproduced.
   */
  def applyWidthLimits(df: DataFrame, cfg: XelConfig): DataFrame = {
    if (!cfg.limitWidths) return df
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      widthLimit(f, cfg).fold(c) { case (_, n) => XelFunctions.truncate(c, n) }.as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** The width policy of one column under `cfg`: the counter it feeds
    * (`string`, `xml` or `binary`) and its limit, or None when no limit
    * applies. The one decision behind both [[applyWidthLimits]] and
    * [[truncationSums]], so what is cut and what is counted agree. */
  private def widthLimit(f: StructField, cfg: XelConfig): Option[(String, Int)] = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    f.dataType match {
      case StringType if EventSchema.xmlColumns.contains(f.name) =>
        // -x: XML rehomed to an unbounded string type — exempt from the
        // width policy even when limits are on (EventMetadata.cs:372-375),
        // and never counted as a string column either
        Option.unless(cfg.xmlUnbounded)("xml" -> cfg.xmlLimit)
      case StringType if f.name.startsWith("c_") || f.name.startsWith("a_") =>
        Some("string" -> cfg.stringLimit)
      case BinaryType => Some("binary" -> cfg.binaryLimit)
      case _ => None
    }
  }

  /**
   * F5/F6 companion columns, materialized at LOAD time the way the
   * reference stores them in every event table (`EventHolder.cs:216-232`;
   * schema side `EventMetadata.cs:56-68`): the 8-byte big-endian binary of
   * each hash action and the debugger command of the callstack action. A
   * reader of the demuxed store gets them as stored columns — no
   * re-derivation. Applied AFTER width limits so the stored command
   * derives from the stored (possibly truncated) callstack — exactly what
   * the store's own bytes support. Idempotent: companions already present
   * (an `-a` append over previously-loaded data) are left untouched.
   * Pure projection — no shuffle, stays inside whole-stage codegen.
   */
  def addCompanionColumns(df: DataFrame, cfg: XelConfig): DataFrame = {
    import org.apache.spark.sql.types.BinaryType
    val have = df.columns.toSet
    var out = df
    Seq("a_query_hash", "a_query_plan_hash").foreach { h =>
      if (have.contains(h) && !have.contains(h + "_bin"))
        out = out.withColumn(h + "_bin", XelFunctions.hashToBin(col(h)))
    }
    if (have.contains("a_callstack") && !have.contains("a_callstack_debugcmd")
        && df.schema("a_callstack").dataType == BinaryType)
      out = out.withColumn("a_callstack_debugcmd",
        XelFunctions.callstackDebugCmd(col("a_callstack"),
          cfg.frameLength, cfg.frameCommand))
    out
  }

  /**
   * A4 truncation counters as ONE declarative pass over the frame —
   * deliberately not hand-rolled accumulators: accumulator updates from
   * re-executed tasks double-count (a flaw the reference's lock-guarded
   * ints share across its retry-less threads); an aggregate is
   * exactly-once by construction. Returns one row: (n_string_trunc,
   * n_xml_trunc, n_binary_trunc) for the width limits in `cfg`.
   *
   * `LoaderMain.run` computes the same sums ([[truncationSums]]) as
   * observed metrics of the demux write instead ([[observeLoad]]).
   * Observed metrics travel in an accumulator, but the scheduler merges a
   * RESULT stage's accumulator updates once per partition — a retried or
   * speculative copy of a finished partition is ignored — so on the
   * parquet target, where the observation sits in the write's result
   * stage, the counters stay exactly-once. On the JDBC and catalog
   * targets the first action is a distinct over the frame, which puts
   * the observation in a shuffle map stage: there a map stage that is
   * re-run after losing its shuffle output would count its partitions
   * twice.
   */
  def truncationStats(df: DataFrame, cfg: XelConfig): DataFrame = {
    val sums = truncationSums(df.schema, cfg)
    df.agg(sums.head, sums.tail: _*)
  }

  /** The three A4 counters as aggregate columns over a frame of `schema`
    * — what would be truncated at the limits in `cfg`. Shared by
    * [[truncationStats]] and [[observeLoad]] so the two cannot drift. */
  def truncationSums(schema: StructType, cfg: XelConfig): Seq[Column] = {
    val flags = schema.fields.toSeq.flatMap(f => widthLimit(f, cfg).map { case (kind, n) =>
      (kind, XelFunctions.truncatedFlag(col(f.name), n))
    })
    def total(kind: String) = flags.filter(_._1 == kind).map(_._2)
      .reduceOption(_ + _).getOrElse(lit(0L))
    Seq(
      sum(total("string")).as("n_string_trunc"),
      sum(total("xml")).as("n_xml_trunc"),
      sum(total("binary")).as("n_binary_trunc"))
  }

  /** One (source file, event type) cell of a load: its row count and the
    * bounds of its event times in unix microseconds (None when the cell
    * has no event time). */
  final case class FileTypeCell(sourceFile: String, eventName: String,
      nEvents: Long, firstUs: Option[Long], lastUs: Option[Long])

  private[xel] final case class FileTypeRow(sourceFile: String, eventName: String,
      us: Option[Long])

  /** Folds rows into per-(file, type) cells. The buffer maps a cell to
    * (rows, min µs, max µs) — min > max while the cell has no event
    * time; reduce and merge update the arrays in place, so the map
    * changes only when a new cell appears. */
  private[xel] object FileTypeFold
      extends Aggregator[FileTypeRow, Map[(String, String), Array[Long]], Seq[FileTypeCell]] {
    type Buf = Map[(String, String), Array[Long]]
    override def zero: Buf = Map.empty

    private def add(b: Buf, k: (String, String), n: Long, lo: Long, hi: Long): Buf =
      b.get(k) match {
        case Some(s) =>
          s(0) += n; s(1) = math.min(s(1), lo); s(2) = math.max(s(2), hi)
          b
        case None => b.updated(k, Array(n, lo, hi))
      }

    override def reduce(b: Buf, r: FileTypeRow): Buf = {
      val (lo, hi) = r.us.fold((Long.MaxValue, Long.MinValue))(t => (t, t))
      add(b, (r.sourceFile, r.eventName), 1L, lo, hi)
    }

    override def merge(a: Buf, b: Buf): Buf =
      b.foldLeft(a) { case (acc, (k, s)) => add(acc, k, s(0), s(1), s(2)) }

    override def finish(b: Buf): Seq[FileTypeCell] = b.toSeq.map { case ((f, e), s) =>
      val timed = s(1) <= s(2)
      FileTypeCell(f, e, s(0), Option.when(timed)(s(1)), Option.when(timed)(s(2)))
    }

    override def bufferEncoder: Encoder[Buf] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[FileTypeCell]] = ExpressionEncoder()
  }

  /** What one load's observation saw: the three truncation counters and
    * the per-(file, type) cells. */
  final case class LoadObserved(stringTruncations: Long, xmlTruncations: Long,
      binaryTruncations: Long, cells: Seq[FileTypeCell]) {
    def eventsLoaded: Long = cells.map(_.nEvents).sum
    def eventNames: Seq[String] = cells.map(_.eventName).distinct.sorted
  }

  /**
   * Attaches the load's side aggregates to the decoded frame as observed
   * metrics, so the action that writes the frame computes them in the
   * same scan — no truncation pass, table-list query or lineage
   * aggregate of their own (the reference likewise counts and tracks
   * while it decodes, `EventHolder.cs:273-339, 478-511`). Observes the
   * A4 counters of [[truncationSums]] (literal zeros unless widths are
   * limited: the reference counts truncations that HAPPENED) and a
   * per-(`source_file`, event type) fold with row counts and event-time
   * bounds. Attach it BEFORE [[applyWidthLimits]]: the counters measure
   * the values as decoded. Read the result with [[loadObserved]] after
   * the first action on the returned frame.
   */
  def observeLoad(df: DataFrame, cfg: XelConfig, obs: Observation): DataFrame = {
    val trunc =
      if (cfg.limitWidths) truncationSums(df.schema, cfg)
      else Seq("n_string_trunc", "n_xml_trunc", "n_binary_trunc").map(lit(0L).as(_))
    // the time column is optional (run() requires only event_name)
    val us =
      if (df.columns.contains("e_time_of_event_utc")) unix_micros(col("e_time_of_event_utc"))
      else lit(null).cast("long")
    val cells = udaf(FileTypeFold, ExpressionEncoder[FileTypeRow]())
      .apply(col("source_file"), col("event_name"), us).as("cells")
    df.observe(obs, trunc.head, trunc.tail :+ cells: _*)
  }

  /** The metrics [[observeLoad]] attached; blocks until an action on the
    * observed frame has finished. A sum over zero rows reads 0. */
  def loadObserved(obs: Observation): LoadObserved = {
    val m = obs.get
    def cnt(name: String): Long = Option(m(name)).fold(0L)(_.asInstanceOf[Long])
    def us(c: Row, i: Int): Option[Long] = Option(c.get(i)).map(_.asInstanceOf[Long])
    val cells = m("cells").asInstanceOf[Seq[Row]].map(c =>
      FileTypeCell(c.getString(0), c.getString(1), c.getLong(2), us(c, 3), us(c, 4)))
    LoadObserved(cnt("n_string_trunc"), cnt("n_xml_trunc"), cnt("n_binary_trunc"), cells)
  }

  /**
   * Demux write (P1 + D5): one distributed append of the whole stream,
   * partitioned at rest by event type, rows clustered by event sequence
   * within each file. Returns per-type row counts (A3's content).
   */
  def writeDemuxed(df: DataFrame, targetDir: String, cfg: XelConfig,
      mode: String = "append"): DataFrame = {
    // the sequence cluster key is optional (XELB schemas are arbitrary;
    // run() only requires event_name) — the guarded sibling
    // CatalogDdl.writeDemuxedTables set this precedent
    val sortCols = Seq("event_name", "c_event_sequence")
      .filter(df.columns.contains)
    df.sortWithinPartitions(sortCols.map(col): _*)
      .write
      .mode(mode)
      .option("maxRecordsPerFile", cfg.batchSize)
      .partitionBy("event_name")
      .parquet(targetDir)
    // counts from the INPUT frame, not a target read-back: an append
    // into a populated store would otherwise report pre-existing rows
    // and event types from earlier runs as loaded by THIS one — and the
    // read-back is a full extra scan of the (growing) store per load
    df.groupBy("event_name").agg(count(lit(1)).as("n_rows"))
  }

  /**
   * Lineage (S7): per-source-file load summary, the tracking-table analogue.
   * `file_id` is a deterministic 60-bit hash of the (unique) file name —
   * NOT a `row_number` over a global window, which would force every
   * per-file summary row through one task (a single-partition sort at
   * millions of rollover files). The reference's IDENTITY column promises
   * uniqueness, not density; any stable unique id joins event rows back to
   * their file, and a hash of the name computes where the row already is.
   */
  def lineage(df: DataFrame, fileCol: String = "source_file"): DataFrame = {
    // the time columns are optional (run() requires only event_name):
    // a schema without them gets NULL bounds, not a post-write crash
    // that strands a half-finished load behind errorifexists
    val evTime =
      if (df.columns.contains("e_time_of_event_utc")) col("e_time_of_event_utc")
      else lit(null).cast("timestamp")
    df.groupBy(col(fileCol))
      .agg(count(lit(1)).as("n_events"),
        min(evTime).as("first_event"),
        max(evTime).as("last_event"))
      .select(fileId(col(fileCol)).as("file_id"), col(fileCol).as("file_name"),
        col("n_events"), col("first_event"), col("last_event"))
  }

  /** The lineage `file_id`: the first 60 bits of the file name's md5. */
  def fileId(fileName: Column): Column =
    conv(substring(md5(fileName), 1, 15), 16, 10).cast("long")

  /** [[lineage]]'s rows from a load's observed cells instead of a pass
    * over the data: one row per source file, as a one-partition local
    * frame (there is one row per rollover file). */
  def lineageOf(spark: SparkSession, cells: Seq[FileTypeCell]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val rows = cells.groupBy(_.sourceFile).toSeq.sortBy(_._1).map { case (f, cs) =>
      Row(f, cs.map(_.nEvents).sum, cs.flatMap(_.firstUs).minOption.map(Long.box).orNull,
        cs.flatMap(_.lastUs).maxOption.map(Long.box).orNull)
    }
    val schema = StructType(Seq(
      StructField("file_name", StringType, nullable = false),
      StructField("n_events", LongType, nullable = false),
      StructField("first_us", LongType), StructField("last_us", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .select(fileId(col("file_name")).as("file_id"), col("file_name"),
        col("n_events"), timestamp_micros(col("first_us")).as("first_event"),
        timestamp_micros(col("last_us")).as("last_event"))
  }
}
