package graft.queries

import graft.sources.{RolloverSet, XeXmlEncoder, XelNativeEncoder, XelbEncoder}
import graft.xel.{XeFixture, XelConfig, XelFunctions => F}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * ETL-parity queries (SURVEY.md §2.1–§2.3): each exercises one or more
 * reference operators over the shared XE-shaped fixture, paired with a
 * DuckDB oracle in [[oracles]]. Every query ends in a deterministic
 * ORDER BY so the driver's hash-compare never sees nondeterministic row
 * order; every floating aggregate goes through exact decimal arithmetic
 * before a final cast (Spark and DuckDB disagree on double summation order
 * otherwise).
 */
object XelQueries {

  /** Demo truncation limit small enough that the fixture's 8–9 char
    * `props` strings actually truncate (the reference default 1024 would
    * never fire on fixture data). */
  val demoStringLimit = 8

  /** Per event type, the row count, duration and query-hash sums,
    * distinct sessions and max sequence of a source-format scan, then the
    * format's own `extra` columns: a lost, doubled or mistyped row moves
    * at least one of them. Its oracle is `scanSummarySql` in [[oracles]]. */
  private def scanSummary(scan: DataFrame, extra: Column*): DataFrame =
    scan.groupBy(col("event_name"))
      .agg(count(lit(1)).as("n"), Seq(
        sum(col("c_duration_us")).as("total_duration_us"),
        countDistinct(col("c_session_id")).as("n_sessions"),
        max(col("c_event_sequence")).as("max_seq"),
        sum(col("a_query_hash")).as("hash_sum")) ++ extra: _*)
      .orderBy("event_name")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full reshape: F1 time triple, P6 prefixes, F2 truncation, F5 hash
    // companion (hex at the edge), F8 module statement fix, P1 demux key.
    "xe_shape" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .select(
          col("c_event_sequence"),
          col("e_imported_file_id"),
          col("e_time_of_event"),
          col("e_time_of_event_utc"),
          col("e_time_of_event_local"),
          col("c_session_id"),
          col("c_duration_us"),
          F.moduleStatementFix(col("event_name"),
            F.truncate(col("c_statement"), demoStringLimit)).as("c_statement"),
          F.truncatedFlag(col("c_statement"), demoStringLimit).as("stmt_truncated"),
          col("a_query_hash"),
          F.hashToBinHex(col("a_query_hash")).as("a_query_hash_hex"),
          col("event_name"))
        .orderBy("c_event_sequence")
    }),

    // P1: event-type demux as an aggregate view — one row per event table
    // the reference would create (A3 counter = row count of this result).
    "xe_demux_counts" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .groupBy(col("event_name"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("c_event_sequence")).as("min_seq"),
          max(col("c_event_sequence")).as("max_seq"),
          countDistinct(col("c_session_id")).as("n_sessions"))
        .orderBy("event_name")
    }),

    // A4: truncation counters as a grouped aggregation instead of the
    // reference's lock-guarded mutable ints (`FileProcessor.cs:242-252`).
    "xe_truncation_stats" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .groupBy(col("e_imported_file_id"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(F.truncatedFlag(col("c_statement"), demoStringLimit)).as("n_string_trunc"),
          sum(length(col("c_statement"))).as("total_chars"),
          sum(length(F.truncate(col("c_statement"), demoStringLimit))).as("kept_chars"))
        .orderBy("e_imported_file_id")
    }),

    // F1 downstream: per-minute event-rate rollup — the graphing query the
    // reference's smalldatetime column exists for (`EventMetadata.cs:307`).
    "xe_rate_minute" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .groupBy(col("e_time_of_event").as("minute"), col("event_name"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("c_duration_us")).as("total_duration_us"))
        .orderBy("minute", "event_name")
    }),

    // F6: callstack → debugger command, through the custom Catalyst
    // expression (CallstackDebugCmd). The fixture callstack is 12 bytes:
    // one 8-byte frame from the hash + 4 trailing bytes that the
    // frame-math must drop (floor(12/8) = 1 frame).
    "xe_callstack" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .withColumn("a_callstack",
          unhex(concat(F.hashToBinHex(col("a_query_hash")), lit("DEADBEEF"))))
        .select(
          col("c_event_sequence"),
          hex(col("a_callstack")).as("a_callstack_hex"),
          F.callstackDebugCmd(col("a_callstack"), 8, "ln").as("a_callstack_debugcmd"),
          // F4 binary truncation at 5 bytes, surfaced as hex
          hex(F.truncate(col("a_callstack"), 5)).as("trunc5_hex"))
        .orderBy("c_event_sequence")
    }),

    // P2/P3: file-name wildcard + session-pattern filters over synthesized
    // file names (`FileProcessor.cs:148-174,336-378`).
    "xe_file_pattern" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .withColumn("file_name",
          concat(lit("GraftSession_"), col("e_imported_file_id"), lit("_240101.xel")))
        .filter(col("file_name").rlike(graft.xel.Pipeline.wildcardToRegex("graftsession*.xel")))
        .withColumn("session_pattern",
          regexp_extract(col("file_name"), "^(.*)_[^_]+_[^_]+\\.xel$", 1))
        .groupBy(col("file_name"), col("session_pattern"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("file_name")
    }),

    // Phase E: callstack frame EXPLODE — one row per fixed-width frame of
    // the binary callstack (12 bytes @ frameLen 4 → 3 frames), the
    // relational twin of F6's string formatting. Generator (posexplode)
    // over a per-row built array; frame bytes surfaced as hex, plus the
    // byte-reversed form a debugger would consume.
    "xe_frames_explode" -> ((spark, dir) => {
      val nFrames = 3 // 12-byte fixture callstack / 4-byte frames
      val revPairs4 = (c: org.apache.spark.sql.Column) =>
        concat((3 to 0 by -1).map(j => substring(c, j * 2 + 1, 2)): _*)
      XeFixture.frame(spark, dir)
        .withColumn("cs_hex",
          concat(F.hashToBinHex(col("a_query_hash")), lit("DEADBEEF")))
        .select(col("c_event_sequence"),
          posexplode(transform(sequence(lit(0), lit(nFrames - 1)), i =>
            substring(col("cs_hex"), i * lit(8) + 1, lit(8)))))
        .select(
          col("c_event_sequence"),
          col("pos").cast("int").as("frame_idx"),
          col("col").as("frame_hex"),
          revPairs4(col("col")).as("frame_rev_hex"))
        .orderBy("c_event_sequence", "frame_idx")
    }),

    // Phase E: XML payload shredding — the reference stores XML fields as
    // strings for SQL Server to shred later (`EventMetadata.cs:331-344`);
    // Spark-side the same job is xpath extraction over the string column.
    "xe_xml_extract" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .withColumn("xml_payload",
          concat(lit("<event><duration>"), col("c_duration_us"),
            lit("</duration><session>"), col("c_session_id"),
            lit("</session></event>")))
        .withColumn("xml_duration",
          expr("xpath_long(xml_payload, '/event/duration')"))
        .withColumn("xml_session",
          expr("xpath_string(xml_payload, '/event/session/text()')"))
        .groupBy(col("event_name"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("xml_duration")).as("sum_xml_duration"),
          countDistinct(col("xml_session")).as("n_xml_sessions"))
        .orderBy("event_name")
    }),

    // S1/S2 through the DataSource V2: round-trip a bounded slice of the
    // stream through XELB rollover files (schema from first file's
    // metadata, one partition per file, pruned decode) and aggregate on
    // the way back — the ingest path itself under the oracle gate. The
    // write side is the DISTRIBUTED DSv2 writer (file-per-partition,
    // commit-by-rename), repartitioned by the rollover key — no driver
    // collect anywhere in the path.
    "xe_xelb_source_scan" -> ((spark, dir) => {
      val xelbDir = Scratch.dir(spark, "graft_xelb_scan", dir)
      XeFixture.frame(spark, dir)
        .filter(col("c_event_sequence") <= 20000)
        .select(col("e_imported_file_id"), col("c_event_sequence"),
          col("c_session_id"), col("c_duration_us"), col("event_name"))
        .repartition(col("e_imported_file_id"))
        .write.format("xelb").mode("append").save(xelbDir)
      spark.read.format("xelb").load(xelbDir)
        .groupBy(col("event_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_duration_us")).as("total_duration_us"),
          countDistinct(col("c_session_id")).as("n_sessions"),
          max(col("c_event_sequence")).as("max_seq"))
        .orderBy("event_name")
    }),

    // S1 through the PUBLIC XML export format (sys.fn_xe_file_target_read_file
    // / SSMS event export — the one ingest format a real XE user can bring
    // without the proprietary SDK): write a rollover set of <events>
    // documents, read it back through the xexml DSv2 source (per-file
    // fan-out, type mapping from <type name=…/>, timestamp attribute →
    // e_time_of_event_utc), and demux-aggregate — the XML ingest path
    // itself under the oracle gate.
    "xe_xml_source_scan" -> ((spark, dir) => {
      val xmlDir = Scratch.dir(spark, "graft_xelb_xml", dir)
      val slice = XeFixture.frame(spark, dir)
        .filter(col("c_event_sequence") <= 20000)
        .select(col("e_imported_file_id"), col("e_time_of_event_utc"),
          col("c_event_sequence"), col("c_session_id"), col("c_duration_us"),
          col("c_statement"), col("event_name"), col("a_query_hash"))
      RolloverSet.writeByKey(XeXmlEncoder, slice, "e_imported_file_id", xmlDir)
      scanSummary(spark.read.format("xexml").load(xmlDir),
        countDistinct(col("c_statement")).as("n_statements"),
        max(col("e_time_of_event_utc")).as("last_event"))
    }),

    // §3.1 `Main` lifecycle under the ORACLE gate: materialize a bounded
    // rollover set, run the CLI driver end-to-end (discovery with
    // session-pattern narrowing → width-limited load → demux write →
    // lineage → final statistics) and return the stats block as one row.
    // The DuckDB twin recomputes every counter from the same slice of
    // `events` — so files/events/tables/truncations are all checked, not
    // just smoke-asserted in sbt.
    "xe_loader_stats" -> ((spark, dir) => {
      import spark.implicits._
      val inDir = Scratch.dir(spark, "graft_xelb_loader_in", dir)
      val outDir = Scratch.dir(spark, "graft_xelb_loader_out", dir) + "/demux"
      val slice = XeFixture.frame(spark, dir)
        .filter(col("c_event_sequence") <= 20000)
        .select(col("e_imported_file_id"), col("c_event_sequence"),
          col("c_session_id"), col("c_duration_us"), col("e_time_of_event_utc"),
          col("c_statement"), col("event_name"))
      RolloverSet.writeByKey(XelbEncoder, slice, "e_imported_file_id", inDir)
      val args = graft.xel.LoaderMain.parseArgs(Array(
        s"-D$inDir", s"-o$outDir", "-l", s"-L$demoStringLimit"))
        .fold(m => throw new IllegalStateException(s"loader args must parse: $m"), identity)
      val r = graft.xel.LoaderMain.run(spark, args)
      Seq((r.filePattern, r.filesProcessed, r.eventsLoaded, r.tablesLoaded,
          r.errors, r.stringTruncations, r.xmlTruncations, r.binaryTruncations))
        .toDF("file_pattern", "files_processed", "events_loaded",
          "tables_loaded", "errors_encountered", "string_truncations",
          "xml_truncations", "binary_truncations")
    }),

    // F5/F6 companions MATERIALIZED BY THE LOAD PATH: the reference stores
    // a_query_hash_bin / a_query_plan_hash_bin and a_callstack_debugcmd as
    // columns in every event table at load time (`EventHolder.cs:216-232`,
    // `EventMetadata.cs:56-68`). Drive the CLI end-to-end over a rollover
    // set carrying both hash actions and a binary callstack, then read the
    // DEMUXED STORE and return the companion columns AS STORED — zero
    // re-derivation on the query side, so a load path that fails to
    // materialize them breaks this query's schema, not just its hash.
    "xe_companions_load" -> ((spark, dir) => {
      val inDir = Scratch.dir(spark, "graft_xelb_comp_in", dir)
      val outDir = Scratch.dir(spark, "graft_xelb_comp_out", dir) + "/demux"
      val slice = XeFixture.frame(spark, dir)
        .filter(col("c_event_sequence") <= 10000)
        .select(col("e_imported_file_id"), col("c_event_sequence"),
          col("e_time_of_event_utc"),
          col("a_query_hash"),
          (col("a_query_hash") + 7).as("a_query_plan_hash"),
          unhex(concat(F.hashToBinHex(col("a_query_hash")), lit("DEADBEEF")))
            .as("a_callstack"),
          col("event_name"))
      RolloverSet.writeByKey(XelbEncoder, slice, "e_imported_file_id", inDir)
      graft.xel.LoaderMain.run(spark,
        graft.xel.LoaderMain.parseArgs(Array(s"-D$inDir", s"-o$outDir"))
          .fold(m => throw new IllegalStateException(m), identity))
      spark.read.parquet(outDir)
        .select(col("c_event_sequence"),
          hex(col("a_query_hash_bin")).as("hash_bin_hex"),
          hex(col("a_query_plan_hash_bin")).as("plan_hash_bin_hex"),
          col("a_callstack_debugcmd"))
        .orderBy("c_event_sequence")
    }),

    // D6 schema evolution through the WHOLE CLI lifecycle: generation 1
    // (base columns) loads first; generation 2 arrives with a NEW column
    // (the mid-session ALTER the reference handles via diff-and-ALTER,
    // `EventMetadata.cs:400-455`) and appends with -a. The merged store
    // must back-fill generation-1 rows with NULL for the added column —
    // the oracle checks exactly that split, so a wrong merge (dropped
    // column, misaligned rows, non-null garbage) breaks the hash.
    "xe_evolution_load" -> ((spark, dir) => {
      val inDir1 = Scratch.dir(spark, "graft_xelb_evo_in1", dir)
      val inDir2 = Scratch.dir(spark, "graft_xelb_evo_in2", dir)
      val outDir = Scratch.dir(spark, "graft_xelb_evo_out", dir) + "/demux"
      val base = XeFixture.frame(spark, dir)
        .filter(col("c_event_sequence") <= 20000)
        .select(col("e_imported_file_id"), col("c_event_sequence"),
          col("c_session_id"), col("c_duration_us"),
          col("e_time_of_event_utc"), col("event_name"))
      val gen1 = base.filter(col("e_imported_file_id").isin(1L, 2L))
      val gen2 = base.filter(col("e_imported_file_id").isin(3L, 4L))
        .withColumn("c_extra_flag", col("c_session_id") % 2 === 0)
      RolloverSet.writeByKey(XelbEncoder, gen1, "e_imported_file_id", inDir1)
      RolloverSet.writeByKey(XelbEncoder, gen2, "e_imported_file_id", inDir2)
      def load(in: String, extra: String*): Unit =
        graft.xel.LoaderMain.run(spark,
          graft.xel.LoaderMain.parseArgs(Array(s"-D$in", s"-o$outDir") ++ extra)
            .fold(m => throw new IllegalStateException(m), identity))
      load(inDir1)
      load(inDir2, "-a")
      spark.read.option("mergeSchema", "true").parquet(outDir)
        .groupBy(col("event_name"))
        .agg(count(lit(1)).as("n"),
          // non-null count: generation-1 rows MUST read back as NULL
          count(col("c_extra_flag")).as("n_evolved_rows"),
          sum(when(col("c_extra_flag"), 1L).otherwise(0L)).as("n_extra_true"),
          countDistinct(col("c_session_id")).as("n_sessions"))
        .orderBy("event_name")
    }),

    // Full-width XELB ingest: a BinaryType callstack (plus decimal-38
    // UInt64 companion, boolean, int) written and read through
    // format("xelb") — the §1.3 type table carried end-to-end through the
    // binary source into the F6 debugger-command expression. The reference
    // cannot load a callstack except as varbinary (`EventMetadata.cs:270`,
    // `EventHolder.cs:226-232`); this is that path, Spark-side.
    "xe_xelb_callstack" -> ((spark, dir) => {
      val xelbDir = Scratch.dir(spark, "graft_xelb_cs", dir)
      XeFixture.frame(spark, dir)
        .filter(col("c_event_sequence") <= 10000)
        .select(
          col("e_imported_file_id"),
          col("c_event_sequence"),
          unhex(concat(F.hashToBinHex(col("a_query_hash")), lit("DEADBEEF")))
            .as("a_callstack"),
          col("a_query_hash").cast("decimal(38,0)").as("a_query_hash_dec"),
          (col("c_duration_us") % 2 === 0).as("c_even_duration"),
          col("c_session_id").cast("int").as("c_session_id_i"))
        .repartition(col("e_imported_file_id"))
        .write.format("xelb").mode("append").save(xelbDir)
      spark.read.format("xelb").load(xelbDir)
        .select(
          col("c_event_sequence"),
          hex(col("a_callstack")).as("a_callstack_hex"),
          F.callstackDebugCmd(col("a_callstack"), 8, "ln").as("a_callstack_debugcmd"),
          // the decimal(38,0) rides the binary codec end-to-end (that is
          // the point of this query); stringify only at the compare edge —
          // wide decimals survive parquet exactly but lose precision in
          // the oracle harness's decimal→double dataframe conversion
          col("a_query_hash_dec").cast("string").as("a_query_hash_dec"),
          col("c_even_duration"),
          col("c_session_id_i"))
        .orderBy("c_event_sequence")
    }),

    // S1 through the XELN session container: heterogeneous event records
    // (every event type interleaved in each rollover file, exactly what an
    // XE session emits) written DISTRIBUTED from the executors, read back
    // through the metadata-tree-driven union-schema scan with per-record
    // event-id dispatch, then demuxed by the aggregate — the reference's
    // central loop (`FileProcessor.cs:224-227` → `EventHolder.cs:54-67`)
    // as one declarative query.
    "xe_xel_native_scan" -> ((spark, dir) => {
      import graft.xel.EventSchema.{EventMeta, FieldMeta, SessionMeta}
      val xelnDir = Scratch.dir(spark, "graft_xelb_native", dir)
      // severity is a MAP-TYPED field (F7): the wire stores the 2-byte
      // map key, the metadata carries key→display, and the scan surfaces
      // the resolved display string — putting the resolution round-trip
      // under the oracle gate (a wrong lookup breaks the hash compare)
      val severityMap = Seq(0 -> "low", 1 -> "medium", 2 -> "high", 3 -> "critical")
      val fields = Seq(
        FieldMeta("session_id", "System.Int64"),
        FieldMeta("duration_us", "System.Int64"),
        FieldMeta("statement", "System.String"),
        FieldMeta("severity", graft.xel.EventSchema.MapValueClr, severityMap))
      val eventTypes = graft.xel.XeFixture.eventNameMap.map(_._2)
      val meta = SessionMeta(eventTypes.map(EventMeta(_, fields)),
        actions = Seq(FieldMeta("query_hash", "System.Int64")))
      val sevDisplay = severityMap.foldRight(lit(null).cast("string")) {
        case ((k, d), acc) =>
          when(pmod(col("c_session_id"), lit(4L)) === k, lit(d)).otherwise(acc)
      }
      val union = XeFixture.frame(spark, dir)
        .filter(col("c_event_sequence") <= 30000)
        .select(col("event_name"), col("c_event_sequence"),
          col("e_time_of_event_utc"), col("c_session_id"),
          col("c_duration_us"), col("c_statement"),
          sevDisplay.as("c_severity"), col("a_query_hash"),
          col("e_imported_file_id"))
      RolloverSet.writeDistributed(XelNativeEncoder(meta),
        union.repartition(col("e_imported_file_id")), xelnDir)
      scanSummary(spark.read.format("xelnative").load(xelnDir),
        countDistinct(col("c_severity")).as("n_severities"),
        sum(when(col("c_severity") === "critical", 1L).otherwise(0L))
          .as("n_critical"))
    }),

    // The canonical XE latency analysis: exact p50/p95/p99 duration per
    // event type. Spark's `percentile` and DuckDB's `quantile_cont` share
    // the R-7 interpolation, so exact quantiles hash-match; at 100 TB the
    // approx_percentile sketch replaces it (same query shape).
    // The QUANTILE sketch beside the exact percentiles: log2-bucket
    // histogram (Sketches.logHistQuantiles) — ≤64 mergeable counters
    // per key instead of shuffling every value, the approx_percentile
    // swap-in xe_duration_quantiles' scale note promises, made
    // deterministic so it sits under the hash gate. Accuracy vs the
    // exact p50/p95/p99 is pinned in BloomCmsSpec.
    "sketch_quantile_hist" -> ((spark, dir) => {
      graft.corpus.Sketches.logHistQuantiles(
        XeFixture.frame(spark, dir), "event_name", "c_duration_us",
        Seq(("p50", 1, 2), ("p95", 19, 20), ("p99", 99, 100)))
        .orderBy("event_name", "q")
    }),

    "xe_duration_quantiles" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .groupBy(col("event_name"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(c_duration_us, array(0.5, 0.95, 0.99))").as("q"),
          max(col("c_duration_us")).as("max_duration_us"))
        .select(col("event_name"), col("n"),
          round(element_at(col("q"), 1), 6).as("p50"),
          round(element_at(col("q"), 2), 6).as("p95"),
          round(element_at(col("q"), 3), 6).as("p99"),
          col("max_duration_us"))
        .orderBy("event_name")
    }),

    // S7/lineage: per-imported-file load summary — what the tracking table
    // `dbo.tbl_ImportedXEventFiles` answers (`InputParameters.cs:517-563`).
    "xe_lineage" -> ((spark, dir) => {
      XeFixture.frame(spark, dir)
        .groupBy(col("e_imported_file_id"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_name")).as("n_event_types"),
          min(col("e_time_of_event_utc")).as("first_event"),
          max(col("e_time_of_event_utc")).as("last_event"))
        .orderBy("e_imported_file_id")
    })
  )

  /** Byte-reverse a 16-hex-char string in pure SQL: swap the 8 hex pairs.
    * Used by the callstack oracle to compute the frame hex without blob ops
    * (SURVEY.md §7.4: keep binary at the edges as hex strings). */
  private def revPairsSql(h: String): String =
    (7 to 0 by -1).map(i => s"substring($h, ${i * 2 + 1}, 2)").mkString(" || ")

  def oracles: Map[String, String] = {
    val cte = XeFixture.sqlCte
    // the oracle of [[scanSummary]] over the first `maxSeq` events
    def scanSummarySql(maxSeq: Int, extra: String): String =
      s"""$cte
         |SELECT event_name,
         |       count(*) AS n,
         |       CAST(sum(c_duration_us) AS BIGINT) AS total_duration_us,
         |       count(DISTINCT c_session_id) AS n_sessions,
         |       max(c_event_sequence) AS max_seq,
         |       CAST(sum(a_query_hash) AS BIGINT) AS hash_sum,
         |       $extra
         |FROM xe WHERE c_event_sequence <= $maxSeq
         |GROUP BY event_name ORDER BY event_name""".stripMargin
    Map(
      "xe_callstack" ->
        s"""$cte,
           |cs AS (
           |  SELECT c_event_sequence,
           |         lpad(to_hex(a_query_hash), 16, '0') AS frame_hex
           |  FROM xe
           |)
           |SELECT c_event_sequence,
           |       frame_hex || 'DEADBEEF' AS a_callstack_hex,
           |       'ln ' || ${revPairsSql("frame_hex")} || ';' AS a_callstack_debugcmd,
           |       substring(frame_hex || 'DEADBEEF', 1, 10) AS trunc5_hex
           |FROM cs ORDER BY c_event_sequence""".stripMargin,

      "xe_file_pattern" ->
        s"""$cte,
           |named AS (
           |  SELECT xe.*,
           |         'GraftSession_' || e_imported_file_id || '_240101.xel' AS file_name
           |  FROM xe
           |)
           |SELECT file_name,
           |       regexp_extract(file_name, '^(.*)_[^_]+_[^_]+\\.xel$$', 1) AS session_pattern,
           |       count(*) AS n_events
           |FROM named
           |WHERE regexp_matches(file_name, '(?i)^graftsession.*\\.xel$$')
           |GROUP BY 1, 2 ORDER BY file_name""".stripMargin,
      "xe_shape" ->
        s"""$cte
           |SELECT
           |  c_event_sequence,
           |  e_imported_file_id,
           |  e_time_of_event,
           |  e_time_of_event_utc,
           |  e_time_of_event_local,
           |  c_session_id,
           |  c_duration_us,
           |  CASE WHEN event_name IN ('module_start','module_end') THEN ''
           |       WHEN length(c_statement) > $demoStringLimit THEN substring(c_statement, 1, $demoStringLimit)
           |       ELSE c_statement END AS c_statement,
           |  CASE WHEN length(c_statement) > $demoStringLimit THEN 1 ELSE 0 END AS stmt_truncated,
           |  a_query_hash,
           |  lpad(to_hex(a_query_hash), 16, '0') AS a_query_hash_hex,
           |  event_name
           |FROM xe
           |ORDER BY c_event_sequence""".stripMargin,

      "xe_demux_counts" ->
        s"""$cte
           |SELECT event_name,
           |       count(*) AS n_events,
           |       min(c_event_sequence) AS min_seq,
           |       max(c_event_sequence) AS max_seq,
           |       count(DISTINCT c_session_id) AS n_sessions
           |FROM xe GROUP BY event_name ORDER BY event_name""".stripMargin,

      "xe_truncation_stats" ->
        s"""$cte
           |SELECT e_imported_file_id,
           |       count(*) AS n_rows,
           |       CAST(sum(CASE WHEN length(c_statement) > $demoStringLimit THEN 1 ELSE 0 END) AS BIGINT) AS n_string_trunc,
           |       CAST(sum(length(c_statement)) AS BIGINT) AS total_chars,
           |       CAST(sum(length(CASE WHEN length(c_statement) > $demoStringLimit
           |                       THEN substring(c_statement, 1, $demoStringLimit)
           |                       ELSE c_statement END)) AS BIGINT) AS kept_chars
           |FROM xe GROUP BY e_imported_file_id ORDER BY e_imported_file_id""".stripMargin,

      "xe_rate_minute" ->
        s"""$cte
           |SELECT e_time_of_event AS minute, event_name,
           |       count(*) AS n,
           |       CAST(sum(c_duration_us) AS BIGINT) AS total_duration_us
           |FROM xe GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "xe_frames_explode" ->
        s"""$cte,
           |cs AS (
           |  SELECT c_event_sequence,
           |         lpad(to_hex(a_query_hash), 16, '0') || 'DEADBEEF' AS cs_hex
           |  FROM xe
           |), frames AS (
           |  SELECT c_event_sequence,
           |         CAST(i AS INTEGER) AS frame_idx,
           |         substring(cs_hex, CAST(i * 8 + 1 AS INTEGER), 8) AS frame_hex
           |  FROM cs, range(0, 3) t(i)
           |)
           |SELECT c_event_sequence, frame_idx, frame_hex,
           |       ${(3 to 0 by -1).map(j => s"substring(frame_hex, ${j * 2 + 1}, 2)")
                     .mkString(" || ")} AS frame_rev_hex
           |FROM frames ORDER BY c_event_sequence, frame_idx""".stripMargin,

      "xe_xml_extract" ->
        s"""$cte,
           |xp AS (
           |  SELECT event_name,
           |         '<event><duration>' || c_duration_us || '</duration><session>' ||
           |           c_session_id || '</session></event>' AS xml_payload
           |  FROM xe
           |)
           |SELECT event_name,
           |       count(*) AS n,
           |       CAST(sum(CAST(regexp_extract(xml_payload,
           |         '<duration>(-?[0-9]+)</duration>', 1) AS BIGINT)) AS BIGINT) AS sum_xml_duration,
           |       count(DISTINCT regexp_extract(xml_payload,
           |         '<session>([^<]*)</session>', 1)) AS n_xml_sessions
           |FROM xp GROUP BY event_name ORDER BY event_name""".stripMargin,

      "xe_xelb_source_scan" ->
        s"""$cte
           |SELECT event_name,
           |       count(*) AS n,
           |       CAST(sum(c_duration_us) AS BIGINT) AS total_duration_us,
           |       count(DISTINCT c_session_id) AS n_sessions,
           |       max(c_event_sequence) AS max_seq
           |FROM xe WHERE c_event_sequence <= 20000
           |GROUP BY event_name ORDER BY event_name""".stripMargin,

      "xe_companions_load" ->
        s"""$cte,
           |cs AS (
           |  SELECT c_event_sequence,
           |         lpad(to_hex(a_query_hash), 16, '0') AS hash_hex,
           |         lpad(to_hex(a_query_hash + 7), 16, '0') AS plan_hex
           |  FROM xe WHERE c_event_sequence <= 10000
           |)
           |SELECT c_event_sequence,
           |       hash_hex AS hash_bin_hex,
           |       plan_hex AS plan_hash_bin_hex,
           |       'ln ' || ${revPairsSql("hash_hex")} || ';' AS a_callstack_debugcmd
           |FROM cs ORDER BY c_event_sequence""".stripMargin,

      "xe_evolution_load" ->
        s"""$cte
           |SELECT event_name,
           |       count(*) AS n,
           |       count(CASE WHEN e_imported_file_id IN (3, 4)
           |                  THEN 1 END) AS n_evolved_rows,
           |       CAST(sum(CASE WHEN e_imported_file_id IN (3, 4)
           |                      AND c_session_id % 2 = 0
           |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extra_true,
           |       count(DISTINCT c_session_id) AS n_sessions
           |FROM xe WHERE c_event_sequence <= 20000
           |GROUP BY event_name ORDER BY event_name""".stripMargin,

      "xe_xml_source_scan" -> scanSummarySql(20000,
        """count(DISTINCT c_statement) AS n_statements,
          |       max(e_time_of_event_utc) AS last_event""".stripMargin),

      "xe_loader_stats" ->
        s"""$cte
           |SELECT 'GraftSession_*' AS file_pattern,
           |       CAST(count(DISTINCT e_imported_file_id) AS BIGINT) AS files_processed,
           |       CAST(count(*) AS BIGINT) AS events_loaded,
           |       CAST(count(DISTINCT event_name) AS BIGINT) AS tables_loaded,
           |       CAST(0 AS BIGINT) AS errors_encountered,
           |       CAST(sum(CASE WHEN length(c_statement) > $demoStringLimit
           |                THEN 1 ELSE 0 END) AS BIGINT) AS string_truncations,
           |       CAST(0 AS BIGINT) AS xml_truncations,
           |       CAST(0 AS BIGINT) AS binary_truncations
           |FROM xe WHERE c_event_sequence <= 20000""".stripMargin,

      "xe_xel_native_scan" -> scanSummarySql(30000,
        """count(DISTINCT CASE ((c_session_id % 4) + 4) % 4
          |         WHEN 0 THEN 'low' WHEN 1 THEN 'medium'
          |         WHEN 2 THEN 'high' ELSE 'critical' END) AS n_severities,
          |       CAST(sum(CASE WHEN ((c_session_id % 4) + 4) % 4 = 3
          |                THEN 1 ELSE 0 END)
          |            AS BIGINT) AS n_critical""".stripMargin),

      "xe_xelb_callstack" ->
        s"""$cte,
           |cs AS (
           |  SELECT c_event_sequence,
           |         lpad(to_hex(a_query_hash), 16, '0') AS frame_hex,
           |         a_query_hash,
           |         c_duration_us % 2 = 0 AS c_even_duration,
           |         CAST(c_session_id AS INTEGER) AS c_session_id_i
           |  FROM xe WHERE c_event_sequence <= 10000
           |)
           |SELECT c_event_sequence,
           |       frame_hex || 'DEADBEEF' AS a_callstack_hex,
           |       'ln ' || ${revPairsSql("frame_hex")} || ';' AS a_callstack_debugcmd,
           |       CAST(CAST(a_query_hash AS DECIMAL(38,0)) AS VARCHAR) AS a_query_hash_dec,
           |       c_even_duration,
           |       c_session_id_i
           |FROM cs ORDER BY c_event_sequence""".stripMargin,

      "sketch_quantile_hist" ->
        s"""$cte,
           |pos AS (
           |  SELECT event_name, c_duration_us AS v FROM xe WHERE c_duration_us > 0
           |), hist AS (
           |  SELECT event_name, length(bin(v)) - 1 AS b, count(*) AS n
           |  FROM pos GROUP BY 1, 2
           |), cum AS (
           |  SELECT *,
           |         CAST(sum(n) OVER (PARTITION BY event_name ORDER BY b) AS BIGINT) AS cum,
           |         CAST(sum(n) OVER (PARTITION BY event_name) AS BIGINT) AS total
           |  FROM hist
           |), qs AS (
           |  SELECT * FROM (VALUES ('p50', 1, 2), ('p95', 19, 20), ('p99', 99, 100))
           |    AS t(q, qnum, qden)
           |), j AS (
           |  SELECT c.event_name, s.q, c.total, c.b, c.cum, c.n,
           |         (c.total * s.qnum + s.qden - 1) // s.qden AS need,
           |         (CAST(1 AS BIGINT) << c.b) AS lo
           |  FROM cum c CROSS JOIN qs s
           |)
           |SELECT event_name, q,
           |       CAST(min(total) AS BIGINT) AS n_total,
           |       CAST(min_by(lo + ((need - (cum - n)) * lo) // n, b) AS BIGINT) AS est
           |FROM j WHERE cum >= need
           |GROUP BY event_name, q ORDER BY event_name, q""".stripMargin,

      "xe_duration_quantiles" ->
        s"""$cte
           |SELECT event_name,
           |       count(*) AS n,
           |       round(quantile_cont(c_duration_us, 0.5), 6) AS p50,
           |       round(quantile_cont(c_duration_us, 0.95), 6) AS p95,
           |       round(quantile_cont(c_duration_us, 0.99), 6) AS p99,
           |       max(c_duration_us) AS max_duration_us
           |FROM xe GROUP BY event_name ORDER BY event_name""".stripMargin,

      "xe_lineage" ->
        s"""$cte
           |SELECT e_imported_file_id,
           |       count(*) AS n_events,
           |       count(DISTINCT event_name) AS n_event_types,
           |       min(e_time_of_event_utc) AS first_event,
           |       max(e_time_of_event_utc) AS last_event
           |FROM xe GROUP BY e_imported_file_id ORDER BY e_imported_file_id""".stripMargin
    )
  }
}
