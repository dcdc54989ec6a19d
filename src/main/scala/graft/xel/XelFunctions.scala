package graft.xel

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The scalar-transform library — Spark-native re-expression of the
 * reference's hard-coded per-row transforms (SURVEY.md §2.3, F1–F9).
 * Everything here is a pure `Column => Column` built from codegen'd
 * built-ins, so each transform participates in whole-stage codegen and is
 * visible to Catalyst (constant folding, pushdown through projections).
 * The one loop-shaped transform (callstack frame formatting, F6) is a
 * custom Catalyst `Expression` in [[CallstackDebugCmd]].
 */
object XelFunctions {

  // --- F1: time-of-event triple (`XELoader/EventHolder.cs:106-114`) -------

  /** `e_time_of_event`: the reference stores this as SQL `smalldatetime`
    * (minute-ish precision, for graphing — `EventMetadata.cs:307-308`);
    * we make the rounding explicit instead of hiding it in a storage type. */
  def timeOfEvent(tsUtc: Column): Column = date_trunc("minute", tsUtc)

  /** `e_time_of_event_utc`: full-precision UTC instant. */
  def timeOfEventUtc(tsUtc: Column): Column = tsUtc

  /** `e_time_of_event_local`: UTC → configured zone
    * (`TimeZoneInfo.ConvertTimeFromUtc`, `EventHolder.cs:111-114`). */
  def timeOfEventLocal(tsUtc: Column, zone: String): Column =
    if (zone == "UTC") tsUtc else from_utc_timestamp(tsUtc, zone)

  // --- F2/F3/F4: width truncation (`XELoader/EventHolder.cs:273-339`) -----

  /** F2 (strings) / F3 (XML strings): keep at most `limit` chars. Works for
    * F4 (binary) too — Spark's `substring` slices `BinaryType` by bytes.
    * The reference's F4 has a copy-length bug (`EventHolder.cs:327` uses the
    * string limit); we implement the intended binary-limit semantics. */
  def truncate(c: Column, limit: Int): Column =
    when(exceeds(c, limit), substring(c, 1, limit)).otherwise(c)

  /** 1 when the value would be truncated at `limit`, else 0 — the per-run
    * truncation counters (`EventHolder.cs:284,306,328`) become
    * `sum(truncatedFlag(...))` aggregates instead of locked mutable ints. */
  def truncatedFlag(c: Column, limit: Int): Column =
    when(exceeds(c, limit), lit(1L)).otherwise(lit(0L))

  /** `length(c) > limit`, with the character count only for values whose
    * byte length exceeds the limit: a UTF-8 string never has more
    * characters than bytes, and the byte length is stored, not scanned. */
  private def exceeds(c: Column, limit: Int): Column =
    octet_length(c) > limit && length(c) > limit

  // --- F5: hash → 8-byte big-endian binary companion ----------------------
  // (`XELoader/EventHolder.cs:216-225`: BitConverter.GetBytes(UInt64)
  // little-endian, then Reverse() → big-endian bytes, for joining against
  // DMV captures that expose binary handles.)

  /** Big-endian 8-byte binary of an unsigned-64 hash carried in a long. */
  def hashToBin(hash: Column): Column = unhex(hashToBinHex(hash))

  /** Hex-string form of [[hashToBin]] — used at query edges where the
    * DuckDB oracle compares strings rather than blobs (SURVEY.md §7.4).
    *
    * The hash may arrive as a LONG (fixtures) or as the DECIMAL(38,0)
    * the sources synthesize for XE's uint64 — and HALF the uint64 space
    * does not fit a signed long, where a bare cast NULLs (non-ANSI) and
    * silently loses the companion. Values ≥ 2^63 are re-centered by
    * 2^64 first, so the two's-complement bit pattern — which IS the
    * unsigned big-endian byte string — survives the cast exactly. */
  def hashToBinHex(hash: Column): Column = {
    val d = hash.cast("decimal(38,0)")
    val two63 = lit(new java.math.BigDecimal("9223372036854775808"))
    val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
    val asLong = when(d >= two63, (d - two64).cast("long"))
      .otherwise(d.cast("long"))
    lpad(hex(asLong), 16, "0")
  }

  // --- F6: callstack → debugger command ------------------------------------
  // (`XELoader/EventHolder.cs:341-358`): split the blob into
  // floor(len/frameLength) frames, reverse each frame's bytes, uppercase-hex
  // them, emit "<cmd> <HEX>;" per frame, concatenated. Custom Expression so
  // the loop stays inside codegen; see CallstackExpr.scala.

  def callstackDebugCmd(callstack: Column, frameLength: Int, cmd: String): Column =
    CallstackDebugCmd.toColumn(callstack, frameLength, cmd)

  // --- F8: module_start/module_end statement workaround --------------------
  // (`XELoader/EventHolder.cs:164-177`: those events declare `statement` as
  // XML but carry raw text on SQL 2012/2014 — the reference blanks it.)

  val moduleEvents: Seq[String] = Seq("module_start", "module_end")

  def moduleStatementFix(eventName: Column, statement: Column): Column =
    when(eventName.isin(moduleEvents: _*), lit("")).otherwise(statement)

  // --- P6: column prefixing (`XELoader/EventMetadata.cs:59-71,111`) --------

  def fieldCol(name: String): String = "c_" + name
  def actionCol(name: String): String = "a_" + name

  // --- P4/P5: drop lists ----------------------------------------------------

  /** Actions that carry no loadable data (`EventMetadata.cs:50-55`). */
  val droppedActions: Set[String] =
    Set("debug_break", "create_dump_single_thread", "create_dump_all_threads")

  /** Fields kept as NULL columns (`EventHolder.cs:145-148`). */
  val nulledFields: Set[String] = Set("data_stream")
}
