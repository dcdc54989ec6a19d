package graft

import graft.xel.{CallstackOps, XelFunctions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class XelFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  // --- F2: truncation boundaries L-1, L, L+1 (FIXTURES.md §3) -------------
  test("string truncation at boundary lengths") {
    val L = 8
    val rows = Seq("a" * (L - 1), "a" * L, "a" * (L + 1), "")
      .toDF("s")
      .select(F.truncate($"s", L).as("t"), F.truncatedFlag($"s", L).as("f"))
      .collect()
    assert(rows.map(_.getString(0).length).toSeq == Seq(L - 1, L, L, 0))
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 0L, 1L, 0L))
  }

  test("truncation never yields length > L; flag fires iff len > L (property)") {
    val L = 16
    val rng = new scala.util.Random(42)
    val ss = (0 to 40).map(n => rng.alphanumeric.take(n).mkString)
    val got = ss.toDF("s")
      .select(length(F.truncate($"s", L)).as("l"), F.truncatedFlag($"s", L).as("f"), length($"s").as("orig"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(0) <= L)
      assert((r.getLong(1) == 1L) == (r.getInt(2) > L))
    }
  }

  test("multi-byte values: the limit counts characters, not bytes") {
    val L = 4
    val rows = Seq("é" * 3, "é" * 5).toDF("s") // 3 chars/6 bytes, 5 chars/10 bytes
      .select(F.truncate($"s", L).as("t"), F.truncatedFlag($"s", L).as("f"))
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("é" * 3, "é" * 4))
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 1L))
  }

  // --- F4: binary truncation uses the BINARY limit (reference bug not
  // reproduced — `XELoader/EventHolder.cs:327` uses the string limit) ------
  test("binary truncation slices bytes at the binary limit") {
    val bytes = Array.range(0, 12).map(_.toByte)
    val out = Seq(Tuple1(bytes)).toDF("b")
      .select(F.truncate($"b", 8).as("t")).collect()(0).getAs[Array[Byte]](0)
    assert(out.toSeq == bytes.take(8).toSeq)
  }

  // --- F5: hash→bin known vector (`XELoader/EventHolder.cs:216-225`) ------
  test("query_hash binary companion is big-endian bytes of the u64") {
    val df = Seq(0x0123456789ABCDEFL).toDF("h")
      .select(F.hashToBin($"h").as("bin"), F.hashToBinHex($"h").as("hx"))
    val r = df.collect()(0)
    assert(r.getAs[Array[Byte]](0).toSeq ==
      Seq(0x01, 0x23, 0x45, 0x67, 0x89, 0xAB, 0xCD, 0xEF).map(_.toByte))
    assert(r.getString(1) == "0123456789ABCDEF")
  }

  test("hash hex is zero-padded to 16") {
    val r = Seq(255L).toDF("h").select(F.hashToBinHex($"h")).collect()(0)
    assert(r.getString(0) == "00000000000000FF")
  }

  test("uint64 hashes past 2^63 keep their big-endian bytes (DECIMAL source)") {
    // the sources map XE's uint64 to DECIMAL(38,0); a bare long cast
    // NULLs half the hash space and silently loses the DMV companion
    val df = Seq("9223372036854775808",      // 2^63
                 "18446744073709551615",     // 2^64 - 1
                 "81985529216486895")        // fits signed: passthrough
      .toDF("s").select(col("s").cast("decimal(38,0)").as("h"))
      .select(F.hashToBinHex(col("h")).as("hx"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("8000000000000000", "FFFFFFFFFFFFFFFF", "0123456789ABCDEF"))
  }

  // --- F6: callstack frames (`XELoader/EventHolder.cs:341-358`) -----------
  test("callstack: frame reversal, hex case, trailing remainder dropped") {
    def fmt(bytes: Array[Byte], fl: Int, cmd: String = "ln") =
      CallstackOps.format(bytes, fl, UTF8String.fromString(cmd)).toString
    assert(fmt(Array.empty, 8) == "")
    // one 8-byte frame 01..08 → reversed hex
    val b8 = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    assert(fmt(b8, 8) == "ln 0807060504030201;")
    // 16 bytes → two frames
    assert(fmt(b8 ++ b8.map(b => (b + 8).toByte), 8) ==
      "ln 0807060504030201;ln 100F0E0D0C0B0A09;")
    // 20 bytes, frame 8 → floor(20/8)=2 frames, 4 remainder bytes dropped
    assert(fmt(Array.range(1, 21).map(_.toByte), 8) ==
      "ln 0807060504030201;ln 100F0E0D0C0B0A09;")
    // frame length 4
    assert(fmt(b8, 4) == "ln 04030201;ln 08070605;")
    // custom command
    assert(fmt(b8, 8, "u") == "u 0807060504030201;")
  }

  test("callstack expression end-to-end through a DataFrame (codegen path)") {
    val got = Seq(Tuple1(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9)))
      .toDF("cs")
      .select(F.callstackDebugCmd($"cs", 8, "ln").as("cmd"))
      .collect()(0).getString(0)
    assert(got == "ln 0807060504030201;")
  }

  test("callstack expression handles nulls") {
    val got = Seq(Tuple1(null: Array[Byte])).toDF("cs")
      .select(F.callstackDebugCmd($"cs", 8, "ln")).collect()(0)
    assert(got.isNullAt(0))
  }

  // --- F1: time triple ------------------------------------------------------
  test("time-of-event triple: minute truncation, UTC identity, zone shift") {
    val ts = java.sql.Timestamp.valueOf("2024-03-10 06:59:31.123456") // pre-DST-jump UTC
    val df = Seq(ts).toDF("ts").select(
      F.timeOfEvent($"ts").as("t"),
      F.timeOfEventUtc($"ts").as("u"),
      F.timeOfEventLocal($"ts", "America/Los_Angeles").as("l"),
      F.timeOfEventLocal($"ts", "UTC").as("lu"))
    val r = df.collect()(0)
    assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-03-10 06:59:00"))
    assert(r.getTimestamp(1) == ts)
    // 06:59 UTC on 2024-03-10 is 22:59 PST (day before, -8h; DST flips at 10:00 UTC)
    assert(r.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-03-09 22:59:31.123456"))
    assert(r.getTimestamp(3) == ts)
  }

  test("time-of-event local across the DST jump") {
    val after = java.sql.Timestamp.valueOf("2024-03-10 11:00:00") // post-jump: -7h
    val r = Seq(after).toDF("ts")
      .select(F.timeOfEventLocal($"ts", "America/Los_Angeles")).collect()(0)
    assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2024-03-10 04:00:00"))
  }

  // --- F8 -------------------------------------------------------------------
  test("module_start/module_end statement blanked, others untouched") {
    val df = Seq(("module_start", "xml-ish"), ("module_end", "t"), ("rpc_completed", "keep"))
      .toDF("event_name", "stmt")
      .select($"event_name", F.moduleStatementFix($"event_name", $"stmt").as("s"))
    assert(df.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("module_start" -> "", "module_end" -> "", "rpc_completed" -> "keep"))
  }

  test("approx_percentile is an accurate swap-in for the exact quantiles") {
    // xe_duration_quantiles uses exact percentile for the oracle gate;
    // the documented 100 TB path is approx_percentile (bounded-memory
    // mergeable sketch vs a full per-group sort). This pins the swap-in's
    // accuracy at fixture scale so the claim is tested, not asserted.
    import graft.xel.XeFixture
    val xe = XeFixture.frame(spark, sf("sf0.001"))
    val both = xe.groupBy($"event_name")
      .agg(
        org.apache.spark.sql.functions.expr(
          "percentile(c_duration_us, array(0.5, 0.95))").as("exact"),
        org.apache.spark.sql.functions.expr(
          "approx_percentile(c_duration_us, array(0.5, 0.95), 1000)").as("approx"))
      .select($"event_name",
        element_at($"exact", 1).as("e50"), element_at($"approx", 1).as("a50"),
        element_at($"exact", 2).as("e95"), element_at($"approx", 2).as("a95"))
      .collect()
    assert(both.nonEmpty)
    // 5%: approx_percentile returns an OBSERVED value (no interpolation),
    // so at ~2k rows/group the inter-sample step dominates the error; at
    // real scale the sketch's rank bound (1/accuracy = 0.1%) dominates.
    both.foreach { r =>
      val (e50, a50) = (r.getDouble(1), r.getLong(2).toDouble)
      val (e95, a95) = (r.getDouble(3), r.getLong(4).toDouble)
      assert(math.abs(a50 - e50) <= math.max(0.05 * e50, 1.0),
        s"${r.getString(0)}: p50 approx $a50 vs exact $e50")
      assert(math.abs(a95 - e95) <= math.max(0.05 * e95, 1.0),
        s"${r.getString(0)}: p95 approx $a95 vs exact $e95")
    }
  }
}
