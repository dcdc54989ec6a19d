package graft

import graft.streaming.{EventStream, StreamTuning}
import graft.xel.XeFixture
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException,
  StreamingQueryProgress, StreamingQueryStatus, Trigger}

/** Structured Streaming ingest (SURVEY.md §2.9): the file source consumes
  * "rolled-over" event files exactly like the reference's batch loop, and
  * the windowed rollup must agree with its batch twin on the same data. */
class StreamingSpec extends SparkTestBase {

  test("streaming rateByMinute over file drops equals the batch rollup") {
    val events = XeFixture.frame(spark, sf("sf0.001"))
      .select("e_time_of_event_utc", "event_name", "c_duration_us")
    val dir = Files.createTempDirectory("graft-stream-in").toString
    val ckpt = Files.createTempDirectory("graft-stream-ck").toString
    // two "rollover" drops, like SessionName_1_*.xel / SessionName_2_*.xel
    events.filter(col("event_name") =!= "wait_info").write.parquet(s"$dir/drop1")
    events.filter(col("event_name") === "wait_info").write.parquet(s"$dir/drop2")

    val stream = EventStream.readEventDir(
      spark, s"$dir/drop*", events.schema, maxFilesPerTrigger = 1)
    val rollup = EventStream.rateByMinute(EventStream.withLateDataGuard(stream))

    val q = rollup.writeStream
      .format("memory")
      .queryName("rate_stream")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)

    // append mode only emits windows the watermark has closed; every
    // emitted row must match the batch rollup exactly, and the stream must
    // have made real progress across multiple micro-batches
    val got = spark.table("rate_stream")
    val batch = EventStream.rateByMinute(events)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0)
    assert(q.recentProgress.length > 1) // maxFilesPerTrigger=1 → several batches
  }

  test("stateful aggregation state survives a checkpoint restart") {
    // Run 1 sees PART of a window's events, then the query is torn
    // down entirely; run 2 is a NEW start() on the same checkpoint and
    // delivers the rest plus a later watermark-advancing drop. The
    // finalized window must count events from BOTH runs — only possible
    // if run 2 reloaded run 1's aggregation state from the checkpoint
    // instead of starting empty (a fresh-state restart undercounts;
    // losing the offsets log would double-count).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-restart-in").toString
    val ckpt = Files.createTempDirectory("graft-restart-ck").toString
    val out = Files.createTempDirectory("graft-restart-out").toString + "/sink"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val schema = Seq((ts("2024-01-01 00:00:00"), "a", 1L))
      .toDF("e_time_of_event_utc", "event_name", "c_duration_us").schema

    def runOnce(): Unit = {
      val stream = EventStream.readEventDir(
        spark, s"$dir/drop*", schema, maxFilesPerTrigger = 1)
      val q = EventStream.rateByMinute(EventStream.withLateDataGuard(stream))
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      StreamTuning.awaitEnd(q)
    }

    // run 1: three events in minute 0 — window stays OPEN (no watermark past it)
    Seq((ts("2024-01-01 00:00:01"), "a", 10L),
      (ts("2024-01-01 00:00:20"), "a", 10L),
      (ts("2024-01-01 00:00:40"), "b", 5L))
      .toDF("e_time_of_event_utc", "event_name", "c_duration_us")
      .coalesce(1).write.parquet(s"$dir/drop1")
    runOnce()

    // run 2 (fresh query object, same checkpoint): two more minute-0
    // events, then a separate LATER drop that advances the watermark
    // past minute 0. Each drop is one file (coalesce) and the advancer
    // is written second, so file order keeps the stragglers ahead of
    // the watermark bump — the test measures state recovery, not
    // event-time lateness.
    Seq((ts("2024-01-01 00:00:50"), "a", 10L),
      (ts("2024-01-01 00:00:55"), "b", 5L))
      .toDF("e_time_of_event_utc", "event_name", "c_duration_us")
      .coalesce(1).write.parquet(s"$dir/drop2")
    Thread.sleep(1100) // distinct mtime: the source orders files by it
    Seq((ts("2024-01-01 01:00:00"), "c", 1L))
      .toDF("e_time_of_event_utc", "event_name", "c_duration_us")
      .coalesce(1).write.parquet(s"$dir/drop3")
    runOnce()

    val got = spark.read.parquet(out)
      .filter(col("minute") === ts("2024-01-01 00:00:00"))
      .select("event_name", "n", "total_duration_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 3L, 30L), ("b", 2L, 10L)),
      s"minute-0 window must merge both runs' events, got $got")
  }

  test("streaming dedup: dropDuplicatesWithinWatermark removes replayed events") {
    import org.apache.spark.sql.streaming.Trigger
    val events = XeFixture.frame(spark, sf("sf0.001"))
      .select("c_event_sequence", "e_time_of_event_utc", "event_name")
      .limit(200)
    val dir = Files.createTempDirectory("graft-dedup-in").toString
    val ckpt = Files.createTempDirectory("graft-dedup-ck").toString
    // the same rollover file delivered twice — at-least-once ingestion
    events.write.parquet(s"$dir/drop1")
    events.write.parquet(s"$dir/drop2")
    val stream = EventStream.readEventDir(
      spark, s"$dir/drop*", events.schema, maxFilesPerTrigger = 1)
      .withWatermark("e_time_of_event_utc", "1 hour")
      .dropDuplicatesWithinWatermark("c_event_sequence")
    val q = stream.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    StreamTuning.awaitEnd(q)
    // every event exactly once despite double delivery
    assert(spark.table("dedup_stream").count() == events.count())
  }

  test("streaming ingest admission: stream-static anti-join matches batch twin") {
    val all = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val store = all.filter(col("doc_id") % 5 =!= 4)
    val newDocs = all.filter(col("doc_id") % 5 === 4)
    // the arriving drop replays three store texts under fresh ids —
    // exactly what at-least-once crawl re-delivery looks like
    val replayed = store.orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val arriving = newDocs.unionByName(replayed)
    val dir = Files.createTempDirectory("graft-ingest-in").toString
    val ckpt = Files.createTempDirectory("graft-ingest-ck").toString
    arriving.write.parquet(s"$dir/drop1")
    val digests = graft.streaming.IngestDedup.storeDigests(store, "text")
    val admitted = graft.streaming.IngestDedup.admit(
      spark.readStream.schema(arriving.schema).parquet(s"$dir/drop*"),
      digests, "text")
    val q = admitted.writeStream.format("memory").queryName("ingest_admit")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    StreamTuning.awaitEnd(q)
    val got = spark.table("ingest_admit").select("doc_id")
    // admit() is source-agnostic — the batch run on the same drop is the oracle
    val exp = graft.streaming.IngestDedup.admit(arriving, digests, "text")
      .select("doc_id")
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
    // the three replayed texts were refused; planted ids never surface
    val gotIds = got.collect().map(_.getLong(0)).toSet
    assert(replayed.collect().map(_.getLong(0)).forall(id => !gotIds(id)))
  }

  test("closed ingest loop: batch 2 refuses what batch 1 admitted; replay converges") {
    import spark.implicits._
    import graft.streaming.IngestDedup
    val dropDir = Files.createTempDirectory("graft-loop-in").toString
    val ckpt = Files.createTempDirectory("graft-loop-ck").toString
    val digestDir = Files.createTempDirectory("graft-loop-dg").toString + "/store"
    val corpusDir = Files.createTempDirectory("graft-loop-co").toString + "/corpus"
    val schema = Seq((0L, "x", "s")).toDF("doc_id", "text", "source").schema

    def runAvailable(): Unit = {
      val q = spark.readStream.schema(schema).parquet(s"$dropDir/drop*")
        .writeStream
        .foreachBatch(IngestDedup.admitLoop("text", digestDir, corpusDir))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      StreamTuning.awaitEnd(q)
    }

    // batch 1: two new docs — both admitted, digests recorded
    Seq((1L, "doc alpha body", "s"), (2L, "doc beta body", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dropDir/drop1")
    runAvailable()
    val after1 = spark.read.schema(schema).parquet(s"$corpusDir/batch=*")
    assert(after1.count() == 2)

    // batch 2: a dup of batch 1's admit (same text, new id) + one new doc
    // — the CLOSED loop refuses the dup without any static store supplied
    Seq((10L, "doc alpha body", "s"), (3L, "doc gamma body", "s"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dropDir/drop2")
    runAvailable()
    val after2 = spark.read.schema(schema).parquet(s"$corpusDir/batch=*")
    assert(after2.count() == 3, "dup of batch-1 admit must be refused")
    assert(!after2.select("doc_id").as[Long].collect().contains(10L))

    // replay of the LATEST batch (at-least-once redelivery — the engine
    // only ever redelivers the last uncommitted batch; an EARLIER id
    // reappearing is the restarted-checkpoint signature the loop now
    // refuses): per-batch overwrite converges — same corpus, same
    // digest store, no duplication, and the replayed batch must not
    // self-refuse against its own previous partition
    val b2 = Seq((10L, "doc alpha body", "s"), (3L, "doc gamma body", "s"))
      .toDF("doc_id", "text", "source")
    IngestDedup.admitLoop("text", digestDir, corpusDir)(b2, 1L)
    val after3 = spark.read.schema(schema).parquet(s"$corpusDir/batch=*")
    assert(after3.count() == 3, "replayed batch must overwrite, not duplicate")
    assert(!after3.select("doc_id").as[Long].collect().contains(10L),
      "the dup stays refused on replay")
    // digest store holds exactly the three admitted texts
    assert(IngestDedup.storeDirDigests(spark, digestDir).count() == 3)
  }

  test("batch rateByMinute agrees with the xe_rate_minute query semantics") {
    val xe = XeFixture.frame(spark, sf("sf0.001"))
    val viaWindow = EventStream.rateByMinute(xe)
      .withColumnRenamed("n", "n_w")
      .withColumnRenamed("total_duration_us", "d_w")
    val viaTrunc = xe.groupBy(col("e_time_of_event").as("minute"), col("event_name"))
      .agg(count(lit(1)).as("n_t"), sum(col("c_duration_us")).as("d_t"))
    val joined = viaWindow.join(viaTrunc, Seq("minute", "event_name"), "full")
    assert(joined.filter(col("n_w").isNull || col("n_t").isNull ||
      col("n_w") =!= col("n_t") || col("d_w") =!= col("d_t")).count() == 0)
  }

  test("streaming attribution join matches its batch twin on closed windows") {
    val ev = XeFixture.events(spark, sf("sf0.001"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")

    val cDir = Files.createTempDirectory("graft-attr-c").toString
    val pDir = Files.createTempDirectory("graft-attr-p").toString
    val ckpt = Files.createTempDirectory("graft-attr-ck").toString
    clicks.write.parquet(s"$cDir/drop1")
    purchases.write.parquet(s"$pDir/drop1")

    val cs = spark.readStream.schema(clicks.schema).parquet(s"$cDir/drop*")
    val ps = spark.readStream.schema(purchases.schema).parquet(s"$pDir/drop*")
    val joined = EventStream.attributionJoin(cs, ps,
      lookback = "30 minutes", lateness = "5 minutes")

    val q = joined.writeStream
      .format("memory").queryName("attr_stream").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)

    val got = spark.table("attr_stream")
    val batch = EventStream.attributionJoin(clicks, purchases,
      lookback = "30 minutes", lateness = "5 minutes")
    // stream-stream inner join with watermarks: every emitted row is a
    // true batch-join row, and the bulk of the batch result is emitted
    // (AvailableNow closes the watermark at end of input)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0)
    assert(got.count().toDouble / batch.count() > 0.8,
      s"too few rows emitted: ${got.count()} of ${batch.count()}")
  }

  test("streaming funnel state machine matches the batch window funnel") {
    import graft.streaming.{Funnel, FunnelEvent}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val ev = XeFixture.events(spark, sf("sf0.001"))
      .select(col("user_id"), col("ts"), col("event_type"))
    val dir = Files.createTempDirectory("graft-funnel").toString
    val ckpt = Files.createTempDirectory("graft-funnel-ck").toString
    ev.write.parquet(s"$dir/drop1")

    val stream = spark.readStream.schema(ev.schema).parquet(s"$dir/drop*")
      .as[FunnelEvent]
    val q = Funnel.funnel(stream).writeStream
      .format("memory").queryName("funnel_stream").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)
    val got = spark.table("funnel_stream")

    // batch truth: per user, tv = min view, tc = min click >= tv,
    // tp = min purchase >= tc; completion iff tp exists
    val w = Window.partitionBy("user_id")
    val batch = ev
      .withColumn("tv", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tc", min(when(col("event_type") === "click" && col("ts") >= col("tv"),
        col("ts"))).over(w))
      .withColumn("tp", min(when(col("event_type") === "purchase" && col("ts") >= col("tc"),
        col("ts"))).over(w))
      .groupBy("user_id")
      .agg(min("tv").as("t_view"), min("tc").as("t_click"), min("tp").as("t_purchase"))
      .filter(col("t_purchase").isNotNull)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("streaming funnel completes a same-instant view→click→purchase chain") {
    import graft.streaming.{Funnel, FunnelEvent}
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 12:00:00.000001")
    // deliberately out of stage order in the input: the tie-break sorts
    // equal timestamps view < click < purchase, matching batch >=
    val ev = Seq(
      FunnelEvent(1L, t, "purchase"),
      FunnelEvent(1L, t, "view"),
      FunnelEvent(1L, t, "click"),
      FunnelEvent(2L, t, "click")) // no view first: never completes
    val dir = Files.createTempDirectory("graft-funnel-tie").toString
    val ckpt = Files.createTempDirectory("graft-funnel-tie-ck").toString
    ev.toDF().write.parquet(s"$dir/drop1")
    val stream = spark.readStream.schema(ev.toDF().schema).parquet(s"$dir/drop*")
      .as[FunnelEvent]
    val q = Funnel.funnel(stream).writeStream
      .format("memory").queryName("funnel_tie").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)
    val got = spark.table("funnel_tie").collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L)
    assert(got(0).getTimestamp(1) == t && got(0).getTimestamp(3) == t)
  }

  test("KMV sketch aggregates across micro-batches to the batch estimate") {
    import graft.corpus.{Sketches, TextAnalysis => T}
    // the mergeable O(k) buffer is the property that matters in
    // streaming: partial sketches from separate micro-batches must merge
    // to exactly the batch sketch (KMV is deterministic, so equality is
    // exact, not approximate)
    val ev = XeFixture.events(spark, sf("sf0.001"))
      .select(col("event_type"), col("user_id"))
    val dir = Files.createTempDirectory("graft-kmv").toString
    val ckpt = Files.createTempDirectory("graft-kmv-ck").toString
    // two drops → at least two micro-batches with maxFilesPerTrigger=1
    val halves = ev.randomSplit(Array(0.5, 0.5), seed = 42)
    halves(0).write.parquet(s"$dir/drop1")
    halves(1).write.parquet(s"$dir/drop2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop*")
    val agg = stream.groupBy(col("event_type"))
      .agg(Sketches.kmvDistinct(64,
        T.hash60(col("user_id").cast("string"))).as("kmv_estimate"))
    val q = agg.writeStream
      .format("memory").queryName("kmv_stream").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)
    val got = spark.table("kmv_stream")
    val batch = ev.groupBy(col("event_type"))
      .agg(Sketches.kmvDistinct(64,
        T.hash60(col("user_id").cast("string"))).as("kmv_estimate"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("streaming JDBC sink: batch-id idempotence makes replays exactly-once") {
    val url = "jdbc:derby:memory:graftstream;create=true"
    val events = XeFixture.frame(spark, sf("sf0.001"))
      .select("e_time_of_event_utc", "event_name", "c_duration_us")
    val dir = Files.createTempDirectory("graft-jdbc-in").toString
    val ckpt = Files.createTempDirectory("graft-jdbc-ck").toString
    events.filter(col("event_name") =!= "wait_info").write.parquet(s"$dir/drop1")
    events.filter(col("event_name") === "wait_info").write.parquet(s"$dir/drop2")

    val stream = EventStream.readEventDir(
      spark, s"$dir/drop*", events.schema, maxFilesPerTrigger = 1)
    val rollup = EventStream.rateByMinute(EventStream.withLateDataGuard(stream))
    val q = rollup.writeStream
      .foreachBatch(EventStream.jdbcIdempotentAppend(url, "stream_rollup"))
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "stream_rollup").load()
    val total = back.count()
    assert(total > 0)
    // every sunk row matches the batch rollup twin
    val batchTwin = EventStream.rateByMinute(events)
    assert(back.drop("batch_id").exceptAll(batchTwin).count() == 0)

    // simulate an at-least-once replay of the last batch: same rows, same
    // batch id → delete-then-append converges, count unchanged
    val lastBatch = back.agg(max(col("batch_id"))).head().getLong(0)
    // materialize the replayed rows FIRST — a real replay hands the sink a
    // fresh source batch, not a lazy self-read of the sink table (which
    // would re-scan after the idempotence delete)
    val lazyReplay = back.filter(col("batch_id") === lastBatch).drop("batch_id")
    val replayRows = spark.createDataFrame(
      java.util.Arrays.asList(lazyReplay.collect(): _*), lazyReplay.schema)
    EventStream.jdbcIdempotentAppend(url, "stream_rollup")(replayRows, lastBatch)
    val after = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "stream_rollup").load().count()
    assert(after == total, s"replay duplicated rows: $total -> $after")

    // a RESTARTED checkpoint (batch ids reset to 0) over the same table
    // must be refused — under delete-by-batch-id it would overwrite the
    // old stream's batches one by one, silently (the signature the
    // file-store loops' manifest fence in CorpusManifest.IngestLoop
    // refuses, on the JDBC sink)
    val eAhead = intercept[IllegalArgumentException] {
      EventStream.jdbcIdempotentAppend(url, "stream_rollup")(replayRows, 0L)
    }
    assert(eAhead.getMessage.contains("restarted checkpoint") &&
      eAhead.getMessage.contains("beyond batch 0"),
      s"restart over a JDBC sink table must refuse, got: ${eAhead.getMessage}")
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "stream_rollup").load().count()
      == total, "the refused restart must not have deleted anything")
  }

  test("streaming JDBC sink: the ahead probe latches only after a real check and a successful append") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftlatch;create=true"
    def count(table: String): Long = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load().count()

    // --- an absent table on the first batch checks NOTHING: a table
    // restored externally (a backup holding higher batch_ids) after
    // that batch must still meet the probe through the SAME closure —
    // the old latch-on-first-batch skipped it for the closure's life
    val sink = EventStream.jdbcIdempotentAppend(url, "latch_absent")
    sink(Seq(("a", 1L)).toDF("k", "v"), 0L) // no table yet: nothing probed
    val conn = graft.xel.JdbcSink.connect(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate( // Spark's writer created case-exact quoted cols
        "INSERT INTO latch_absent (\"k\", \"v\", \"batch_id\") " +
          "VALUES ('old', 9, 99)")
      finally st.close()
    } finally conn.close()
    val preRestore = count("latch_absent")
    val eLate = intercept[IllegalArgumentException] {
      sink(Seq(("b", 2L)).toDF("k", "v"), 1L)
    }
    assert(eLate.getMessage.contains("batch_id 99") &&
      eLate.getMessage.contains("restarted checkpoint"),
      s"late-appearing table must still be probed, got: ${eLate.getMessage}")
    assert(count("latch_absent") == preRestore,
      "the refused batch must not have deleted or appended anything")

    // --- a failed FIRST append must not latch either: the in-process
    // retry through the same closure must re-run the probe (the same
    // chain-breaks-on-failed-batch discipline the file-store loops use)
    EventStream.jdbcIdempotentAppend(url, "latch_fail")(
      Seq(("seed", 1L)).toDF("k", "v"), 5L) // table now holds batch_id 5
    val c2 = EventStream.jdbcIdempotentAppend(url, "latch_fail")
    intercept[Exception] { // extra column: probe+DELETE succeed, append throws
      c2(Seq(("x", 1L, "boom")).toDF("k", "v", "no_such_col"), 7L)
    }
    val eRetry = intercept[IllegalArgumentException] {
      c2(Seq(("y", 2L)).toDF("k", "v"), 3L) // ahead table: must re-probe
    }
    assert(eRetry.getMessage.contains("beyond batch 3"),
      s"retry after a failed append must re-run the probe, got: " +
        eRetry.getMessage)
    assert(count("latch_fail") == 1,
      "the refused retry must not have deleted the seed row")
  }

  test("CMS sketch aggregates across micro-batches to the batch matrix") {
    import graft.corpus.{Sketches, TextAnalysis => T}
    // add-merge associativity under streaming: per-micro-batch partial
    // counter matrices must sum to exactly the batch CMS
    val ev = XeFixture.events(spark, sf("sf0.001"))
      .select(col("event_type"), col("user_id"))
    val dir = Files.createTempDirectory("graft-cms").toString
    val ckpt = Files.createTempDirectory("graft-cms-ck").toString
    val halves = ev.randomSplit(Array(0.5, 0.5), seed = 7)
    halves(0).write.parquet(s"$dir/drop1")
    halves(1).write.parquet(s"$dir/drop2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop*")
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type"))
        .agg(Sketches.cmsAgg(3, 64,
          Sketches.saltedPositions(col("user_id").cast("string"), 3, 64))
          .as("cms"))
    val q = sketchOf(stream).writeStream
      .format("memory").queryName("cms_stream").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)
    val got = spark.table("cms_stream")
    val batch = sketchOf(ev)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("HLL sketch aggregates across micro-batches to the batch registers") {
    import graft.corpus.{Sketches, TextAnalysis => T}
    // max-merge associativity under streaming: per-micro-batch register
    // maxima must merge to exactly the batch HLL registers (and hence
    // the same estimate)
    val ev = XeFixture.events(spark, sf("sf0.001"))
      .select(col("event_type"), col("user_id"))
    val dir = Files.createTempDirectory("graft-hll").toString
    val ckpt = Files.createTempDirectory("graft-hll-ck").toString
    val halves = ev.randomSplit(Array(0.5, 0.5), seed = 7)
    halves(0).write.parquet(s"$dir/drop1")
    halves(1).write.parquet(s"$dir/drop2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop*")
    def sketchOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type"))
        .agg(Sketches.hllSketch(T.hash60(col("user_id").cast("string"))).as("hll"))
    val q = sketchOf(stream).writeStream
      .format("memory").queryName("hll_stream").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)
    val got = spark.table("hll_stream")
    val batch = sketchOf(ev)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("lastTouch reduces attribution pairs to one most-recent purchase per click") {
    val ev = XeFixture.events(spark, sf("sf0.001"))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    val pairs = EventStream.attributionJoin(clicks, purchases,
      lookback = "30 minutes", lateness = "5 minutes")
    val lt = EventStream.lastTouch(pairs)
    // exactly one row per click, and it carries that click's max purch_ts
    assert(lt.count() == lt.select("click_id").distinct().count())
    val maxTs = pairs.groupBy("click_id").agg(max("purch_ts").as("purch_ts"))
    assert(lt.select("click_id", "purch_ts")
      .exceptAll(maxTs.select("click_id", "purch_ts")).count() == 0)
  }

  test("sidecar-store compaction: digest and postings loops stay decision-identical and tier") {
    import spark.implicits._
    import graft.streaming.{IngestDedup, NearDupIngest}
    val fsHome = Files.createTempDirectory("graft-store-compact").toString
    val fs = new org.apache.hadoop.fs.Path(fsHome)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirNames(d: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(d)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
    }

    // ---- exact-digest loop through compactEvery=2 over 7 batches ----
    // texts recur across batches: the reference is plain sequential
    // first-wins dedup over the exact text
    val texts = (0 until 7).map(b => (0 until 3).map(j =>
      ((b * 10 + j).toLong, s"text number ${(b * 3 + j) % 5}", "s")))
    val digDir = s"$fsHome/dig"; val dCorpus = s"$fsHome/dcorpus"
    var seen = Set.empty[String]
    var refAdmitted = Set.empty[Long]
    texts.zipWithIndex.foreach { case (rows, b) =>
      IngestDedup.admitLoop("text", digDir, dCorpus, compactEvery = 2)(
        rows.toDF("doc_id", "text", "source"), b.toLong)
      rows.foreach { case (id, t, _) =>
        if (!seen.contains(t)) refAdmitted += id }
      seen = seen ++ rows.map(_._2)
    }
    val schema = Seq((0L, "x", "s")).toDF("doc_id", "text", "source").schema
    def dIds = spark.read.schema(schema).parquet(s"$dCorpus/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(dIds == refAdmitted,
      s"compacted digest admission must equal sequential first-wins: $dIds")
    // the digest store is TIERED (runs + short tail), corpus untouched
    val dig = dirNames(digDir)
    assert(dig.exists(_.startsWith("run=")) &&
      dig.count(_.startsWith("batch=")) <= 2,
      s"digest store must hold runs + a short tail, got $dig")
    assert(dirNames(dCorpus).count(_.startsWith("batch=")) == 7,
      "the user-facing corpus layout must never be compacted")
    // replay of the last batch converges across the compacted store
    IngestDedup.admitLoop("text", digDir, dCorpus, compactEvery = 2)(
      texts.last.toDF("doc_id", "text", "source"), 6L)
    assert(dIds == refAdmitted, "replay over a compacted digest store")
    // restarted checkpoint refused by the run-aware guard
    val eAhead = intercept[IllegalArgumentException] {
      IngestDedup.admitLoop("text", digDir, dCorpus, compactEvery = 2)(
        texts.head.toDF("doc_id", "text", "source"), 0L)
    }
    assert(eAhead.getMessage.contains("beyond batch 0"),
      s"run-covered ids must trip the manifest fence in CorpusManifest.IngestLoop, " +
        s"got: ${eAhead.getMessage}")

    // ---- near-dup loop: postings compaction + crash-leftover read ----
    val nCorpus = s"$fsHome/ncorpus"
    def nLoop(rows: Seq[(Long, String, String)], id: Long): Unit =
      NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, nCorpus,
        compactEvery = 2)(rows.toDF("doc_id", "text", "source"), id)
    nLoop(Seq((1L, "the quick brown fox jumps over the lazy dog in the garden today", "s")), 0L)
    nLoop(Seq((2L, "completely different text about spark clusters here now", "s")), 1L)
    nLoop(Seq((3L, "a third distinct document with its own novel words", "s")), 2L)
    // batches 0,1 postings are now run=0-1; coverage check must accept it
    val post = dirNames(NearDupIngest.postingsDir(nCorpus))
    assert(post.contains("run=0-1"), s"postings must tier, got $post")
    // crash leftover: forge batch=0's postings dir back beside the run —
    // the READER itself must use only the EFFECTIVE source (double-served
    // postings rows would double common-shingle counts and flip Jaccard),
    // before any maintain pass gets to sweep it
    val bpSchema = NearDupIngest.batchPostings(
      Seq((0L, "a b c d", "s")).toDF("doc_id", "text", "source"),
      "doc_id", "text", 3).schema
    val preCount = NearDupIngest.storePostings(spark, nCorpus, bpSchema).count()
    // the leftover carries REAL rows (the run's own files copied back),
    // so a reader that naively unioned batch dirs with runs would
    // double-serve them — the count must not move
    val pRoot = NearDupIngest.postingsDir(nCorpus)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$pRoot/batch=0"))
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$pRoot/run=0-1"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
          new org.apache.hadoop.fs.Path(s"$pRoot/batch=0/${f.getPath.getName}"),
          false, spark.sparkContext.hadoopConfiguration)
        ()
      }
    assert(NearDupIngest.storePostings(spark, nCorpus, bpSchema).count()
      == preCount,
      "a superseded leftover must not change the rows the reader serves")
    nLoop(Seq((10L, "the quick brown fox jumps over the lazy dog in the garden tonight", "s"),
              (11L, "an entirely unrelated document with novel words", "s")), 3L)
    val nIds = spark.read.schema(schema).parquet(s"$nCorpus/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(nIds == Set(1L, 2L, 3L, 11L),
      s"near-dup refused through the compacted+leftover store, got $nIds")
    // the next maintain sweeps the superseded leftover
    assert(!dirNames(NearDupIngest.postingsDir(nCorpus)).contains("batch=0"),
      "maintain must sweep the superseded postings leftover")
  }

  test("near-dup ingest loop: reworded copies refused, dup-of-reject admitted, replay converges") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    val corpusDir = Files.createTempDirectory("graft-nd-co").toString + "/corpus"
    val schema = Seq((0L, "x", "s")).toDF("doc_id", "text", "source").schema
    def loop(rows: Seq[(Long, String, String)], id: Long): Unit =
      NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, corpusDir)(
        rows.toDF("doc_id", "text", "source"), id)
    def corpus = spark.read.schema(schema).parquet(s"$corpusDir/batch=*")

    // batch 0: empty store admits everything, within-batch near-dups too
    loop(Seq((1L, "the quick brown fox jumps over the lazy dog in the garden today", "s"),
             (2L, "the quick brown fox jumps over the lazy dog in the garden today", "s"),
             (3L, "completely different text about spark clusters here", "s")), 0L)
    assert(corpus.count() == 3, "store-as-of-batch-start: within-batch dups all admit")

    // batch 1: a lightly reworded copy of doc 1 (high shingle overlap)
    // must be REFUSED — the capability exact-digest admission lacks —
    // and an unrelated doc admits
    loop(Seq((10L, "the quick brown fox jumps over the lazy dog in the garden tonight", "s"),
             (11L, "an entirely unrelated document with novel words", "s")), 1L)
    val ids1 = corpus.select("doc_id").as[Long].collect().toSet
    assert(!ids1.contains(10L), "near-dup of an admitted doc must be refused")
    assert(ids1.contains(11L))

    // batch 2: a near-dup of the REJECTED doc 10 only — admits, because
    // the store never holds rejects (exact sequential-admission semantics)
    // use doc 10's exact text: its only near-dups are 1/2 (admitted), so
    // instead plant a doc near-dup of NOTHING admitted but similar to a
    // hypothetical reject — here: near-dup of 10's unique tail words
    loop(Seq((20L, "tonight was quiet and nothing else happened anywhere", "s")), 2L)
    assert(corpus.select("doc_id").as[Long].collect().toSet.contains(20L))

    // replay of the LATEST batch (at-least-once redelivery — the engine
    // only ever redelivers the last uncommitted batch; an earlier id
    // reappearing is the restarted-checkpoint signature the loop now
    // refuses): overwrite converges, and the replayed batch must not
    // self-refuse against its own previous partition
    loop(Seq((20L, "tonight was quiet and nothing else happened anywhere", "s")), 2L)
    val finalIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(finalIds == Set(1L, 2L, 3L, 11L, 20L),
      s"replay must converge to the same corpus, got $finalIds")
  }

  test("near-dup ingest admission scans the postings store, never the corpus text") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    val corpusDir = Files.createTempDirectory("graft-nd-plan").toString + "/corpus"
    def loop(rows: Seq[(Long, String, String)], id: Long): Unit =
      NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, corpusDir)(
        rows.toDF("doc_id", "text", "source"), id)
    loop(Seq((1L, "the quick brown fox jumps over the lazy dog in the garden today", "s")), 0L)
    loop(Seq((2L, "some completely different text about spark clusters here", "s")), 1L)

    // every admitted batch persisted its postings beside the corpus
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(0, 1).foreach { b =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"${NearDupIngest.postingsDir(corpusDir)}/batch=$b/_SUCCESS")),
        s"admitted batch $b must persist its postings")
    }
    // and the postings stay hidden from a plain corpus read
    val schema = Seq((0L, "x", "s")).toDF("doc_id", "text", "source").schema
    assert(NearDupIngest.storeCorpus(spark, corpusDir, schema).count() == 2)

    // a NEW batch's admission plan: every file scan reads the postings
    // store — the corpus text is never touched (O(batch), not O(corpus))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the garden tonight", "s"),
      (11L, "an entirely unrelated document with novel words", "s")
    ).toDF("doc_id", "text", "source")
    val bp = NearDupIngest.batchPostings(batch, "doc_id", "text", 3)
    val sp = NearDupIngest.storePostings(spark, corpusDir, bp.schema)
    val admitted = NearDupIngest.admitAgainstPostings(sp, batch, bp, "doc_id", 0.8)
    // sparkPlan, not executedPlan: AQE wraps the latter in an adaptive
    // shell whose children aren't visible to collect() pre-execution
    val scans = admitted.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty, "expected a file scan of the postings store")
    assert(scans.forall(_.contains("_postings")),
      s"admission must scan ONLY the postings store, scanned: $scans")
    // postings-only admission still refuses the reworded copy
    assert(admitted.select("doc_id").as[Long].collect().toSet == Set(11L),
      "near-dup refused and novel doc admitted off postings alone")

    // a corpus with ONE postings batch missing (stamp intact) must FAIL
    // LOUDLY: admitting against an incomplete postings table would
    // silently accept near-duplicates of the uncovered batch
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${NearDupIngest.postingsDir(corpusDir)}/batch=0"), true)
    val e = intercept[IllegalArgumentException] {
      loop(Seq((30L, "whatever text arrives next", "s")), 2L)
    }
    assert(e.getMessage.contains("postings sidecar"),
      s"guard must name the missing sidecar, got: ${e.getMessage}")

    // the WHOLE sidecar gone (including the _meta stamp — a
    // pre-stamp-layout store, or a lost index) is the migration case:
    // the first post-upgrade loop must NOT auto-claim the stamp with
    // its own parameters (a wrong k would legitimize the exact
    // cross-shingle-space join the stamp refuses)
    fs.delete(new org.apache.hadoop.fs.Path(
      NearDupIngest.postingsDir(corpusDir)), true)
    val e2 = intercept[IllegalArgumentException] {
      loop(Seq((31L, "more text arriving after the loss", "s")), 2L)
    }
    assert(e2.getMessage.contains("_meta stamp"),
      s"pre-stamp store must demand an explicit migration, got: ${e2.getMessage}")
  }

  test("semantic ingest loop: cosine-dups refused, dup-of-reject admitted, replay converges") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    val corpusDir = Files.createTempDirectory("graft-sem-ingest").toString + "/c"
    def vec(xs: Float*) = xs.toArray
    // base vector, a near-parallel copy (cos ≈ 0.9999), an orthogonal
    // one, and a copy-of-the-copy (semantic dup of a future REJECT)
    val b0 = Seq((1L, vec(1f, 0f, 0f), "s"), (2L, vec(0f, 1f, 0f), "s"))
      .toDF("vec_id", "embedding", "source")
    val b1 = Seq(
      (10L, vec(0.999f, 0.01f, 0f), "s"),  // semantic dup of 1 -> refused
      (11L, vec(0f, 0f, 1f), "s"))         // orthogonal -> admitted
      .toDF("vec_id", "embedding", "source")
    val b2 = Seq(
      // dup of REJECTED 10 (and of stored 1) -> still refused via 1
      (20L, vec(0.998f, 0.02f, 0f), "s"),
      // within-batch pair: both admit (store as of batch start)
      (21L, vec(0.5f, 0.5f, 0.5f), "s"),
      (22L, vec(0.51f, 0.5f, 0.5f), "s"))
      .toDF("vec_id", "embedding", "source")
    val loop = SemDedupIngest.admitLoop("vec_id", "embedding", 0.95, corpusDir)
    loop(b0, 0L); loop(b1, 1L); loop(b2, 2L)
    def admitted(): Set[Long] =
      SemDedupIngest.storeVectors(spark, corpusDir, b0.schema)
        .select($"vec_id").as[Long].collect().toSet
    assert(admitted() == Set(1L, 2L, 11L, 21L, 22L))
    // replay of the LAST batch converges (engine contract: only the
    // last uncommitted batch redelivers)
    loop(b2, 2L)
    assert(admitted() == Set(1L, 2L, 11L, 21L, 22L))
    // restarted checkpoint refused
    val e = intercept[IllegalArgumentException] { loop(b0, 0L) }
    assert(e.getMessage.contains("restarted checkpoint"))
    // zero-norm vectors admit (cosine undefined => no hit, both sides)
    loop(Seq((30L, vec(0f, 0f, 0f), "s"), (31L, vec(1f, 0f, 0f), "s"))
      .toDF("vec_id", "embedding", "source"), 3L)
    assert(admitted().contains(30L) && !admitted().contains(31L))
  }

  test("semantic ingest: cell-pruned admission is decision-identical to the full-scan reference") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    // deterministic pseudo-random corpus: 10 base directions in 8 dims,
    // each batch vector = a base + small noise, so every threshold
    // regime has real hits. Two thresholds cover both prune regimes:
    // tight (0.9 — most cells prune) and loose (0.35, the oracle row's
    // probe-everything regime).
    val rnd = new scala.util.Random(42)
    val bases = Array.fill(10)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    def mkVec(i: Int): Array[Float] = {
      val b = bases(i % 10)
      b.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.15f)
    }
    val batches: Seq[Seq[(Long, Array[Float], String)]] =
      (0 until 4).map(w => (0 until 30).map(j =>
        ((w * 100 + j).toLong, mkVec(w * 30 + j), "s")))
    for (t <- Seq(0.9, 0.35)) {
      val corpusDir =
        Files.createTempDirectory(s"graft-sem-eq-$t").toString + "/c"
      val loop =
        SemDedupIngest.admitLoop("vec_id", "embedding", t, corpusDir, cells = 4)
      // reference: sequential EXACT full-scan admission over the same waves
      var refAdmitted = Seq.empty[(Long, Array[Float], String)]
      batches.zipWithIndex.foreach { case (rows, w) =>
        val df = rows.toDF("vec_id", "embedding", "source")
        loop(df, w.toLong)
        val refStore = refAdmitted.toDF("vec_id", "embedding", "source")
        val got = SemDedupIngest.admitAgainstStore(
            refStore, df, "vec_id", "embedding", t)
          .select("vec_id").as[Long].collect().toSet
        refAdmitted = refAdmitted ++ rows.filter(r => got.contains(r._1))
      }
      val stored = SemDedupIngest.storeVectors(spark, corpusDir,
          batches.head.toDF("vec_id", "embedding", "source").schema)
        .select($"vec_id").as[Long].collect().toSet
      assert(stored == refAdmitted.map(_._1).toSet,
        s"pruned admission must equal the exact reference at t=$t")
    }
  }

  test("semantic ingest: admission-kernel fanout is sized by the work, not the file count") {
    import graft.streaming.SemDedupIngest
    // the probed slice is tiny per-cell files — Spark coalesces them
    // into 1-2 splits, so the O(members × batch × dim) kernel must be
    // re-fanned by its WORK (the NOTES_r16.md finding: 15k×15k×64
    // serialized onto 2 tasks at ~80 s). One task per ~2^30 ops:
    // fixture-scale work stays single-partition (no shuffle paid)...
    assert(SemDedupIngest.kernelFanout(2000, 100, 64, 32) == 1)
    // ...a 15k-members × 15k-batch × 64-dim growth batch wants ~15 tasks
    val grown = SemDedupIngest.kernelFanout(15625, 15625, 64, 32)
    assert(grown > 8 && grown <= 32, s"expected double-digit fanout, got $grown")
    // capped at the cluster's parallelism, floored at 1, and robust to
    // degenerate dims/batches
    assert(SemDedupIngest.kernelFanout(Long.MaxValue / 4, 1 << 20, 64, 32) == 32)
    assert(SemDedupIngest.kernelFanout(0, 1000, 64, 32) == 1)
    assert(SemDedupIngest.kernelFanout(1000000, 1000, 0, 32) == 1)
  }

  test("semantic ingest: fanout-path admission (parts > 1) stays decision-identical") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    // 8192 store vectors x 8192 batch vectors at 64 dims crosses the
    // 2^30-ops-per-task line (ops/row = 8192*64 = 512k, rowsPerTask =
    // 2048, parts = 4 > estSplits = 1), so THIS admission runs through
    // the repartitioned kernel — the decision-identity contract must
    // survive the exchange (per-row kernel, union of indices), which no
    // fixture-scale test exercises.
    val rnd = new scala.util.Random(11)
    val dirs = Array.fill(16)(Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    def mkVec(c: Int): Array[Float] =
      dirs(c).map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.12f)
    val n = 8192
    val w0 = (0 until n).map(i => (i.toLong, mkVec(i % 16), "s"))
    val w1 = (0 until n).map(i => ((n + i).toLong, mkVec(i % 16), "s"))
    val corpusDir =
      Files.createTempDirectory("graft-sem-fanout").toString + "/c"
    val loop = SemDedupIngest.admitLoop("vec_id", "embedding", 0.9,
      corpusDir, cells = 16)
    loop(w0.toDF("vec_id", "embedding", "source"), 0L)
    val batch = w1.toDF("vec_id", "embedding", "source")
    loop(batch, 1L)
    val admitted = SemDedupIngest
      .storeVectors(spark, corpusDir,
        batch.schema, excludeBatch = Some(0L))
      .select($"vec_id").as[Long].collect().toSet
    val ref = SemDedupIngest.admitAgainstStore(
        w0.toDF("vec_id", "embedding", "source"), batch,
        "vec_id", "embedding", 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == ref,
      s"fanout-path admission diverged from the full-scan reference: " +
        s"${(admitted diff ref).size} extra, ${(ref diff admitted).size} missing")
    // the scenario actually refuses something (else the pin is vacuous)
    assert(ref.size < n, s"expected some refusals, got ${ref.size} of $n admitted")
  }

  test("semantic ingest: compaction keeps admission decision-identical and tiers the index") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    // 10 batches through compactEvery=2 exercises the binary-counter
    // cascade (tail→run, run-absorbs-run twice over) at BOTH prune
    // regimes; admission through the compacted index must equal the
    // sequential full-scan reference, batch by batch.
    val rnd = new scala.util.Random(43)
    val bases = Array.fill(10)(Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    def mkVec(i: Int): Array[Float] = {
      val b = bases(i % 10)
      b.map(x => x + (rnd.nextFloat() * 2f - 1f) * 0.15f)
    }
    val batches: Seq[Seq[(Long, Array[Float], String)]] =
      (0 until 10).map(w => (0 until 10).map(j =>
        ((w * 100 + j).toLong, mkVec(w * 10 + j), "s")))
    for (t <- Seq(0.9, 0.35)) {
      val corpusDir =
        Files.createTempDirectory(s"graft-sem-compact-$t").toString + "/c"
      val loop = SemDedupIngest.admitLoop("vec_id", "embedding", t,
        corpusDir, cells = 4, compactEvery = 2)
      var refAdmitted = Seq.empty[(Long, Array[Float], String)]
      batches.zipWithIndex.foreach { case (rows, w) =>
        val df = rows.toDF("vec_id", "embedding", "source")
        loop(df, w.toLong)
        val refStore = refAdmitted.toDF("vec_id", "embedding", "source")
        val got = SemDedupIngest.admitAgainstStore(
            refStore, df, "vec_id", "embedding", t)
          .select("vec_id").as[Long].collect().toSet
        refAdmitted = refAdmitted ++ rows.filter(r => got.contains(r._1))
      }
      def admitted(): Set[Long] = SemDedupIngest.storeVectors(spark,
          corpusDir, batches.head.toDF("vec_id", "embedding", "source").schema)
        .select($"vec_id").as[Long].collect().toSet
      assert(admitted() == refAdmitted.map(_._1).toSet,
        s"compacted admission must equal the exact reference at t=$t")
      // the index is TIERED: batches 0..7 folded into one run (the
      // binary-counter cascade fired at batch 8's maintain), 8 and 9
      // still tail — and the compacted batches' per-batch summaries and
      // data dirs are GONE, which is the whole point (O(log N) sources,
      // not one per historical batch)
      val fs = new org.apache.hadoop.fs.Path(corpusDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sums = fs.listStatus(new org.apache.hadoop.fs.Path(
          SemDedupIngest.summaryDir(corpusDir)))
        .map(_.getPath.getName).filter(_.endsWith(".json")).toSet
      assert(sums == Set("run=0-7.json", "batch=8.json", "batch=9.json"),
        s"expected a tiered index at t=$t, got $sums")
      val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(
          SemDedupIngest.cellsDir(corpusDir)))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(n => n.startsWith("batch=") || n.startsWith("run=")).toSet
      assert(dataDirs == Set("run=0-7", "batch=8", "batch=9"),
        s"compacted source dirs must be deleted at t=$t, got $dataDirs")
      // replay of the LAST batch converges across the compacted store
      loop(batches.last.toDF("vec_id", "embedding", "source"), 9L)
      assert(admitted() == refAdmitted.map(_._1).toSet,
        s"replay over a compacted store must converge at t=$t")
    }
  }

  test("semantic ingest: compaction planning holds its tiering invariants over long histories") {
    import graft.streaming.BatchStore.{effectiveSources, planCompaction, IndexSource}
    // pure-driver simulation of the maintain pass's evolution: for each
    // compactEvery, feed 400 sequential batches through the planner and
    // check after every step what the 100 TB story rests on —
    // (a) coverage: sources partition [0, b] exactly (disjoint, no gaps:
    //     a lost id admits dups, an overlap double-reads forever),
    // (b) tiering: run spans strictly decrease oldest → newest,
    // (c) boundedness: #runs ≤ log2(N/ce)+2 and tail ≤ ce — the
    //     "metadata ops per admission are O(log N)" claim itself,
    // (d) round-trip with the reader's supersede rule: the live state is
    //     all-effective, and a forged crash leftover (a batch unit equal
    //     to OR inside any run, including the span-1 ties ce=1 mints) is
    //     superseded — exactly it, never the run.
    for (ce <- Seq(1, 2, 3, 5, 8, 64)) {
      var runs = Vector.empty[IndexSource]
      var tail = Vector.empty[IndexSource]
      for (b <- 0 until 400) {
        // batch b's maintain sees summaries of batches < b only
        planCompaction(tail, runs, ce) match {
          case None => ()
          case Some(ms) =>
            val merged = ms.toSet
            assert(ms.sortBy(_.lo) == ms, s"merge set must arrive sorted")
            val run = IndexSource(s"run=${ms.head.lo}-${ms.last.hi}",
              ms.head.lo, ms.last.hi)
            runs = runs.filterNot(merged) :+ run
            tail = tail.filterNot(merged)
            assert(tail.isEmpty, s"ce=$ce b=$b: plan must consume the tail")
        }
        tail = tail :+ IndexSource(s"batch=$b", b.toLong, b.toLong)
        val srcs = (runs ++ tail).sortBy(_.lo)
        val covered = srcs.flatMap(s => s.lo to s.hi)
        assert(covered == (0L to b.toLong),
          s"ce=$ce b=$b: sources must partition [0,$b] exactly, got " +
            s"${srcs.map(_.name).mkString(",")}")
        val spans = runs.sortBy(_.lo).map(_.span)
        assert(spans == spans.sorted.reverse && spans.distinct == spans,
          s"ce=$ce b=$b: run spans must strictly decrease, got $spans")
        val bound = (math.log((b + 1).toDouble / ce) / math.log(2)) + 2
        assert(runs.size <= math.max(1, bound),
          s"ce=$ce b=$b: ${runs.size} runs exceeds the O(log N) bound $bound")
        assert(tail.size <= ce, s"ce=$ce b=$b: tail ${tail.size} > $ce")
        val (effAll, supAll) = effectiveSources(srcs)
        assert(supAll.isEmpty && effAll.toSet == srcs.toSet,
          s"ce=$ce b=$b: a live (disjoint) state must be all-effective")
        runs.foreach { r =>
          val forged = IndexSource(s"batch=${r.lo}", r.lo, r.lo)
          val (e2, s2) = effectiveSources(srcs :+ forged)
          assert(s2 == Seq(forged) && e2.toSet == srcs.toSet,
            s"ce=$ce b=$b: leftover beside ${r.name} must be the one " +
              s"superseded unit, got sup=${s2.map(_.name)}")
        }
      }
    }
    // gap in the tail = a lost summary: loud, names the range
    val e = intercept[IllegalArgumentException] {
      planCompaction(Seq(IndexSource("batch=0", 0, 0),
        IndexSource("batch=2", 2, 2)), Nil, 2)
    }
    assert(e.getMessage.contains("id gaps"))
  }

  test("semantic ingest: compaction repair sweeps crash leftovers; corrupt summaries fail loudly") {
    import spark.implicits._
    import graft.streaming.{BatchStore, SemDedupIngest}
    // unit shape first: source-name parsing and the containment rule
    assert(BatchStore.parseSourceName("batch=7")
      .contains(BatchStore.IndexSource("batch=7", 7, 7)))
    assert(BatchStore.parseSourceName("run=0-63")
      .contains(BatchStore.IndexSource("run=0-63", 0, 63)))
    assert(BatchStore.parseSourceName("run=9-3").isEmpty &&
      BatchStore.parseSourceName("whatever").isEmpty)
    val (eff, sup) = BatchStore.effectiveSources(Seq(
      BatchStore.IndexSource("run=0-7", 0, 7),
      BatchStore.IndexSource("batch=3", 3, 3),   // inside the run
      BatchStore.IndexSource("run=4-5", 4, 5),   // inside the run
      BatchStore.IndexSource("batch=8", 8, 8)))  // tail
    assert(eff.map(_.name).toSet == Set("run=0-7", "batch=8"))
    assert(sup.map(_.name).toSet == Set("batch=3", "run=4-5"))

    // integration: a stamped run with its sources still present (crash
    // between the run stamp and the source deletes) must be repaired by
    // the next batch — leftover summary AND data dir deleted
    val corpusDir = Files.createTempDirectory("graft-sem-repair").toString + "/c"
    def vec(xs: Float*) = xs.toArray
    // a FRESH loop instance per call: crash repair is a cold-path
    // concern by construction (leftovers only arise from a crash, and a
    // crash restarts the process — a warm single-writer chain can never
    // observe foreign forgeries, so a shared closure would skip the
    // census the forged state below is meant to exercise)
    def loop(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      SemDedupIngest.admitLoop("vec_id", "embedding", 0.95,
        corpusDir, cells = 2, compactEvery = 2)(df, id)
    loop(Seq((1L, vec(1f, 0f), "s")).toDF("vec_id", "embedding", "source"), 0L)
    loop(Seq((2L, vec(0f, 1f), "s")).toDF("vec_id", "embedding", "source"), 1L)
    loop(Seq((3L, vec(1f, 1f), "s")).toDF("vec_id", "embedding", "source"), 2L)
    // batch 2's maintain folded 0,1 into run=0-1; forge the crash state
    // by re-creating batch=0's summary and data dir beside the run
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftSum = new org.apache.hadoop.fs.Path(
      SemDedupIngest.summaryDir(corpusDir), "batch=0.json")
    val out = fs.create(leftSum, true)
    out.write("0,0.25,1".getBytes("UTF-8")); out.close()
    val leftDir = new org.apache.hadoop.fs.Path(
      SemDedupIngest.cellsDir(corpusDir), "batch=0/cell=0")
    fs.mkdirs(leftDir)
    loop(Seq((4L, vec(1f, 0.01f), "s")) // semantic dup of stored 1 -> refused
      .toDF("vec_id", "embedding", "source"), 3L)
    assert(!fs.exists(leftSum) && !fs.exists(leftDir.getParent),
      "repair must delete the superseded leftover summary and data dir")
    val admitted = SemDedupIngest.storeVectors(spark, corpusDir,
        Seq((1L, vec(1f, 0f), "s")).toDF("vec_id", "embedding", "source").schema)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 3L), s"got $admitted")

    // a truncated summary line must name the file and the line, not die
    // in bare array-index arithmetic
    val bad = new org.apache.hadoop.fs.Path(
      SemDedupIngest.summaryDir(corpusDir), "batch=3.json")
    val out2 = fs.create(bad, true)
    out2.write("0,0.25".getBytes("UTF-8")); out2.close()
    val e = intercept[IllegalArgumentException] {
      loop(Seq((9L, vec(0f, 1.01f), "s"))
        .toDF("vec_id", "embedding", "source"), 4L)
    }
    assert(e.getMessage.contains("batch=3.json") &&
      e.getMessage.contains("0,0.25"),
      s"corrupt summary must be named, got: ${e.getMessage}")
  }

  test("semantic ingest: the store is cell-bucketed and far cells are never probed") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    val corpusDir = Files.createTempDirectory("graft-sem-cells").toString + "/c"
    def vec(xs: Float*) = xs.toArray
    // two well-separated clusters land in distinct cells
    val b0 = Seq(
      (1L, vec(1f, 0.01f, 0f), "s"), (2L, vec(1f, 0.02f, 0f), "s"),
      (3L, vec(0f, 0.01f, 1f), "s"), (4L, vec(0f, 0.02f, 1f), "s"))
      .toDF("vec_id", "embedding", "source")
    SemDedupIngest.admitLoop("vec_id", "embedding", 0.95, corpusDir,
      cells = 2)(b0, 0L)
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the index twin exists, bucketed into 2 cell partitions
    val cellDirs = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"${SemDedupIngest.cellsDir(corpusDir)}/batch=0"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(cellDirs == Set("cell=0", "cell=1"),
      s"expected 2 cell partitions, got $cellDirs")
    // and the index stays hidden from a plain corpus read
    assert(SemDedupIngest.storeVectors(spark, corpusDir, b0.schema)
      .count() == 4)

    // probe-set soundness + tightness at t=0.95: a batch vector near
    // cluster A must probe A's cell and NOT the far cluster's
    val cents = Array(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0))
    val radii = Map(0 -> 0.05, 1 -> 0.05)
    val qA = Array(Array(0.9999, 0.0141, 0.0))
    val probed = SemDedupIngest.probeCells(cents, radii, qA, 0.95)
    assert(probed == Set(0), s"far cell must be pruned, got $probed")
    // a cell inside the bound's reach is kept even when the query is
    // not IN it (the triangle bound, not a nearest-cell rule)
    val qMid = Array(Array(math.sqrt(0.5), 0.0, math.sqrt(0.5)))
    assert(SemDedupIngest.probeCells(cents, radii, qMid, 0.5) == Set(0, 1))

    // partition pruning is real: a cell-filtered read of the index
    // opens only the probed cell's files
    val idxSchema = new org.apache.spark.sql.types.StructType()
      .add("_id", org.apache.spark.sql.types.LongType)
      .add("_vec", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType))
      .add("batch", org.apache.spark.sql.types.LongType)
      .add("cell", org.apache.spark.sql.types.IntegerType)
    val pruned = spark.read.schema(idxSchema)
      .parquet(SemDedupIngest.cellsDir(corpusDir))
      .filter(col("cell").isin(0))
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
      "cell filter must reach the scan as a partition filter")
    // the index holds 4 part files (2 per cell); pruning must open only
    // cell=0's — inputFiles reflects the PRE-pruning relation, the
    // scan's numFiles metric the files actually listed for read
    val nAll = spark.read.schema(idxSchema)
      .parquet(SemDedupIngest.cellsDir(corpusDir)).inputFiles.length
    val nRead = scans.head.metrics("numFiles").value
    assert(nRead < nAll && nRead > 0,
      s"partition pruning must skip far cells: read $nRead of $nAll files")
  }

  test("semantic ingest: NULL id/vector rows are refused loudly; lost index demands migration") {
    import spark.implicits._
    import graft.streaming.SemDedupIngest
    val corpusDir = Files.createTempDirectory("graft-sem-null").toString + "/c"
    def vec(xs: Float*) = xs.toArray
    val loop = SemDedupIngest.admitLoop("vec_id", "embedding", 0.95, corpusDir)
    loop(Seq((1L, vec(1f, 0f), "s")).toDF("vec_id", "embedding", "source"), 0L)
    // a NULL vector can never be refused nor refuse a future arrival —
    // waving it through would silently degrade the dedup invariant
    // (zero-norm is the DEFINED no-hit case; NULL is a data defect)
    val eNull = intercept[IllegalArgumentException] {
      loop(Seq((2L, null.asInstanceOf[Array[Float]], "s"), (3L, vec(0f, 1f), "s"))
        .toDF("vec_id", "embedding", "source"), 1L)
    }
    assert(eNull.getMessage.contains("NULL-embedding"),
      s"NULL-vector rows must be named, got: ${eNull.getMessage}")
    val eNullId = intercept[IllegalArgumentException] {
      SemDedupIngest.admitAgainstStore(
        Seq((1L, vec(1f, 0f))).toDF("vec_id", "embedding"),
        Seq((Option.empty[Long], Option(Seq(0f, 1f)))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 0.95)
    }
    assert(eNullId.getMessage.contains("NULL-vec_id"))
    // a store whose _cells index went missing must demand an explicit
    // migration, never auto-claim a fresh stamp over existing batches
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      SemDedupIngest.cellsDir(corpusDir)), true)
    val eMig = intercept[IllegalArgumentException] {
      loop(Seq((5L, vec(0f, 1f), "s")).toDF("vec_id", "embedding", "source"), 1L)
    }
    assert(eMig.getMessage.contains("_cells"),
      s"lost index must demand migration, got: ${eMig.getMessage}")
  }

  test("near-dup postings store refuses an incompatible shingle size") {
    import spark.implicits._
    import graft.streaming.NearDupIngest
    val corpusDir = Files.createTempDirectory("graft-nd-meta").toString + "/c"
    def rows(id: Long) = Seq((id, s"some text number $id here now", "s"))
      .toDF("doc_id", "text", "source")
    NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, corpusDir)(rows(1L), 0L)
    // same k continues fine
    NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, corpusDir)(rows(2L), 1L)
    // a different k would join across incompatible shingle spaces —
    // Jaccard silently wrong — so the stamp refuses it loudly
    val e = intercept[IllegalArgumentException] {
      NearDupIngest.admitLoop("doc_id", "text", 5, 0.8, corpusDir)(rows(3L), 2L)
    }
    assert(e.getMessage.contains("shingle space"),
      s"guard must explain the incompatibility, got: ${e.getMessage}")
  }

  test("ingest admit never clobbers caller digest columns, including the internal name") {
    import spark.implicits._
    import graft.streaming.IngestDedup
    val store = Seq(("dup text", "x")).toDF("text", "src")
    val digests = IngestDedup.storeDigests(store, "text")
    val arriving = Seq(
      ("dup text", "mine-1", "theirs-1"),
      ("fresh text", "mine-2", "theirs-2"))
      .toDF("text", "digest", "_graft_digest")
    val out = IngestDedup.admit(arriving, digests, "text")
    // the dup is refused, and BOTH caller columns survive untouched
    assert(out.columns.toSeq == Seq("text", "digest", "_graft_digest"))
    val row = out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(row == Seq(("fresh text", "mine-2", "theirs-2")))
  }

  test("a restarted checkpoint (batch ids reset to 0) is refused by both ingest loops") {
    import spark.implicits._
    import graft.streaming.{IngestDedup, NearDupIngest}
    // exact-dedup loop: batches 0..2 ingested, then a NEW checkpoint
    // replays from 0 — proceeding would overwrite old partitions
    val base = Files.createTempDirectory("graft-restart").toString
    def rows(id: Long) = Seq((id, s"text number $id", "s"))
      .toDF("doc_id", "text", "source")
    (0L to 2L).foreach(b =>
      IngestDedup.admitLoop("text", s"$base/dig", s"$base/corp")(rows(b), b))
    val e1 = intercept[IllegalArgumentException] {
      IngestDedup.admitLoop("text", s"$base/dig", s"$base/corp")(rows(9L), 0L)
    }
    assert(e1.getMessage.contains("restarted checkpoint"))
    // near-dup loop: same guard
    (0L to 1L).foreach(b =>
      NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, s"$base/nd")(
        rows(b + 10), b))
    val e2 = intercept[IllegalArgumentException] {
      NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, s"$base/nd")(
        rows(99L), 0L)
    }
    assert(e2.getMessage.contains("restarted checkpoint"))
    // a legitimate replay of the CURRENT batch still passes
    IngestDedup.admitLoop("text", s"$base/dig", s"$base/corp")(rows(2L), 2L)
  }

  test("MvRefresh streamId stamp refuses a different stream over the same stateDir") {
    import spark.implicits._
    import graft.streaming.MvRefresh
    val dir = Files.createTempDirectory("graft-mv-sid").toString + "/state"
    def b(v: Long) = Seq(("k", v)).toDF("k", "v")
    MvRefresh.refresh(dir, Seq("k"), col("v"), Some("ckpt-A"))(b(1L), 0L)
    // same stream continues and replays fine
    MvRefresh.refresh(dir, Seq("k"), col("v"), Some("ckpt-A"))(b(2L), 1L)
    MvRefresh.refresh(dir, Seq("k"), col("v"), Some("ckpt-A"))(b(2L), 1L)
    // a NEW checkpoint (old stateDir holding only low versions slips
    // past the version guard at batch 0) is refused by the stamp
    val e = intercept[IllegalArgumentException] {
      MvRefresh.refresh(dir, Seq("k"), col("v"), Some("ckpt-B"))(b(7L), 0L)
    }
    assert(e.getMessage.contains("belongs to stream"))
  }

  test("ingest admission preserves a caller's own digest column") {
    import spark.implicits._
    import graft.streaming.IngestDedup
    val stream = Seq((1L, "some text", "caller-digest-1"))
      .toDF("doc_id", "text", "digest")
    val store = Seq("no-match").toDF("digest")
    val got = IngestDedup.admit(stream,
      store.select(col("digest")), "text").collect().head
    assert(got.getAs[String]("digest") == "caller-digest-1",
      "the caller's digest column must pass through untouched")
  }

  test("quantile histogram aggregates across micro-batches to the batch sketch") {
    // the log2-bucket histogram is a plain additive counter map, so its
    // streaming twin is just a grouped count in complete mode — the
    // state IS the sketch (≤64 counters per key), and the micro-batch
    // result must equal the batch histogram exactly
    val ev = XeFixture.events(spark, sf("sf0.001"))
      .select(col("event_type"), col("value"))
      .filter(col("value") > 0)
      .withColumn("v", col("value").cast("long")).drop("value")
      .filter(col("v") > 0)
    val dir = Files.createTempDirectory("graft-qh").toString
    val ckpt = Files.createTempDirectory("graft-qh-ck").toString
    val halves = ev.randomSplit(Array(0.5, 0.5), seed = 7)
    halves(0).write.parquet(s"$dir/drop1")
    halves(1).write.parquet(s"$dir/drop2")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop*")
    def hist(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type"), (length(bin(col("v"))) - 1).as("b"))
        .agg(count(lit(1)).as("n"))
    val q = hist(stream).writeStream
      .format("memory").queryName("qh_stream").outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)
    val got = spark.table("qh_stream")
    val batch = hist(ev)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("late data accounting: watermark drops the too-late event and the metric records it") {
    // Operational contract of withLateDataGuard: an event that arrives
    // AFTER its window was finalized is EXCLUDED from the emitted result
    // AND shows up in numRowsDroppedByWatermark — late data must be
    // measurable, not silently vanish (the reconciliation signal an ops
    // dashboard pages on). Three single-file drops so batch boundaries
    // are deterministic: drop1 pushes the watermark 20 min past t0,
    // drop2 commits that watermark and evicts (emits) the t0 window,
    // drop3 replays a t0-minute event — too late by 20 minutes. (The
    // aggregation's late filter applies the wm with one batch of lag,
    // so a late row arriving in the eviction batch itself can still
    // merge — the post-emission arrival here is the contract case.)
    import java.sql.Timestamp
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:30")
    def ts(min: Int, sec: Int = 0) =
      new Timestamp(t0.getTime + min * 60000L + sec * 1000L)
    val dir = Files.createTempDirectory("graft-late-in").toString
    val ckpt = Files.createTempDirectory("graft-late-ck").toString
    def drop(name: String, rows: Seq[(Timestamp, String, Long)]): Unit = {
      rows.toDF("e_time_of_event_utc", "event_name", "c_duration_us")
        .coalesce(1).write.parquet(s"$dir/$name")
      Thread.sleep(1200) // distinct mod times pin the file-source order
    }
    drop("drop1", Seq((ts(0), "evt", 10L), (ts(0, 10), "evt", 10L),
      (ts(30), "evt", 10L)))
    drop("drop2", Seq((ts(31), "evt", 10L)))
    drop("drop3", Seq((ts(0, 20), "evt", 10L)))
    val drop1 = spark.read.parquet(s"$dir/drop1")
    val stream = EventStream.readEventDir(
      spark, s"$dir/drop*", drop1.schema, maxFilesPerTrigger = 1)
    val rollup = EventStream.rateByMinute(EventStream.withLateDataGuard(stream))
    val q = rollup.writeStream.format("memory").queryName("late_stream")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    StreamTuning.awaitEnd(q)
    val dropped = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped >= 1, "the too-late event must be counted, not silently vanish")
    // the t0 minute was finalized from drop1 alone: 2 events, never 3
    val t0Row = spark.table("late_stream")
      .filter(col("minute") === lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .select("n").collect()
    assert(t0Row.length == 1 && t0Row.head.getLong(0) == 2L,
      s"t0 window must hold drop1's 2 events only, got ${t0Row.toSeq}")
  }

  test("RocksDB state store: windowed agg and funnel state match batch twins") {
    // The oracle rows run on the in-memory provider with KB state; at
    // 100x users state must SPILL, which is what the RocksDB provider
    // exists for. Re-run two representative stateful shapes — the
    // windowed aggregation (framework state) and the funnel
    // flatMapGroupsWithState machine (custom Encoder state) — under
    // RocksDB and demand the same batch equivalence, plus proof from
    // the progress metrics that RocksDB actually served the state.
    import graft.streaming.{Funnel, FunnelEvent}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // (a) windowed rateByMinute over two file drops
      val events = XeFixture.frame(spark, sf("sf0.001"))
        .select("e_time_of_event_utc", "event_name", "c_duration_us")
      val dir = Files.createTempDirectory("graft-rocks-in").toString
      events.filter(col("event_name") =!= "wait_info").write.parquet(s"$dir/drop1")
      events.filter(col("event_name") === "wait_info").write.parquet(s"$dir/drop2")
      val stream = EventStream.readEventDir(
        spark, s"$dir/drop*", events.schema, maxFilesPerTrigger = 1)
      val q1 = EventStream.rateByMinute(EventStream.withLateDataGuard(stream))
        .writeStream.format("memory").queryName("rocks_rate")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-rocks-ck1").toString)
        .trigger(Trigger.AvailableNow()).start()
      StreamTuning.awaitEnd(q1)
      val gotRate = spark.table("rocks_rate")
      assert(gotRate.count() > 0)
      assert(gotRate.exceptAll(EventStream.rateByMinute(events)).count() == 0)
      // proof the provider engaged: RocksDB publishes rocksdb* custom
      // state metrics that the in-memory provider never emits
      val metrics = q1.recentProgress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"expected rocksdb state metrics, got: ${metrics.distinct.mkString(",")}")

      // (b) funnel state machine (flatMapGroupsWithState)
      val ev = XeFixture.events(spark, sf("sf0.001"))
        .select(col("user_id"), col("ts"), col("event_type"))
      val fdir = Files.createTempDirectory("graft-rocks-funnel").toString
      ev.write.parquet(s"$fdir/drop1")
      val fstream = spark.readStream.schema(ev.schema).parquet(s"$fdir/drop*")
        .as[FunnelEvent]
      val q2 = Funnel.funnel(fstream).writeStream
        .format("memory").queryName("rocks_funnel").outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-rocks-ck2").toString)
        .trigger(Trigger.AvailableNow()).start()
      StreamTuning.awaitEnd(q2)
      val gotFunnel = spark.table("rocks_funnel")
      val w = Window.partitionBy("user_id")
      val batch = ev
        .withColumn("tv", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("tc", min(when(col("event_type") === "click" && col("ts") >= col("tv"),
          col("ts"))).over(w))
        .withColumn("tp", min(when(col("event_type") === "purchase" && col("ts") >= col("tc"),
          col("ts"))).over(w))
        .groupBy("user_id")
        .agg(min("tv").as("t_view"), min("tc").as("t_click"), min("tp").as("t_purchase"))
        .filter(col("t_purchase").isNotNull)
      assert(gotFunnel.count() > 0)
      assert(gotFunnel.exceptAll(batch).count() == 0 &&
        batch.exceptAll(gotFunnel).count() == 0)

      // (c) stream-stream attribution join — FOUR state stores per
      // partition (left/right keyToNumValues + keyWithIndexToValue),
      // the heaviest RocksDB surface of the five patterns
      val ev2 = XeFixture.events(spark, sf("sf0.001"))
      val clicks = ev2.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev2.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      val cDir = Files.createTempDirectory("graft-rocks-attr-c").toString
      val pDir = Files.createTempDirectory("graft-rocks-attr-p").toString
      clicks.write.parquet(s"$cDir/drop1")
      purchases.write.parquet(s"$pDir/drop1")
      val q3 = EventStream.attributionJoin(
          spark.readStream.schema(clicks.schema).parquet(s"$cDir/drop*"),
          spark.readStream.schema(purchases.schema).parquet(s"$pDir/drop*"),
          lookback = "30 minutes", lateness = "5 minutes")
        .writeStream.format("memory").queryName("rocks_attr")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-rocks-ck3").toString)
        .trigger(Trigger.AvailableNow()).start()
      StreamTuning.awaitEnd(q3)
      val gotAttr = spark.table("rocks_attr")
      val batchAttr = EventStream.attributionJoin(clicks, purchases,
        lookback = "30 minutes", lateness = "5 minutes")
      assert(gotAttr.count() > 0)
      assert(gotAttr.exceptAll(batchAttr).count() == 0)
      assert(gotAttr.count().toDouble / batchAttr.count() > 0.8)
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("streaming MV refresh: state after all batches equals the batch aggregate; replay converges") {
    import graft.streaming.MvRefresh
    val events = XeFixture.frame(spark, sf("sf0.001"))
      .select("e_time_of_event_utc", "event_name", "c_duration_us")
    val dir = Files.createTempDirectory("graft-mv-in").toString
    val ckpt = Files.createTempDirectory("graft-mv-ck").toString
    val stateDir = Files.createTempDirectory("graft-mv-state").toString
    events.filter(col("event_name") =!= "wait_info").write.parquet(s"$dir/drop1")
    events.filter(col("event_name") === "wait_info").write.parquet(s"$dir/drop2")

    val stream = EventStream.readEventDir(
      spark, s"$dir/drop*", events.schema, maxFilesPerTrigger = 1)
    val q = stream.writeStream
      .foreachBatch(
        MvRefresh.refresh(stateDir, Seq("event_name"), col("c_duration_us")) _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    StreamTuning.awaitEnd(q)
    assert(q.recentProgress.length > 1, "expected several micro-batches")

    // merge ∘ partials across micro-batch boundaries ≡ one batch aggregate
    val twin = graft.operators.IncrementalAgg.partials(
      events, Seq("event_name"), col("c_duration_us"))
    val state = MvRefresh.read(spark, stateDir).get
    assert(state.exceptAll(twin).isEmpty && twin.exceptAll(state).isEmpty,
      "streamed state must equal the batch aggregate")

    // at-least-once replay of the LAST batch: same rows, same batch id →
    // its version is overwritten in place and the state bytes converge
    val lastId = MvRefresh.read(spark, stateDir).map(_ => {
      val fs = new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
        .map(_.getPath.getName).filter(_.startsWith("v"))
        .map(_.drop(1).toLong).max
    }).get
    val replayRows = events.filter(col("event_name") === "wait_info")
    MvRefresh.refresh(stateDir, Seq("event_name"), col("c_duration_us"))(
      replayRows, lastId)
    val after = MvRefresh.read(spark, stateDir).get
    assert(after.exceptAll(twin).isEmpty && twin.exceptAll(after).isEmpty,
      "replayed batch must converge, not double-count")
  }

  /** A query whose `awaitTermination(ms)` answers with `await` and that
    * records its `stop()` calls: drives [[StreamTuning.awaitEnd]] without
    * a real stream, so no test waits out the timeout. */
  private class FakeQuery(await: Long => Boolean) extends StreamingQuery {
    var waitedMs = -1L
    var stops = 0
    def name: String = "fake_stream"
    def id: java.util.UUID = new java.util.UUID(0L, 1L)
    def runId: java.util.UUID = id
    def sparkSession: org.apache.spark.sql.SparkSession = spark
    def isActive: Boolean = stops == 0
    def exception: Option[StreamingQueryException] = None
    def status: StreamingQueryStatus = throw new UnsupportedOperationException
    def recentProgress: Array[StreamingQueryProgress] = Array.empty
    def lastProgress: StreamingQueryProgress = null
    def awaitTermination(): Unit = throw new UnsupportedOperationException
    def awaitTermination(timeoutMs: Long): Boolean = {
      waitedMs = timeoutMs; await(timeoutMs)
    }
    def processAllAvailable(): Unit = ()
    def stop(): Unit = stops += 1
    def explain(): Unit = ()
    def explain(extended: Boolean): Unit = ()
  }

  test("awaitEnd stops a stream still running after its wait and fails naming it") {
    val done = new FakeQuery(_ => true)
    StreamTuning.awaitEnd(done)
    assert(done.waitedMs == StreamTuning.streamWaitMs && done.stops == 0)

    val running = new FakeQuery(_ => false)
    val e = intercept[IllegalStateException](StreamTuning.awaitEnd(running))
    assert(running.stops == 1, "a stream that outlived its wait must be stopped")
    assert(e.getMessage.contains("fake_stream"), e.getMessage)
  }

  test("awaitEnd propagates the exception of a failed stream") {
    val boom = new RuntimeException("batch 3 failed")
    val failed = new FakeQuery(_ => throw boom)
    val e = intercept[RuntimeException](StreamTuning.awaitEnd(failed))
    assert(e eq boom)
    assert(failed.stops == 0)
  }
}
