package graft

import graft.sources.{XelbFixtures, XelbFormat}
import graft.xel.{LoaderMain, Pipeline, XeFixture}
import java.nio.file.Files
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end test of the CLI driver lifecycle (LoaderMain): flag parsing
  * against the reference's single-letter concatenated style, file
  * discovery with session-pattern narrowing, the demux load, the lineage
  * tracking write, and the final statistics report. */
class LoaderMainSpec extends SparkTestBase {

  /** A rollover set of 4 .xelb files from the sf0.001 events fixture. */
  private lazy val inputDir: String = {
    val d = Files.createTempDirectory("graft-loader-in").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("c_event_sequence"), col("c_session_id"),
      col("c_duration_us"), col("e_time_of_event_utc"), col("c_statement"),
      col("event_name"))
    XelbFixtures.writeByKey(xe, "e_imported_file_id", d)
    d
  }

  /** The 4-file set again with an XML-classed column (EventSchema
    * .xmlColumns), for the -X / -x paths. */
  private lazy val xmlInputDir: String = {
    val d = Files.createTempDirectory("graft-loader-xml-in").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("c_event_sequence"), col("c_session_id"),
      col("c_duration_us"), col("e_time_of_event_utc"), col("event_name"))
      .withColumn("c_data", concat(lit("<x>"), col("c_session_id"), lit("</x>")))
    XelbFixtures.writeByKey(xe, "e_imported_file_id", d)
    d
  }

  /** The same events as 12 rollover files, keyed by sequence mod 12: small
    * enough that the scan packs several files into one read task. */
  private lazy val packedInputDir: String = {
    val d = Files.createTempDirectory("graft-loader-packed-in").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      pmod(col("c_event_sequence"), lit(12L)).as("roll"), col("c_event_sequence"),
      col("c_session_id"), col("c_duration_us"), col("e_time_of_event_utc"),
      col("c_statement"), col("event_name"))
    XelbFixtures.writeByKey(xe, "roll", d)
    d
  }

  private def loaderArgs(flags: String*): LoaderMain.LoaderArgs =
    LoaderMain.parseArgs(flags.toArray).fold(m => throw new IllegalArgumentException(m), identity)

  private def demuxTarget(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/demux"

  /** What the jobs `body` starts read: task input records summed, and the
    * task count of the demux write, whose stage is the source scan. */
  private def scanDuring[A](body: => A): (A, Long, Int) = {
    val sc = spark.sparkContext
    val read = new java.util.concurrent.atomic.AtomicLong
    val demuxStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val demuxTasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == "xeloader: demux write"))
          e.stageIds.foreach(demuxStages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
        if (demuxStages.contains(e.stageId)) demuxTasks.incrementAndGet()
      }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      TestListenerBus.drain(sc)
      (out, read.get, demuxTasks.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Parquet data files of a demux target, `_lineage` excluded. */
  private def partFiles(outDir: String): Int = {
    val all = Files.walk(java.nio.file.Paths.get(outDir))
    try all.toArray.map(_.toString).count(p => p.endsWith(".parquet") && !p.contains("/_lineage/"))
    finally all.close()
  }

  /** The figures of one load as the separate passes give them: the
    * truncation counters of `Pipeline.truncationStats` (zero without -l),
    * the rows of `Pipeline.lineage`, and the distinct event names. */
  private final case class MultiPass(truncations: (Long, Long, Long),
      lineage: Set[Row], eventNames: Seq[String]) {
    def events: Long = lineage.toSeq.map(_.getLong(2)).sum
  }

  private def multiPass(a: LoaderMain.LoaderArgs): MultiPass = {
    val files = LoaderMain.discoverFiles(a)._1.map(_.getAbsolutePath)
    val frame = spark.read.format("xelb").load(files: _*)
      .withColumn("source_file", input_file_name())
    val trunc =
      if (!a.cfg.limitWidths) (0L, 0L, 0L)
      else {
        val r = Pipeline.truncationStats(frame.drop("source_file"), a.cfg).head()
        def n(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
        (n(0), n(1), n(2))
      }
    MultiPass(trunc, Pipeline.lineage(frame).collect().toSet,
      frame.select("event_name").distinct().collect().map(_.getString(0)).sorted.toSeq)
  }

  private def truncations(r: LoaderMain.LoaderReport) =
    (r.stringTruncations, r.xmlTruncations, r.binaryTruncations)

  private def lineageRows(outDir: String): Set[Row] =
    spark.read.parquet(s"$outDir/_lineage")
      .select("file_id", "file_name", "n_events", "first_event", "last_event")
      .collect().toSet

  test("parseArgs: reference-style concatenated flags land in the config") {
    val Right(a) = LoaderMain.parseArgs(Array(
      "-D/tmp/in\\", "-p*.xelb", "-o/tmp/out", "-sxe2", "-b4096", "-t8",
      "-zUTC", "-L100", "-X200", "-B50", "-l", "-e5", "-h16", "-jdc", "-w",
      "-IColumnStore", "-Rn", "-V")): @unchecked
    assert(a.inputDir.contains("/tmp/in")) // trailing backslash trimmed (-D)
    assert(a.pattern == "*.xelb" && a.patternExplicit)
    assert(a.outDir.contains("/tmp/out"))
    assert(a.cfg.schemaName == "xe2" && a.cfg.batchSize == 4096)
    assert(a.threads.contains(8) && a.cfg.timezone == "UTC")
    assert(a.cfg.stringLimit == 100 && a.cfg.xmlLimit == 200 && a.cfg.binaryLimit == 50)
    assert(a.cfg.limitWidths && a.cfg.errorBudget == 5)
    assert(a.cfg.frameLength == 16 && a.cfg.frameCommand == "dc")
    assert(a.cfg.wipeDatabase && a.indexType.contains("ColumnStore") && a.verbose)
    // -R accepted and recorded (reference default "y"); no-op by design
    assert(a.readAhead == "n")
    val Right(d) = LoaderMain.parseArgs(Array("-D/d", "-o/o")): @unchecked
    assert(d.readAhead == "y")
  }

  test("parseArgs: -U/-P land in the config; -d/-T/-E refuse loudly") {
    val Right(a) = LoaderMain.parseArgs(Array(
      "-D/d", "-Sjdbc:derby:memory:x", "-Uadmin", "-Phunter2")): @unchecked
    assert(a.cfg.jdbcUser.contains("admin"))
    assert(a.cfg.jdbcPassword.contains("hunter2"))
    // a ported reference command line must never silently drop its
    // database/TLS/auth-mode flags and connect to the wrong place
    for (flag <- Seq("-dXEvents", "-T", "-E")) {
      val r = LoaderMain.parseArgs(Array("-D/d", "-Sjdbc:derby:memory:x", flag))
      assert(r.isLeft && r.swap.exists(_.contains("-S")), s"$flag: $r")
    }
    // -v (legacy log version): accepted no-op, format is auto-detected
    assert(LoaderMain.parseArgs(Array("-D/d", "-o/o", "-v1")).isRight)
  }

  test("parseArgs: missing input or target is a loud error, -? is help") {
    assert(LoaderMain.parseArgs(Array("-o/tmp/out")).isLeft)         // no input
    assert(LoaderMain.parseArgs(Array("-D/tmp/in")).isLeft)          // no target
    assert(LoaderMain.parseArgs(Array("-m/x.xem", "-D/d", "-o/o")).isLeft) // -m needs -f
    assert(LoaderMain.parseArgs(Array("-IB-Tree", "-D/d", "-o/o")).isLeft) // bad -I
    val Right(h) = LoaderMain.parseArgs(Array("-?")): @unchecked
    assert(h.help)
  }

  test("-n dry run prints the plan and writes nothing") {
    val outDir = Files.createTempDirectory("graft-dry-out").toString + "/never"
    val Right(a) = LoaderMain.parseArgs(
      Array(s"-D$inputDir", s"-o$outDir", "-n", "-l", "-L64")): @unchecked
    assert(a.dryRun)
    val plan = LoaderMain.formatDryRun(a)
    assert(plan.contains("Dry run"))
    assert(plan.contains("Files matched (pattern GraftSession_*) : 4"))
    assert(plan.contains(s"parquet $outDir"))
    assert(plan.contains("strings 64"))
    assert(plan.contains("ensure namespace xel"))
    // nothing was read or written — the target does not exist
    assert(!new java.io.File(outDir).exists())
    // JDBC target: the probe resolves product + layout read-only
    val Right(j) = LoaderMain.parseArgs(Array(s"-D$inputDir",
      "-Sjdbc:derby:memory:dryrun;create=true", "-n", "-Ugraft")): @unchecked
    val jplan = LoaderMain.formatDryRun(j)
    assert(jplan.contains("Apache Derby") && jplan.contains("as graft")
      && jplan.contains("layout RowStore"), jplan)
  }

  test("end-to-end: directory of rollover files -> demuxed parquet + lineage + stats") {
    val outDir = Files.createTempDirectory("graft-loader-out").toString + "/demux"
    val Right(a) = LoaderMain.parseArgs(Array(s"-D$inputDir", s"-o$outDir")): @unchecked
    val report = LoaderMain.run(spark, a)

    val orig = XeFixture.frame(spark, sf("sf0.001"))
    assert(report.filesProcessed == 4)
    assert(report.eventsLoaded == orig.count())
    assert(report.tablesLoaded == 5 && report.tableNames.size == 5)
    // default pattern derived the session's leading pattern (P3)
    assert(report.filePattern == "GraftSession_*")

    // demuxed data at rest, partitioned by event type
    val back = spark.read.parquet(outDir)
    assert(back.count() == orig.count())
    assert(back.select("event_name").distinct().count() == 5)

    // tracking write: one lineage row per input file with event counts
    val lin = spark.read.parquet(s"$outDir/_lineage")
    assert(lin.count() == 4)
    assert(lin.agg(sum("n_events")).head().getLong(0) == orig.count())
    assert(lin.columns.contains("loaded_at"))

    // statistics block renders every counter (TrackStatus analogue)
    val text = LoaderMain.formatReport(report)
    assert(text.contains("Total number of files processed     : 4"))
    assert(text.contains(s"Total number of events processed    : ${orig.count()}"))
  }

  test("end-to-end: directory of .xml event exports loads through the same lifecycle") {
    val inDir = Files.createTempDirectory("graft-loader-xml-in").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("c_event_sequence"), col("c_session_id"),
      col("c_duration_us"), col("e_time_of_event_utc"), col("c_statement"),
      col("event_name"))
    graft.sources.XeXmlFixtures.writeByKey(xe, "e_imported_file_id", inDir)
    val outDir = Files.createTempDirectory("graft-loader-xml-out").toString + "/demux"
    val Right(a) = LoaderMain.parseArgs(
      Array(s"-D$inDir", "-p*.xml", s"-o$outDir")): @unchecked
    val report = LoaderMain.run(spark, a)
    val orig = XeFixture.frame(spark, sf("sf0.001"))
    assert(report.filesProcessed == 4)
    assert(report.eventsLoaded == orig.count())
    assert(report.tablesLoaded == 5)
    val back = spark.read.parquet(outDir)
    assert(back.count() == orig.count())
    // typed columns survived the XML round trip into the demuxed store
    assert(back.schema("c_duration_us").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(back.schema("e_time_of_event_utc").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(back.agg(sum("c_duration_us")).head().getLong(0) ==
      orig.agg(sum("c_duration_us")).head().getLong(0))
    val lin = spark.read.parquet(s"$outDir/_lineage")
    assert(lin.count() == 4)
  }

  test("a .xeln rollover set loads through the xelnative reader") {
    import graft.xel.EventSchema.{EventMeta, FieldMeta, SessionMeta}
    val inDir = Files.createTempDirectory("graft-loader-xeln-in").toString
    val fields = Seq(FieldMeta("session_id", "System.Int64"),
      FieldMeta("duration_us", "System.Int64"))
    val meta = SessionMeta(XeFixture.eventNameMap.map(e => EventMeta(e._2, fields)), Nil)
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("event_name"), col("c_event_sequence"),
      col("e_time_of_event_utc"), col("c_session_id"), col("c_duration_us"))
    graft.sources.XelNativeFixtures.writeByKey(xe, meta, "e_imported_file_id", inDir)
    val written = xe.count()
    // -p* lists the hidden .crc sidecars the fixture writer leaves, too
    for (flags <- Seq(Seq(s"-D$inDir", "-p*.xeln"), Seq(s"-D$inDir", "-p*"),
                      Seq(s"-f${new java.io.File(inDir).listFiles().map(_.getPath)
                        .filter(_.endsWith(".xeln")).min}"))) {
      val outDir = demuxTarget("graft-loader-xeln-out")
      val report = LoaderMain.run(spark, loaderArgs(flags :+ s"-o$outDir": _*))
      val lin = spark.read.parquet(s"$outDir/_lineage")
      val linEvents = lin.agg(sum("n_events")).head().getLong(0)
      if (flags.size == 2) {
        assert(report.filesProcessed == 4 && lin.count() == 4)
        assert(report.eventsLoaded == written && linEvents == written)
      } else {
        assert(report.filesProcessed == 1 && lin.count() == 1)
        assert(report.eventsLoaded == linEvents && linEvents > 0)
      }
      assert(spark.read.parquet(outDir).count() == report.eventsLoaded)
    }
  }

  test("a file set that no one reader covers is refused, naming the extensions") {
    val inDir = Files.createTempDirectory("graft-loader-mixed-in").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("c_event_sequence"), col("event_name"))
    XelbFixtures.writeByKey(xe.filter(col("e_imported_file_id") <= 2), "e_imported_file_id", inDir)
    graft.sources.XeXmlFixtures.writeByKey(
      xe.filter(col("e_imported_file_id") > 2), "e_imported_file_id", inDir)
    val outDir = demuxTarget("graft-loader-mixed-out")
    val e = intercept[IllegalArgumentException](
      LoaderMain.run(spark, loaderArgs(s"-D$inDir", "-p*", s"-o$outDir")))
    assert(e.getMessage.contains("extensions found .xelb, .xml"), e.getMessage)
    assert(!new java.io.File(outDir).exists())
  }

  test("F5/F6 companions are MATERIALIZED in the demuxed store (no re-derivation)") {
    val inDir = Files.createTempDirectory("graft-loader-comp-in").toString
    val xe = XeFixture.frame(spark, sf("sf0.001")).select(
      col("e_imported_file_id"), col("c_event_sequence"),
      col("e_time_of_event_utc"),
      col("a_query_hash"),
      (col("a_query_hash") + 7).as("a_query_plan_hash"),
      unhex(concat(graft.xel.XelFunctions.hashToBinHex(col("a_query_hash")),
        lit("DEADBEEF"))).as("a_callstack"),
      col("event_name"))
    XelbFixtures.writeByKey(xe, "e_imported_file_id", inDir)
    val outDir = Files.createTempDirectory("graft-loader-comp-out").toString + "/demux"
    val Right(a) = LoaderMain.parseArgs(Array(s"-D$inDir", s"-o$outDir")): @unchecked
    LoaderMain.run(spark, a)
    // the STORE carries the companions as columns, like the reference's
    // event tables (EventHolder.cs:216-232) — a reader never re-derives
    val back = spark.read.parquet(outDir)
    assert(back.columns.contains("a_query_hash_bin"))
    assert(back.columns.contains("a_query_plan_hash_bin"))
    assert(back.columns.contains("a_callstack_debugcmd"))
    val row = back.orderBy("c_event_sequence").head()
    val hashHex = f"${row.getAs[Long]("a_query_hash")}%016X"
    assert(graft.sources.XeXmlFormat.bytesToHex(
      row.getAs[Array[Byte]]("a_query_hash_bin")) == hashHex)
    val expectCmd = "ln " + hashHex.grouped(2).toSeq.reverse.mkString + ";"
    assert(row.getAs[String]("a_callstack_debugcmd") == expectCmd)
  }

  test("width limits (-l -L) truncate and count in the report") {
    val outDir = Files.createTempDirectory("graft-loader-out2").toString + "/demux"
    val Right(a) = LoaderMain.parseArgs(
      Array(s"-D$inputDir", s"-o$outDir", "-l", "-L8")): @unchecked
    val report = LoaderMain.run(spark, a)
    // c_statement strings longer than 8 chars got truncated and counted
    assert(report.stringTruncations > 0)
    val back = spark.read.parquet(outDir)
    val maxLen = back.agg(max(length(col("c_statement")))).head().getInt(0)
    assert(maxLen <= 8, s"c_statement must be truncated to 8 chars, max is $maxLen")
  }

  test("parseArgs: malformed numeric flags hit the friendly usage path, not an exception") {
    // a bare -b or -bfoo must produce the same Left/usage error as a
    // missing input — never a NumberFormatException out of the parser
    assert(LoaderMain.parseArgs(Array("-bfoo", "-D/d", "-o/o")).isLeft)
    assert(LoaderMain.parseArgs(Array("-b", "-D/d", "-o/o")).isLeft)
    assert(LoaderMain.parseArgs(Array("-t1x", "-D/d", "-o/o")).isLeft)
    assert(LoaderMain.parseArgs(Array("-L", "-D/d", "-o/o")).isLeft)
    val Left(msg) = LoaderMain.parseArgs(Array("-e12.5", "-D/d", "-o/o")): @unchecked
    assert(msg.contains("-e") && msg.contains("12.5"))
  }

  test("-x exempts XML columns from width limits (InputParameters.cs:169-173)") {
    // c_data is XML-classed (EventSchema.xmlColumns): under -l -X8 it
    // truncates and counts; adding -x stores it unbounded and the XML
    // counter reads zero — the reference's XML→nvarchar(max) rehoming
    val xmlDir = xmlInputDir

    val out1 = Files.createTempDirectory("graft-loader-xml-o1").toString + "/demux"
    val Right(a1) = LoaderMain.parseArgs(
      Array(s"-D$xmlDir", s"-o$out1", "-l", "-X8")): @unchecked
    val r1 = LoaderMain.run(spark, a1)
    assert(r1.xmlTruncations > 0)
    assert(spark.read.parquet(out1)
      .agg(max(length(col("c_data")))).head().getInt(0) <= 8)

    val out2 = Files.createTempDirectory("graft-loader-xml-o2").toString + "/demux"
    val Right(a2) = LoaderMain.parseArgs(
      Array(s"-D$xmlDir", s"-o$out2", "-l", "-X8", "-x")): @unchecked
    assert(a2.cfg.limitWidths && a2.cfg.xmlUnbounded)
    val r2 = LoaderMain.run(spark, a2)
    assert(r2.xmlTruncations == 0)
    assert(spark.read.parquet(out2)
      .agg(max(length(col("c_data")))).head().getInt(0) > 8)
  }

  test("plain rerun into an existing -o dir fails loudly; -a appends; counters zero without -l") {
    val outDir = Files.createTempDirectory("graft-loader-rerun").toString + "/demux"
    val Right(a) = LoaderMain.parseArgs(Array(s"-D$inputDir", s"-o$outDir")): @unchecked
    val r1 = LoaderMain.run(spark, a)
    // without -l nothing was truncated — the report must say so (and the
    // truncation-stats scan is skipped entirely)
    assert(r1.stringTruncations == 0 && r1.xmlTruncations == 0 && r1.binaryTruncations == 0)
    // a verbatim rerun would silently duplicate every row under append —
    // the plain-run default must refuse instead
    intercept[Exception] { LoaderMain.run(spark, a) }
    val Right(ap) = LoaderMain.parseArgs(Array(s"-D$inputDir", s"-o$outDir", "-a")): @unchecked
    LoaderMain.run(spark, ap) // -a is the explicit opt-in to append
    assert(spark.read.parquet(outDir).count() == 2 * r1.eventsLoaded)
  }

  test("single-file input (-f) loads just that rollover file") {
    val file = new java.io.File(inputDir).listFiles().filter(
      _.getName.endsWith(".xelb")).sortBy(_.getName).head
    val outDir = Files.createTempDirectory("graft-loader-out3").toString + "/demux"
    val Right(a) = LoaderMain.parseArgs(
      Array(s"-f${file.getAbsolutePath}", s"-o$outDir")): @unchecked
    val report = LoaderMain.run(spark, a)
    assert(report.filesProcessed == 1)
    assert(report.filePattern == file.getName)
    assert(report.eventsLoaded > 0 &&
      report.eventsLoaded < XeFixture.frame(spark, sf("sf0.001")).count())
  }

  test("JDBC target (-S): demux lands in Derby via the bulk sink") {
    val url = "jdbc:derby:memory:graftloader;create=true"
    val Right(a) = LoaderMain.parseArgs(
      Array(s"-D$inputDir", s"-S$url")): @unchecked
    val report = LoaderMain.run(spark, a)
    assert(report.tablesLoaded == 5)
    val t = report.tableNames.head
    val back = spark.read.format("jdbc").option("url", url).option("dbtable", t).load()
    assert(back.count() > 0)
    assert(!back.columns.contains("event_name")) // table name IS the demux key
  }

  test("one source scan per load: task input records equal the events, with and without -l") {
    val events = XeFixture.frame(spark, sf("sf0.001")).count()
    for (dir <- Seq(inputDir, packedInputDir); extra <- Seq(Nil, Seq("-l", "-L8"))) {
      val outDir = demuxTarget("graft-loader-scan")
      val a = loaderArgs(Seq(s"-D$dir", s"-o$outDir") ++ extra: _*)
      val (report, read, tasks) = scanDuring(LoaderMain.run(spark, a))
      val what = s"${report.filesProcessed} files, flags ${extra.mkString(" ")}"
      assert(report.eventsLoaded == events)
      assert(read == events, s"$what: the load read $read " +
        s"records for $events events — the source was scanned more than once")
      // packed read tasks bound the store: one file per (task, event type)
      assert(tasks > 0 && partFiles(outDir) <= tasks * report.tablesLoaded,
        s"$what: ${partFiles(outDir)} files from $tasks tasks × ${report.tablesLoaded} types")
      if (dir == packedInputDir)
        assert(tasks < report.filesProcessed, s"$what: $tasks read tasks, files were not packed")
    }
  }

  test("-t sets the scan's packing target and the shuffle width for the run only") {
    val minKey = "spark.sql.files.minPartitionNum"
    val shuffleKey = "spark.sql.shuffle.partitions"
    val callers = spark.conf.getAll
    val files = new java.io.File(packedInputDir).listFiles().count(_.getName.endsWith(".xelb"))
    val default = spark.read.format("xelb").load(packedInputDir).rdd.getNumPartitions
    val (report, _, tasks) = scanDuring(LoaderMain.run(spark,
      loaderArgs(s"-D$packedInputDir", s"-o${demuxTarget("graft-loader-t")}", "-t8")))
    assert(report.filesProcessed == files)
    val ruled = withConfs(minKey -> "8")(
      spark.read.format("xelb").load(packedInputDir).rdd.getNumPartitions)
    // the rule reads minPartitionNum as a bytes-per-task target, not a
    // floor: 12 equal small files at -t8 pack two to a task (6 tasks)
    assert(tasks == ruled && tasks > default, s"-t8: $tasks read tasks, default $default")
    // the caller's confs are untouched: unset stays unset, set stays as set
    assert(spark.conf.getAll.get(minKey) == callers.get(minKey))
    assert(spark.conf.getAll.get(shuffleKey) == callers.get(shuffleKey))
    withConfs(minKey -> "3", shuffleKey -> "5") {
      val out = demuxTarget("graft-loader-t-throw")
      LoaderMain.run(spark, loaderArgs(s"-D$inputDir", s"-o$out", "-t8"))
      // a rerun into the same target throws — the confs still come back
      intercept[Exception](LoaderMain.run(spark, loaderArgs(s"-D$inputDir", s"-o$out", "-t8")))
      assert(spark.conf.get(minKey) == "3" && spark.conf.get(shuffleKey) == "5")
    }
  }

  test("observed report and _lineage equal the multi-pass functions (-l -L8, -l -X8 -x, no -l)") {
    val cases = Seq(
      inputDir -> Seq("-l", "-L8"),
      xmlInputDir -> Seq("-l", "-X8"),
      xmlInputDir -> Seq("-l", "-X8", "-x"),
      inputDir -> Nil)
    val Seq(l8, x8, xx, plain) = cases.map { case (dir, flags) =>
      val outDir = demuxTarget("graft-loader-eq")
      val a = loaderArgs(Seq(s"-D$dir", s"-o$outDir") ++ flags: _*)
      val report = LoaderMain.run(spark, a)
      val want = multiPass(a)
      val what = flags.mkString(" ")
      assert(truncations(report) == want.truncations, what)
      assert(report.eventsLoaded == want.events, what)
      assert(report.tableNames == want.eventNames && report.tablesLoaded == want.eventNames.size, what)
      assert(lineageRows(outDir) == want.lineage, what)
      want
    }
    // the cases cover every counter path: string and XML counts, -x's
    // zero XML counter, and zeros without -l
    assert(l8.truncations._1 > 0 && x8.truncations._2 > 0)
    assert(xx.truncations._2 == 0 && plain.truncations == ((0L, 0L, 0L)))
  }

  test("-a into a populated target reports only this run's event types and files") {
    val outDir = demuxTarget("graft-loader-eq-append")
    LoaderMain.run(spark, loaderArgs(s"-D$inputDir", s"-o$outDir"))
    val before = lineageRows(outDir)
    val slice = Files.createTempDirectory("graft-loader-eq-slice").toString
    XelbFixtures.writeByKey(XeFixture.frame(spark, sf("sf0.001"))
      .filter(col("e_imported_file_id").isin(1L, 2L) &&
        col("event_name").isin("wait_info", "rpc_completed"))
      .select(col("e_imported_file_id"), col("c_event_sequence"), col("c_session_id"),
        col("c_duration_us"), col("e_time_of_event_utc"), col("c_statement"),
        col("event_name")), "e_imported_file_id", slice)
    val a = loaderArgs(s"-D$slice", s"-o$outDir", "-a", "-l", "-L8")
    val report = LoaderMain.run(spark, a)
    val want = multiPass(a)
    assert(report.filesProcessed == 2 && report.tableNames == Seq("rpc_completed", "wait_info"))
    assert(report.tableNames == want.eventNames && report.eventsLoaded == want.events)
    assert(truncations(report) == want.truncations)
    assert(lineageRows(outDir) == before ++ want.lineage)
  }

  test("a file whose header has no records is processed and gets no lineage row") {
    val dir = Files.createTempDirectory("graft-loader-eq-empty").toString
    val inputs = new java.io.File(inputDir).listFiles().filter(_.getName.endsWith(".xelb"))
    inputs.foreach(f => Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath))
    val schema = spark.read.format("xelb").load(inputs.head.getAbsolutePath).schema
    val out = new java.io.DataOutputStream(
      new java.io.FileOutputStream(s"$dir/GraftSession_000000099_0.xelb"))
    try XelbFormat.writeHeader(out, schema) finally out.close()
    val outDir = demuxTarget("graft-loader-eq-empty-out")
    val a = loaderArgs(s"-D$dir", s"-o$outDir", "-l", "-L8")
    val report = LoaderMain.run(spark, a)
    val want = multiPass(a)
    assert(report.filesProcessed == 5 && want.lineage.size == 4)
    assert(truncations(report) == want.truncations && report.eventsLoaded == want.events)
    assert(report.tableNames == want.eventNames)
    assert(lineageRows(outDir) == want.lineage)
    // a set of nothing but that file: zeros everywhere, and the
    // observation still completes
    val lone = Files.createTempDirectory("graft-loader-eq-lone").toString
    Files.copy(new java.io.File(s"$dir/GraftSession_000000099_0.xelb").toPath,
      new java.io.File(lone, "GraftSession_000000099_0.xelb").toPath)
    val none = LoaderMain.run(spark, loaderArgs(s"-D$lone",
      s"-o${demuxTarget("graft-loader-eq-lone-out")}", "-l", "-L8"))
    assert(none.filesProcessed == 1 && none.eventsLoaded == 0 && none.tableNames.isEmpty)
    assert(truncations(none) == ((0L, 0L, 0L)))
  }

  /** Every path under `dir`, relative, with its permission bits; the
    * random part of part-file names is dropped. */
  private def layout(dir: String): Set[(String, String)] = {
    import java.nio.file.attribute.PosixFilePermissions
    val root = java.nio.file.Paths.get(dir)
    val all = Files.walk(root)
    try all.toArray.map(_.asInstanceOf[java.nio.file.Path]).map(p =>
      root.relativize(p).toString.replaceAll("part-[0-9]+-[0-9a-f-]{36}[.-]c[0-9]+", "part-*") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet
    finally all.close()
  }

  test("a parquet-target load forks no process on the target; bits and layout match Spark's") {
    val outDir = demuxTarget("graft-loader-forks")
    val (_, all) = forksDuring(
      LoaderMain.run(spark, loaderArgs(s"-D$inputDir", s"-o$outDir", "-l", "-L8")))
    val target = new java.io.File(outDir).getCanonicalPath
    val forks = all.filter(c => c.contains(outDir) || c.contains(target))
    assert(forks.isEmpty, s"${forks.size} processes forked on the target, e.g. ${forks.take(3)}")

    // the same rows and _lineage written by plain Spark writes, through
    // Hadoop's own local file system
    val plain = demuxTarget("graft-loader-forks-plain")
    val hadoopFs = Map("fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    spark.read.parquet(outDir).write.options(hadoopFs).partitionBy("event_name").parquet(plain)
    spark.read.parquet(s"$outDir/_lineage").write.options(hadoopFs).parquet(s"$plain/_lineage")
    val (got, want) = (layout(outDir), layout(plain))
    assert(got == want, s"only in the load: ${got -- want}; only in plain writes: ${want -- got}")
    assert(Seq("_SUCCESS", "._SUCCESS.crc", "_lineage/_SUCCESS").forall(f => got.exists(_._1 == f)))
    assert(got.exists(_._1.endsWith(".part-*.snappy.parquet.crc")))
  }

  test("-C and -S: the observation fires through the catalog's persist and JDBC's distinct") {
    val want = multiPass(loaderArgs(s"-D$inputDir", "-o/x", "-l", "-L8"))
    val schema = "xel_observe_test"
    try {
      val cat = withoutLocalFsForks("a -C load")(
        LoaderMain.run(spark, loaderArgs(s"-D$inputDir", "-C", s"-s$schema", "-w", "-l", "-L8")))
      assert(truncations(cat) == want.truncations && cat.eventsLoaded == want.events)
      assert(cat.tableNames.size == want.eventNames.size)
    } finally { spark.sql(s"DROP NAMESPACE IF EXISTS `$schema` CASCADE"); () }
    val jdbc = LoaderMain.run(spark,
      loaderArgs(s"-D$inputDir", "-Sjdbc:derby:memory:graftobserve;create=true", "-l", "-L8"))
    assert(truncations(jdbc) == want.truncations && jdbc.eventsLoaded == want.events)
    // JDBC table names are the sink's folded identifiers, not event names
    assert(jdbc.tableNames == want.eventNames.map(n => s"xel_$n"))
  }
}
