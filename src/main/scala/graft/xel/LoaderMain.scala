package graft.xel

import graft.sources.EventFileSource
import graft.streaming.StreamTuning
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The end-to-end CLI driver — the reference's `Main` + `ProcessFiles`
 * lifecycle (`XELoader/FileProcessor.cs:23-79`, `InputParameters.cs:63-301`,
 * `TrackStatus.cs:45-63`) as one arg-parsed invocation:
 *
 *   parse flags → discover files → (unless -a) namespace DDL + tracking
 *   table → read → width limits → demux load → lineage/tracking write →
 *   final statistics report.
 *
 * The demux load is the one scan of the source: the counters, the table
 * list and the tracking rows ride it as observed metrics, as the
 * reference counts and tracks while it decodes each file once.
 *
 * Flag surface mirrors the reference's single-letter concatenated style
 * (`-D/path`, `-b1048576` — value glued to the letter, `InputParameters
 * .cs:70-233`), with Spark-side re-homing where the original is
 * SQL-Server-physical:
 *
 *   -f<file>    one input file                       (-f)
 *   -m<xem>     metadata sidecar for the file pair   (-m; XELB option
 *               `metadataPath`, missing sidecar fails loudly)
 *   -D<dir>     input directory                      (-D)
 *   -p<pat>     file wildcard within -D              (-p, default *.xelb —
 *               the container stand-in for *.xel)
 *   -o<dir>     demux target directory (parquet at rest). The reference's
 *               "-S server" rehomes to one of -o (files) / -S (JDBC) /
 *               -C (catalog) — same decision, Spark-shaped targets.
 *   -S<url>     JDBC url target (JdbcSink.demuxAppend knob-for-knob path)
 *   -C          write managed catalog tables (CatalogDdl.writeDemuxedTables)
 *   -s<schema>  namespace / table-name prefix        (-s, default xel)
 *   -a          append: skip ALL DDL                 (-a)
 *   -c          clear event tables before load       (-c)
 *   -w          wipe the namespace first             (-w)
 *   -b<n>       writer batch size                    (-b, default 1,048,576)
 *   -t<n>       parallelism (-t): the scan packs files for n read tasks
 *               (`spark.sql.files.minPartitionNum`, which the packing rule
 *               reads as a bytes-per-task target; the reference runs
 *               min(-t, #files) workers) and the JDBC/catalog distincts
 *               shuffle to n partitions; both confs are the caller's
 *               again when the run returns
 *   -z<zone>    timezone for e_time_of_event_local   (-z, default UTC)
 *   -L<n> -X<n> -B<n>  string/XML/binary width limits (-L -X -B)
 *   -l          limit widths (the reference's "disable LOB on columnstore"
 *               is precisely what makes its width limits bite,
 *               `EventHolder.cs:277-281`)
 *   -x          store XML as unbounded strings — exempt XML columns from
 *               the width policy (`InputParameters.cs:169-173` →
 *               `EventMetadata.cs:372-375`; without this, a ported command
 *               line using -x would silently get truncated XML)
 *   -e<n>       per-file error budget                (-e, default 100)
 *   -h<n> -j<cmd>  callstack frame length / debugger command (-h -j)
 *   -I<kind>    RowStore|ColumnStore — accepted and recorded; parquet is
 *               columnar at rest and rows are sequence-clustered within
 *               files either way (D5 analogue)
 *   -U<user> -P<pass>  SQL-auth credentials for -S (`InputParameters
 *               .cs:199-229`) — carried as JDBC connection PROPERTIES
 *               on every connection, never spliced into the URL
 *   -n          dry run: print the resolved configuration, discovered
 *               files and target plan, then exit without reading data —
 *               the reference's `PrintProgramDetails` made standalone
 *   -V          verbose (stack traces on failure)
 *   -?          help
 *
 * Refused loudly (driver-specific connection shape — folding them into
 * -S is the only portable spelling): -d database name, -T TLS, -E
 * integrated auth. Accepted no-ops: -v legacy log version (the sources
 * auto-detect the container format), -R read-ahead (the columnar reader
 * already overlaps I/O with decode).
 */
object LoaderMain {

  final case class LoaderArgs(
      cfg: XelConfig = XelConfig.default,
      inputFile: Option[String] = None,
      xemFile: Option[String] = None,
      inputDir: Option[String] = None,
      pattern: String = "*.xelb",
      patternExplicit: Boolean = false,
      outDir: Option[String] = None,
      jdbcUrl: Option[String] = None,
      catalogTables: Boolean = false,
      indexType: Option[String] = None,
      threads: Option[Int] = None,
      readAhead: String = "y",
      verbose: Boolean = false,
      dryRun: Boolean = false,
      help: Boolean = false)

  /** The reference's final `PrintStatistics` block plus the tracking-table
    * content (`TrackStatus.cs:45-63`, `EventHolder.cs:478-511`): everything
    * a run reports, returned as data so callers/tests assert on it instead
    * of scraping the console. */
  final case class LoaderReport(
      filePattern: String,
      filesProcessed: Long,
      eventsLoaded: Long,
      tablesLoaded: Long,
      tableNames: Seq[String],
      errors: Long,
      stringTruncations: Long,
      xmlTruncations: Long,
      binaryTruncations: Long,
      elapsedMs: Long)

  /** `InputParameters.ProcessInputParameters` analogue: single-letter flags,
    * value concatenated. Unknown flags are ignored (the reference's switch
    * has an empty default). Returns Left(message) on unusable input. */
  def parseArgs(args: Array[String]): Either[String, LoaderArgs] = {
    var a = LoaderArgs()
    var numErr: Option[String] = None
    args.foreach { arg =>
      if (arg.length < 2 || arg.charAt(0) != '-') ()
      else {
        val v = arg.substring(2)
        // numeric flags route through the same friendly usage-error path
        // as missing input/target — a bare `-b` or `-bfoo` must not throw
        // NumberFormatException out of the parser
        def num(flag: Char): Int = v.toIntOption.getOrElse {
          if (numErr.isEmpty)
            numErr = Some(s"-$flag expects an integer, got: " +
              (if (v.isEmpty) "<nothing>" else s"'$v'"))
          0
        }
        arg.charAt(1) match {
          case '?' => a = a.copy(help = true)
          case 'f' => a = a.copy(inputFile = Some(v))
          case 'm' => a = a.copy(xemFile = Some(v))
          case 'D' => a = a.copy(inputDir = Some(v.replaceAll("[\\\\\"]+$", "")))
          case 'p' => a = a.copy(pattern = v, patternExplicit = true)
          case 'o' => a = a.copy(outDir = Some(v))
          case 'S' => a = a.copy(jdbcUrl = Some(v))
          case 'C' => a = a.copy(catalogTables = true)
          case 's' => a = a.copy(cfg = a.cfg.copy(schemaName = v))
          case 'a' => a = a.copy(cfg = a.cfg.copy(appendMode = true))
          case 'c' => a = a.copy(cfg = a.cfg.copy(clearTables = true))
          case 'w' => a = a.copy(cfg = a.cfg.copy(wipeDatabase = true))
          case 'b' => a = a.copy(cfg = a.cfg.copy(batchSize = num('b')))
          case 't' => a = a.copy(threads = Some(num('t')))
          case 'z' => a = a.copy(cfg = a.cfg.copy(timezone = v))
          case 'L' => a = a.copy(cfg = a.cfg.copy(stringLimit = num('L')))
          case 'X' => a = a.copy(cfg = a.cfg.copy(xmlLimit = num('X')))
          case 'B' => a = a.copy(cfg = a.cfg.copy(binaryLimit = num('B')))
          case 'l' => a = a.copy(cfg = a.cfg.copy(limitWidths = true))
          case 'x' => a = a.copy(cfg = a.cfg.copy(xmlUnbounded = true))
          case 'e' => a = a.copy(cfg = a.cfg.copy(errorBudget = num('e')))
          case 'h' => a = a.copy(cfg = a.cfg.copy(frameLength = num('h')))
          case 'j' => a = a.copy(cfg = a.cfg.copy(frameCommand = v))
          case 'I' =>
            if (v != "RowStore" && v != "ColumnStore")
              return Left(s"-I accepts RowStore or ColumnStore, got: $v")
            a = a.copy(indexType = Some(v))
          // -R<y|n> (`InputParameters.cs:149-151`, default "y"): the
          // reference spawns a per-file sequential-scan thread
          // (`FileProcessor.cs:188-192`). Accepted + recorded here but a
          // deliberate no-op: the vectorized Parquet reader and OS
          // readahead already overlap I/O with decode (SURVEY §2.1 S4).
          case 'R' => a = a.copy(readAhead = v)
          case 'n' => a = a.copy(dryRun = true)
          case 'V' => a = a.copy(verbose = true)
          // SQL-auth credentials (`InputParameters.cs:199-229`): wired
          // into every JDBC connection as PROPERTIES (JdbcSink.connect)
          // — a ported reference command line must not silently drop
          // them and connect unauthenticated
          case 'U' => a = a.copy(cfg = a.cfg.copy(jdbcUser = Some(v)))
          case 'P' => a = a.copy(cfg = a.cfg.copy(jdbcPassword = Some(v)))
          // connection-shape flags with no portable JDBC equivalent:
          // refuse LOUDLY rather than connect to the wrong database
          // (-d), without TLS (-T) or with the wrong auth mode (-E)
          case 'd' => return Left(
            s"-d (database name) has no portable JDBC mapping: fold it " +
              s"into -S (e.g. -S<jdbcUrl>/$v or ;databaseName=$v)")
          case 'T' => return Left(
            "-T (TLS) is driver-specific: fold it into -S " +
              "(e.g. ;encrypt=true or ?ssl=true)")
          case 'E' => return Left(
            "-E (integrated auth) is driver-specific: fold it into -S " +
              "(e.g. ;integratedSecurity=true)")
          // -v (legacy XEL log version, `InputParameters.cs:99`):
          // accepted no-op — the Spark sources detect the container
          // format per file instead of taking a global version switch
          case 'v' => ()
          case _ => () // reference: unknown flags fall through silently
        }
      }
    }
    if (a.help) Right(a)
    else if (numErr.nonEmpty) Left(numErr.get)
    else if (a.inputFile.isEmpty && a.inputDir.isEmpty)
      Left("an input is required: -f<file> or -D<directory> " +
        "[the reference's two required parameters are file location and server]")
    else if (a.outDir.isEmpty && a.jdbcUrl.isEmpty && !a.catalogTables)
      Left("a target is required: -o<dir>, -S<jdbcUrl> or -C (catalog tables)")
    else if (a.xemFile.nonEmpty && a.inputFile.isEmpty)
      Left("-m (metadata sidecar) only applies to single-file input (-f), as in the reference")
    else Right(a)
  }

  val helpText: String =
    """XELoader-on-Spark — bulk-load XE event files into demuxed tables
      |  input:   -f<file> | -D<dir> [-p<pattern>] [-m<xemSidecar>]
      |  target:  -o<dir> | -S<jdbcUrl> | -C (catalog tables)   [-s<schema>]
      |           [-U<user> -P<password>] (SQL auth; -d/-T/-E fold into -S)
      |  ddl:     -a append (skip DDL) | -c clear tables | -w wipe namespace
      |  shaping: -z<zone> -L<strLimit> -X<xmlLimit> -B<binLimit> -l (limit widths)
      |           -x (XML as unbounded strings, exempt from width limits)
      |  load:    -b<batchSize> -e<errorBudget> -t<threads> -I<RowStore|ColumnStore>
      |  misc:    -h<frameLen> -j<debuggerCmd> -R<y|n> (read-ahead; accepted,
      |           delegated to the columnar reader) -n dry run -V verbose
      |           -? help""".stripMargin

  /** File discovery — `ProcessFiles` (`FileProcessor.cs:81-147`): explicit
    * file, or directory + wildcard; with the default pattern the session's
    * leading pattern is derived from the first file and narrows the match
    * (`GetLeadingFilePattern`, `FileProcessor.cs:97-110`). Returns the
    * files and the pattern in use. */
  def discoverFiles(a: LoaderArgs): (Seq[java.io.File], String) = {
    a.inputFile match {
      case Some(f) =>
        val file = new java.io.File(f)
        require(file.isFile, s"input file not found: $f")
        (Seq(file), file.getName)
      case None =>
        val dir = new java.io.File(a.inputDir.get)
        require(dir.isDirectory, s"input directory not found: ${a.inputDir.get}")
        // hidden names (`.crc` sidecars) are not input, as in Hadoop's and
        // Spark's listings
        val all = Option(dir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith(".")).sortBy(_.getName).toSeq
        val byFlag = all.filter(f =>
          f.getName.matches(Pipeline.wildcardToRegex(a.pattern)))
        require(byFlag.nonEmpty,
          s"no files matching ${a.pattern} under ${a.inputDir.get}")
        if (a.patternExplicit) (byFlag, a.pattern)
        else {
          // default pattern: narrow to the first file's session, as the
          // reference does (rollover sets from several sessions can share
          // a directory; loading them interleaved was its original bug)
          val lead = Pipeline.leadingFilePattern(
            byFlag.head.getName.replaceAll("\\.xelb$", ".xel")) match {
            case Right(p) => p + "_*"
            case Left(_) => a.pattern // non-rollover names: keep the glob
          }
          val narrowed = byFlag.filter(_.getName.matches(Pipeline.wildcardToRegex(
            lead + a.pattern.dropWhile(_ == '*'))))
          (if (narrowed.nonEmpty) narrowed else byFlag, lead)
        }
    }
  }

  /** The reader of a load, by the extension every file carries: `parquet`,
    * or the registered event-file format (XELB rollover container, XELN
    * session container, XML event export) whose extension it is. A set
    * that no one reader covers is refused: each reader lists only its own
    * extension, so the rest would be counted as processed but not read. */
  private def readerFormat(files: Seq[java.io.File]): String = {
    def all(ext: String) = files.forall(_.getName.endsWith(ext))
    if (all(".parquet")) "parquet"
    else EventFileSource.registered.find(s => all(s.extension)).map(_.shortName())
      .getOrElse {
        val found = files.map { f =>
          val n = f.getName
          if (n.contains('.')) n.substring(n.lastIndexOf('.')) else "(none)"
        }.distinct.sorted
        throw new IllegalArgumentException(
          s"no one reader covers the input files: extensions found ${found.mkString(", ")}; " +
            s"readers: .parquet, ${EventFileSource.registered.map(_.extension).mkString(", ")}")
      }
  }

  /** The `Main` lifecycle with the session supplied (tests pass theirs;
    * [[main]] builds one). Returns the statistics report. `-t` sets its
    * confs for this run only: the caller's values (or their absence) are
    * restored when it returns or throws. */
  def run(spark: SparkSession, a: LoaderArgs): LoaderReport = {
    val threads = a.threads.map(n => math.max(1, n).toString).toSeq.flatMap(n =>
      Seq("spark.sql.files.minPartitionNum" -> n, "spark.sql.shuffle.partitions" -> n))
    val callers = spark.conf.getAll
    threads.foreach { case (k, v) => spark.conf.set(k, v) }
    try load(spark, a)
    finally threads.foreach { case (k, _) =>
      callers.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def load(spark: SparkSession, a: LoaderArgs): LoaderReport = {
    val t0 = System.nanoTime()
    // D1 version-matrix fork (`InputParameters.cs:344-383`): on a JDBC
    // target the server's ProductVersion decides the event-table layout,
    // and the ColumnStore-without-LOB layout is what makes the width
    // limits bite (`EventHolder.cs:277-281`) — on a 2014-2016-era
    // columnstore target the limits engage even without -l (-l maps to
    // the reference's "disable LOB on columnstore"). Non-JDBC targets
    // (parquet/catalog) are the ColumnStore-with-LOB analogue — columnar
    // at rest, unbounded types — so only an explicit -l limits there.
    val layout = a.jdbcUrl.map(url =>
      JdbcSink.resolveLayout(JdbcSink.probeCapabilities(url, a.cfg),
        a.indexType, disableLob = a.cfg.limitWidths))
    val cfg =
      if (layout.exists(_.widthLimitsBite)) a.cfg.copy(limitWidths = true)
      else a.cfg
    val (files, patternInUse) = discoverFiles(a)

    // DDL phase — owned by writeDemuxedTables itself (it ensures the
    // namespace before any table DDL; a second ensureNamespace here
    // would make -w drop and recreate the namespace TWICE per run);
    // skipped wholesale in append mode (FileProcessor.cs:35-49)

    val reader = spark.read.format(readerFormat(files))
      .option("errorBudget", cfg.errorBudget)
    val withMeta = a.xemFile.fold(reader)(m => reader.option("metadataPath", m))
    val frame = withMeta.load(files.map(_.getAbsolutePath): _*)
      .withColumn("source_file", input_file_name())

    require(frame.columns.contains("event_name"),
      s"input lacks the demux key event_name: ${frame.columns.mkString(", ")}")

    // one source scan per load: the truncation counters (A4) and the
    // per-(file, type) counts behind the table list, the event total and
    // the tracking rows are observed metrics of the frame, computed by
    // the demux write as it reads (Pipeline.observeLoad) — attached before
    // the width limits, which they measure
    val observation = Observation("xeloader-load")
    val observed = Pipeline.observeLoad(frame, cfg, observation)

    // width limits, then the F5/F6 companion columns the reference stores
    // per event table (hash → _bin, callstack → _debugcmd)
    val shaped = Pipeline.addCompanionColumns(
      Pipeline.applyWidthLimits(observed, cfg), cfg)

    // load phase: demux by event type into the chosen target
    val forWrite = shaped.drop("source_file")
    val sinkTables: Option[Seq[String]] = StreamTuning.labeled(spark, "xeloader: demux write") {
      if (a.jdbcUrl.isDefined)
        Some(JdbcSink.demuxAppend(forWrite, a.jdbcUrl.get, cfg,
          indexOn = a.indexType.collect {
            case "RowStore" if forWrite.columns.contains("c_event_sequence") =>
              "c_event_sequence"
          }))
      else if (a.catalogTables)
        Some(CatalogDdl.writeDemuxedTables(forWrite, cfg))
      else {
        // a plain run must not silently duplicate data when rerun into an
        // existing -o dir: append is reserved for -a, -c means replace,
        // and the default fails loudly on a non-empty target. The lazy
        // per-type counts it returns are not run: the observation below
        // already holds them.
        Pipeline.writeDemuxed(forWrite, a.outDir.get, cfg,
          mode = if (cfg.appendMode) "append"
                 else if (cfg.clearTables) "overwrite" else "errorifexists")
        None
      }
    }
    // the sinks' own table names (JDBC folds event names into identifiers);
    // on the parquet target a table is an event_name directory
    val load = Pipeline.loadObserved(observation)
    val tables = sinkTables.getOrElse(load.eventNames)

    // tracking phase (S7/D4): the dbo.tbl_ImportedXEventFiles analogue —
    // per-file aggregates plus the run timestamp, appended next to the data
    // (or left to the JDBC caller's tracking database). Built from the
    // observed cells: the write is the only job that reads the source.
    a.outDir.foreach(dir => StreamTuning.labeled(spark, "xeloader: lineage") {
      Pipeline.lineageOf(spark, load.cells)
        .withColumn("loaded_at", current_timestamp())
        .write.mode("append").parquet(s"$dir/_lineage")
    })

    LoaderReport(
      filePattern = patternInUse,
      filesProcessed = files.size.toLong,
      eventsLoaded = load.eventsLoaded,
      tablesLoaded = tables.size.toLong,
      tableNames = tables,
      errors = 0L, // parse-level errors under budget are dropped by the source
      stringTruncations = load.stringTruncations,
      xmlTruncations = load.xmlTruncations,
      binaryTruncations = load.binaryTruncations,
      elapsedMs = (System.nanoTime() - t0) / 1000000L)
  }

  /** `-n` dry run — the reference's `PrintProgramDetails` made
    * standalone: the resolved configuration, the files a real run would
    * read and the target plan, WITHOUT reading any event data. The one
    * external touch is the D1 capability probe on a JDBC target
    * (read-only metadata) — deliberately kept, it validates
    * connectivity and credentials before anyone schedules a real load.
    * Event types (and so the exact demux table list) are data-derived
    * and only resolvable by a real read; the plan says so instead of
    * guessing. */
  def formatDryRun(a: LoaderArgs): String = {
    val (files, patternInUse) = discoverFiles(a)
    val target =
      if (a.jdbcUrl.isDefined) {
        val caps = JdbcSink.probeCapabilities(a.jdbcUrl.get, a.cfg)
        val layout = JdbcSink.resolveLayout(caps, a.indexType,
          disableLob = a.cfg.limitWidths)
        s"JDBC ${caps.product} ${caps.majorVersion}.${caps.minorVersion}" +
          s" as ${a.cfg.jdbcUser.getOrElse("<default>")}" +
          s" — layout ${layout.indexType}" +
          s"${if (layout.widthLimitsBite) " (width limits bite)" else ""}"
      }
      else if (a.catalogTables) s"catalog namespace ${a.cfg.schemaName}"
      else s"parquet ${a.outDir.get}"
    val ddl =
      if (a.cfg.appendMode) "append (-a): no DDL"
      else (if (a.cfg.wipeDatabase) s"wipe namespace ${a.cfg.schemaName}; "
            else "") +
        s"ensure namespace ${a.cfg.schemaName}; one table per event type " +
        "(types are data-derived — resolved at load time)" +
        (if (a.cfg.clearTables) "; clear (-c) each event table first" else "")
    s"""*** Dry run (-n): no data read, nothing written ***
       | Files matched (pattern $patternInUse) : ${files.size}
       |${files.take(10).map(f => s"   ${f.getPath}").mkString("\n")}
       |${if (files.size > 10) s"   … ${files.size - 10} more\n" else ""} Target                : $target
       | DDL plan              : $ddl
       | Width limits          : ${if (a.cfg.limitWidths)
      s"strings ${a.cfg.stringLimit}, xml ${
        if (a.cfg.xmlUnbounded) "unbounded (-x)" else a.cfg.xmlLimit
      }, binary ${a.cfg.binaryLimit}" else "off (unbounded columnar)"}
       | Batch size / budget   : ${a.cfg.batchSize} rows / ${a.cfg.errorBudget} errors per file
       | Timezone              : ${a.cfg.timezone}""".stripMargin
  }

  /** `TrackStatus.PrintStatistics` analogue (`TrackStatus.cs:45-63`). */
  def formatReport(r: LoaderReport): String =
    s"""*** Statistics for Import ***
       | Files imported with leading pattern : ${r.filePattern}
       | Time taken to process all files     : ${r.elapsedMs} ms
       | Total number of files processed     : ${r.filesProcessed}
       | Total number of events processed    : ${r.eventsLoaded}
       | Total number of tables processed    : ${r.tablesLoaded}
       | Total number of errors encountered  : ${r.errors}
       | Total Strings truncated             : ${r.stringTruncations}
       | Total XML truncated                 : ${r.xmlTruncations}
       | Total Binary truncated              : ${r.binaryTruncations}""".stripMargin

  def main(args: Array[String]): Unit = {
    parseArgs(args) match {
      case Left(msg) =>
        Console.err.println(s"*** There is a problem with the parameters supplied ***")
        Console.err.println(s"    $msg")
        Console.err.println(helpText)
        sys.exit(1)
      case Right(a) if a.help =>
        println(helpText)
      case Right(a) if a.dryRun =>
        println(formatDryRun(a))
      case Right(a) =>
        val spark = SparkSession.builder()
          .appName("xeloader-spark")
          .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        try {
          val report = run(spark, a)
          println(formatReport(report))
        } catch {
          case e: Throwable =>
            Console.err.println(s"***  Exception encountered  ***")
            Console.err.println(s"Exception message : ${e.getMessage}")
            if (a.verbose) e.printStackTrace(Console.err)
            else Console.err.println("Use -V parameter for detailed stack trace")
            spark.stop()
            sys.exit(1)
        }
        spark.stop()
    }
  }
}
