package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import graft.xel.{LoaderMain, Pipeline, XelConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The load workload `load_xelb_limited`: `LoaderMain.run -l` loads a
  * generated `.xelb` rollover set into an empty parquet target, one load at
  * a time. */
object Loads {

  val Events = 60000
  val RolloverFiles = 24

  /** Untimed loads before the timed ones, and the fewest timed loads in a
    * run, however short `--seconds` is. */
  val WarmupLoads = 1
  val MinLoads = 5

  /** Input generations per run; set-up time counts their median. */
  val SetupReps = 3

  private def args(in: Path, out: Path): LoaderMain.LoaderArgs =
    LoaderMain.parseArgs(Array(s"-D$in", s"-o$out", "-l")) match {
      case Right(a) => a
      case Left(msg) => throw new IllegalArgumentException(msg)
    }

  private def digest(dir: Path): Map[String, String] =
    Files.list(dir).iterator().asScala.toSeq.map { f =>
      val md = MessageDigest.getInstance("SHA-256")
      f.getFileName.toString -> md.digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString
    }.toMap

  private def fsBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)

  /** Parquet files under a load target and their bytes. */
  private def stored(out: Path): (Long, Long) = {
    val s = Files.walk(out)
    try {
      val files = s.iterator().asScala.filter(f => f.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val in = ctx.work.resolve("input")
    var planted: Rollover.Planted = null
    var firstDigest: Map[String, String] = null

    // set-up: generate the set, repeated, each regeneration reproducing
    // the first byte for byte; then the warm-up loads
    (0 until SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      Main.deleteTree(in)
      planted = Rollover.generate(in, Events, RolloverFiles, ctx.seed)
      r.setupSeconds += (System.nanoTime() - t0) / 1e9
      val d = digest(in)
      r.attempted += 1
      if (firstDigest == null) firstDigest = d
      else if (!r.check(d == firstDigest, s"set-up $rep: same seed gave different files"))
        r.failed += 1
    }
    val t0 = System.nanoTime()
    (0 until WarmupLoads).foreach { w =>
      val warm = ctx.work.resolve(s"warm-up-$w")
      val what = s"warm-up load $w"
      if (!runLoader(ctx, in, warm, what).exists(verify(ctx, _, warm, planted, what)))
        r.failed += 1
      Main.deleteTree(warm)
      ctx.cleanup()
    }
    r.warmupSeconds = (System.nanoTime() - t0) / 1e9
    r.attempted += 1
    if (!r.check(planted.xmlTruncations > 0 && planted.stringTruncations > 0 &&
        planted.binaryTruncations > 0, s"generator left a truncation kind at zero: $planted"))
      r.failed += 1
    r.info("events") = planted.events.toString
    r.info("files") = planted.files.toString
    r.info("input_bytes") = planted.inputBytes.toString
    r.info("planted_truncations") =
      s"${planted.stringTruncations}/${planted.xmlTruncations}/${planted.binaryTruncations}"

    val loadSeconds = mutable.ArrayBuffer[Double]()
    val tracedSeconds = mutable.ArrayBuffer[Double]()
    val untracedSeconds = mutable.ArrayBuffer[Double]()
    val layerSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def sample(k: String, v: Double): Unit = layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || i < MinLoads) {
      val out = ctx.work.resolve(s"out-$i")
      ctx.settle()
      // in a traced run every other load runs with the listeners off, so
      // the two halves give the tracing overhead
      val traced = ctx.traced && i % 2 == 1
      if (traced) { ctx.trace.reset(); ctx.trace.attach() } else ctx.trace.detach()
      val readBefore = fsBytesRead()
      val what = s"load $i"
      val (report, span) = ctx.measured(ctx.trace.span("load")(runLoader(ctx, in, out, what)))
      val readBytes = fsBytesRead() - readBefore
      val ok = report.exists(verify(ctx, _, out, planted, what))
      if (!ok) r.failed += 1
      else {
        r.ops += (("load", i, span.seconds))
        loadSeconds += span.seconds
        val (nFiles, nBytes) = stored(out)
        sample("pipeline.files_written", nFiles.toDouble)
        sample("pipeline.bytes_written", nBytes.toDouble)
        sample("pipeline.stored_bytes_per_input_byte", nBytes.toDouble / planted.inputBytes)
        if (ctx.traced) {
          (if (traced) tracedSeconds else untracedSeconds) += span.seconds
          if (traced) {
            val w = ctx.trace.workOf(_ == "load")
            sample("sources.rows_decoded_per_event", w.recordsRead.toDouble / planted.events)
            sample("sources.bytes_read_per_input_byte", readBytes.toDouble / planted.inputBytes)
            sample("loader.jobs", w.jobs.toDouble)
            runtime("load", w).foreach { case (k, v) => sample(k, v) }
            phases(ctx, in, ctx.work.resolve(s"phases-$i"), planted, span.seconds)
              .foreach { case (k, v) => sample(k, v) }
          }
        }
      }
      Main.deleteTree(out)
      i += 1
    }
    ctx.trace.detach()
    r.passSeconds ++= loadSeconds
    r.info("stored_bytes_per_input_byte") =
      Main.median(layerSamples.getOrElse("pipeline.stored_bytes_per_input_byte", Nil)).toString
    if (ctx.traced) {
      layerSamples.foreach { case (k, v) => r.layers(k) = Main.median(v) }
      r.layers("loader.events_per_s") = planted.events / Main.median(loadSeconds)
      r.layers("trace.overhead_share") = Main.median(tracedSeconds) / Main.median(untracedSeconds)
    }
  }

  /** Spark runtime counters of one span, named `<span>.<counter>`. */
  def runtime(name: String, w: Work): Seq[(String, Double)] = Seq(
    s"$name.tasks" -> w.tasks.toDouble, s"$name.cpu_s" -> w.cpuNs / 1e9,
    s"$name.gc_s" -> w.gcMs / 1e3, s"$name.shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
    s"$name.spill_bytes" -> w.spillBytes.toDouble)

  /** One `LoaderMain.run` into `out`; None when it throws. */
  private def runLoader(ctx: Ctx, in: Path, out: Path,
                        what: String): Option[LoaderMain.LoaderReport] = {
    ctx.result.attempted += 1
    try Some(LoaderMain.run(ctx.spark, args(in, out))) catch {
      case e: Exception =>
        ctx.result.failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Checks a load's report, and what it stored, against what the
    * generator planted; never against the program's own figures. */
  private def verify(ctx: Ctx, report: LoaderMain.LoaderReport, out: Path,
                     p: Rollover.Planted, what: String): Boolean = {
    val r = ctx.result
    r.info("loader_errors") = report.errors.toString // hard-coded to 0 in the program; recorded only
    val checks = Seq(
      r.check(report.eventsLoaded == p.events, s"$what: ${report.eventsLoaded} events loaded, ${p.events} planted"),
      r.check(report.filesProcessed == p.files, s"$what: ${report.filesProcessed} files processed, ${p.files} planted"),
      r.check(report.tableNames.toSet == p.perType.keySet && report.tablesLoaded == p.perType.size,
        s"$what: tables ${report.tableNames.sorted.mkString(",")}, planted ${p.perType.keys.toSeq.sorted.mkString(",")}"),
      r.check((report.stringTruncations, report.xmlTruncations, report.binaryTruncations) ==
        ((p.stringTruncations, p.xmlTruncations, p.binaryTruncations)),
        s"$what: truncations ${report.stringTruncations}/${report.xmlTruncations}/${report.binaryTruncations}, " +
          s"planted ${p.stringTruncations}/${p.xmlTruncations}/${p.binaryTruncations}"))
    checks.forall(identity) && readBack(ctx, out, p, what)
  }

  /** Per-type row counts and lineage, read back from the load target. */
  def readBack(ctx: Ctx, out: Path, p: Rollover.Planted, what: String): Boolean = {
    val r = ctx.result
    val perType = ctx.spark.read.parquet(out.toString).groupBy("event_name").count()
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    val lineage = ctx.spark.read.parquet(out.resolve("_lineage").toString)
      .select(col("file_name"), col("n_events")).collect()
      .map(row => row.getString(0).split('/').last -> row.getLong(1))
    Seq(
      r.check(perType == p.perType, s"$what: per-type rows read back ${perType.toSeq.sorted}, planted ${p.perType.toSeq.sorted}"),
      r.check(lineage.length == p.files && lineage.toMap == p.perFile,
        s"$what: lineage has ${lineage.length} rows for ${p.files} files or wrong per-file counts"),
      r.check(lineage.map(_._2).sum == p.events, s"$what: lineage sums to ${lineage.map(_._2).sum}, planted ${p.events}")
    ).forall(identity)
  }

  /** The load again as separate timed calls to the same `LoaderMain` and
    * `Pipeline` functions, in `LoaderMain.run`'s order, each under its own
    * job group; also a decode-only scan of the source. */
  private def phases(ctx: Ctx, in: Path, out: Path, p: Rollover.Planted,
                     loadSeconds: Double): Seq[(String, Double)] = {
    val spark = ctx.spark
    val t = ctx.trace
    val a = args(in, out)
    val cfg: XelConfig = a.cfg
    ctx.cleanup()
    val (files, discover) = t.span("phase.discover", "phases")(LoaderMain.discoverFiles(a)._1)
    val ((frame, shaped), shape) = t.span("phase.shape", "phases") {
      val frame = spark.read.format("xelb").option("errorBudget", cfg.errorBudget)
        .load(files.map(_.getAbsolutePath): _*).withColumn("source_file", input_file_name())
      (frame, Pipeline.addCompanionColumns(Pipeline.applyWidthLimits(frame, cfg), cfg))
    }
    val (_, trunc) = t.span("phase.truncation_pass", "phases") {
      Pipeline.truncationStats(frame.drop("source_file"), cfg).head()
    }
    val (counts, write) = t.span("phase.demux_write", "phases") {
      Pipeline.writeDemuxed(shaped.drop("source_file"), out.toString, cfg, mode = "errorifexists")
    }
    val (_, tables) = t.span("phase.table_list", "phases")(counts.select(col("event_name")).collect())
    val (_, lineage) = t.span("phase.lineage", "phases") {
      val l: DataFrame = Pipeline.lineage(shaped).withColumn("loaded_at", current_timestamp())
        .localCheckpoint(false)
      l.write.mode("append").parquet(s"$out/_lineage")
      l.agg(coalesce(sum(col("n_events")), lit(0L))).head().getLong(0)
    }
    Main.deleteTree(out)
    ctx.cleanup()
    val (_, decode) = t.span("decode", "phases") {
      spark.read.format("xelb").option("errorBudget", cfg.errorBudget)
        .load(files.map(_.getAbsolutePath): _*).write.format("noop").mode("overwrite").save()
    }
    val all = Seq(discover, shape, trunc, write, tables, lineage)
    Seq(
      "loader.discover_s" -> discover.seconds,
      "pipeline.shape_s" -> shape.seconds,
      "pipeline.truncation_pass_s" -> trunc.seconds,
      "pipeline.demux_write_s" -> write.seconds,
      "pipeline.table_list_s" -> tables.seconds,
      "pipeline.lineage_s" -> lineage.seconds,
      "sources.decode_s" -> decode.seconds,
      "sources.decode_events_per_s" -> p.events / decode.seconds,
      "trace.coverage" -> all.map(_.seconds).sum / loadSeconds) ++
      runtime("phase.truncation_pass", t.workOf(_ == "phase.truncation_pass")) ++
      runtime("phase.demux_write", t.workOf(_ == "phase.demux_write")) ++
      runtime("phase.lineage", t.workOf(_ == "phase.lineage"))
  }
}
