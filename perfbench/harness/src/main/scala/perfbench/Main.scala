package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run of a workload hands back to `perfbench/run.py`, which turns
  * it into the reported metrics. */
final class Result(val workload: String) {
  val setupSeconds = mutable.ArrayBuffer[Double]()
  val sessionStartSeconds = mutable.ArrayBuffer[Double]()
  /** The warm-up after the inputs exist, outside the timed operations. */
  var warmupSeconds = 0.0
  /** Timed operations: (name, pass, seconds). */
  val ops = mutable.ArrayBuffer[(String, Int, Double)]()
  val passSeconds = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  var peakHeapMb = 0.0
  val layers = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()
  var spans: Seq[Span] = Nil

  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }

  def toJson: String = {
    def s(v: String) = Main.jsonString(v)
    def d(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    Seq(
      s"${s("workload")}: ${s(workload)}",
      s"${s("setup_s")}: [${setupSeconds.map(d).mkString(", ")}]",
      s"${s("session_start_s")}: [${sessionStartSeconds.map(d).mkString(", ")}]",
      s"${s("warmup_s")}: ${d(warmupSeconds)}",
      s"${s("ops")}: [${ops.map { case (n, p, t) => s"[${s(n)}, $p, ${d(t)}]" }.mkString(", ")}]",
      s"${s("passes")}: [${passSeconds.map(d).mkString(", ")}]",
      s"${s("attempted")}: $attempted",
      s"${s("failed")}: $failed",
      s"${s("failures")}: [${failures.map(s).mkString(", ")}]",
      s"${s("peak_heap_mb")}: ${d(peakHeapMb)}",
      s"${s("layers")}: {${layers.map { case (k, v) => s"${s(k)}: ${d(v)}" }.mkString(", ")}}",
      s"${s("spans")}: [${spans.map(sp => s"[${s(sp.name)}, ${s(sp.parent)}, ${sp.startNs}, ${sp.endNs}]").mkString(", ")}]",
      s"${s("info")}: {${info.map { case (k, v) => s"${s(k)}: ${s(v)}" }.mkString(", ")}}"
    ).mkString("{", ",\n ", "}\n")
  }
}

/** Peak heap in use after a garbage collection, over the collections that
  * start inside a measured window. Collector notifications arrive on a JMX
  * thread, possibly after their window has closed, so every collection is
  * kept with its start time and matched to the windows when asked. */
final class HeapWatch {
  private val clock = ManagementFactory.getRuntimeMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (start, end) of each window and (start, heap bytes after) of each
    * collection, in milliseconds of JVM uptime. */
  private val windows = mutable.ArrayBuffer[(Long, Long)]()
  private val collections = mutable.ArrayBuffer[(Long, Long)]()

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val after = gc.getMemoryUsageAfterGc.asScala.collect {
        case (pool, usage) if heapPools(pool) => usage.getUsed
      }.sum
      synchronized(collections += ((gc.getStartTime, after)))
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def window[T](body: => T): T = {
    val t0 = clock.getUptime
    try body finally synchronized(windows += ((t0, clock.getUptime)))
  }

  def peakMb: Double = synchronized {
    val inside = collections.collect {
      case (t, bytes) if windows.exists { case (a, b) => a <= t && t <= b } => bytes
    }
    if (inside.isEmpty) 0.0 else inside.max / 1048576.0
  }
}

final case class Ctx(spark: SparkSession, trace: Trace, heap: HeapWatch, work: Path,
                     seed: Long, seconds: Int, traced: Boolean, result: Result) {
  /** Drop cached plans and persisted blocks left by the previous operation. */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Clean up and collect, so the next operation starts on a clean heap. */
  def settle(): Unit = {
    cleanup()
    // a second collection after the context cleaner has dropped the
    // blocks the first one released
    System.gc()
    Thread.sleep(200)
    System.gc()
  }

  /** One timed operation and the settling after it: every collection in
    * between counts towards `peak_heap_mb`, the settling one too, so the
    * figure is never below the heap the operation leaves in use. */
  def measured[T](body: => T): T = heap.window(try body finally settle())
}

object Main {
  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** The one session every workload runs on: four local cores, four shuffle
    * partitions, UTC, no UI, and every scratch directory inside `work`. */
  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session starts per run; set-up time counts their median. The first
    * start also loads Spark's classes, so the median is a restart. */
  val SessionStarts = 3

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val o = opts(args.toSeq.drop(1))
    cmd match {
      case "run" => run(o)
      case "gen-rollover" =>
        val p = Rollover.generate(Paths.get(o("out")), o("events").toInt, o("files").toInt,
          o("seed").toLong)
        println(s"events=${p.events} files=${p.files} string=${p.stringTruncations} " +
          s"xml=${p.xmlTruncations} binary=${p.binaryTruncations} bytes=${p.inputBytes}")
      case "oracle-sql" =>
        val sql = graft.SparkEntry.oracleSql
        println(Mix.queries.map { case (q, _) => s"${jsonString(q)}: ${jsonString(sql(q))}" }
          .mkString("{", ",\n", "}"))
      case "gen-mix" =>
        val out = Paths.get(o("out")).toAbsolutePath
        val spark = session(out.resolve("_spark"))
        try MixData.write(spark, out.toString) finally spark.stop()
      case _ =>
        System.err.println("usage: Main run|gen-rollover|gen-mix|oracle-sql --key value ...")
        sys.exit(2)
    }
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val work = Paths.get(o("work")).toAbsolutePath
    Files.createDirectories(work)
    val result = new Result(workload)
    val heap = new HeapWatch
    val spark = (1 to SessionStarts).map { i =>
      val t0 = System.nanoTime()
      val s = session(work)
      s.range(1000).selectExpr("sum(id)").collect()
      result.sessionStartSeconds += (System.nanoTime() - t0) / 1e9
      if (i < SessionStarts) s.stop()
      s
    }.last
    val ctx = Ctx(spark, new Trace(spark), heap, work, o("seed").toLong,
      o("seconds").toInt, o("trace") == "1", result)
    try {
      workload match {
        case "load_xelb_limited" => Loads.run(ctx)
        case "query_mix" => Mix.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      result.peakHeapMb = heap.peakMb
      if (ctx.traced) result.spans = ctx.trace.spans.toSeq
      Files.writeString(Paths.get(o("result")), result.toJson)
      spark.stop()
    }
  }

  def jsonString(v: String): String = "\"" + v.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def median(xs: Iterable[Double]): Double = {
    val v = xs.toVector.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
