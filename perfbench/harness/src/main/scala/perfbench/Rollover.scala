package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Random
import java.util.concurrent.Executors
import org.apache.spark.sql.types._
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Deterministic generator of an XE rollover set: `files` `.xelb` files
  * holding `events` events in total. The encoder is written here from the
  * published layout, not borrowed from the program, so what the generator planted is known
  * independently of what the loader reports.
  *
  * The same (seed, events, files) gives byte-identical files: each
  * file draws from its own `Random(seed, fileIndex)`, so files can be written
  * in parallel without changing a byte. */
object Rollover {

  /** Event types and their share of the set: a skewed mix, as in a real
    * session where a few completion events dominate. */
  val eventTypes: Seq[(String, Double)] = Seq(
    "sql_batch_completed" -> 0.34, "rpc_completed" -> 0.22,
    "sql_statement_completed" -> 0.15, "wait_info" -> 0.11,
    "lock_acquired" -> 0.07, "error_reported" -> 0.05,
    "xml_deadlock_report" -> 0.04, "blocked_process_report" -> 0.02)

  val StringLimit = 1024
  val XmlLimit = 4000
  val BinaryLimit = 1024

  /** Planted share of values past each width limit. */
  val LongStatementShare = 0.02
  val LongXmlShare = 0.15
  val LongBufferShare = 0.06

  val session = "PerfSession"

  /** The union schema of every file: the demux key, the event time, `c_`
    * fields (a string, an XML column from `EventSchema.xmlColumns`, a binary
    * buffer) and `a_` actions (a uint64 hash, a binary callstack, strings). */
  val schema: StructType = StructType(Seq(
    StructField("event_name", StringType),
    StructField("e_time_of_event_utc", TimestampType),
    StructField("c_event_sequence", LongType),
    StructField("c_session_id", LongType),
    StructField("c_duration", LongType),
    StructField("c_statement", StringType),
    StructField("c_wait_type", StringType),
    StructField("c_xml_report", StringType),
    StructField("c_buffer", BinaryType),
    StructField("a_query_hash", DecimalType(38, 0)),
    StructField("a_callstack", BinaryType),
    StructField("a_client_app_name", StringType),
    StructField("a_database_name", StringType)))

  /** Column positions under each width limit, as the loader classes them:
    * `c_`/`a_` strings, the XML column, binaries. */
  private val stringCols = Seq("c_statement", "c_wait_type",
    "a_client_app_name", "a_database_name").map(schema.fieldIndex)
  private val xmlCol = schema.fieldIndex("c_xml_report")
  private val binaryCols = Seq("c_buffer", "a_callstack").map(schema.fieldIndex)

  /** What the generator put into one set. */
  final case class Planted(
      events: Long, files: Int, perType: Map[String, Long],
      stringTruncations: Long, xmlTruncations: Long, binaryTruncations: Long,
      inputBytes: Long, perFile: Map[String, Long])

  private final case class FilePlant(name: String, bytes: Long,
      perType: Map[String, Long], s: Long, x: Long, b: Long, n: Long)

  /** One event as plain values, in [[schema]] order (null = absent). */
  private type Ev = Array[Any]

  private val words = Seq("select", "from", "where", "join", "orders",
    "lineitem", "customer", "group", "by", "order", "sum", "count", "and",
    "or", "insert", "update", "set", "values", "top", "exists", "in")
  private val waitTypes = Seq("PAGEIOLATCH_SH", "LCK_M_X", "CXPACKET",
    "WRITELOG", "SOS_SCHEDULER_YIELD", "ASYNC_NETWORK_IO")
  private val apps = Seq("app-web", "app-batch", "ssms", "sqlcmd", "etl")
  private val dbs = Seq("sales", "ops", "hr", "tempdb", "master")
  private val baseMicros = 1704067200000000L // 2024-01-01T00:00:00Z

  def fileName(i: Int): String = f"${session}_0_${133500000000000000L + i}%d"

  def generate(dir: Path, events: Int, files: Int, seed: Long, threads: Int = 4): Planted = {
    require(events >= files && files > 0, s"$events events cannot fill $files files")
    Files.createDirectories(dir)
    val base = events / files
    val counts = Array.tabulate(files)(f => base + (if (f < events % files) 1 else 0))
    val firstSeq = counts.scanLeft(0L)(_ + _)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val plants = try Await.result(Future.sequence((0 until files).map { f =>
      Future(writeFile(dir, f, counts(f), firstSeq(f), seed))
    }), Duration.Inf) finally pool.shutdown()
    val written = Option(dir.toFile.listFiles()).map(_.count(_.isFile)).getOrElse(0)
    require(written == files, s"generator wrote $written files, $files requested")
    Planted(
      events = plants.map(_.n).sum, files = files,
      perType = plants.flatMap(_.perType).groupMapReduce(_._1)(_._2)(_ + _),
      stringTruncations = plants.map(_.s).sum,
      xmlTruncations = plants.map(_.x).sum,
      binaryTruncations = plants.map(_.b).sum,
      inputBytes = plants.map(_.bytes).sum,
      perFile = plants.map(p => p.name -> p.n).toMap)
  }

  private def writeFile(dir: Path, f: Int, n: Int, seq0: Long, seed: Long): FilePlant = {
    val rng = new Random(seed * 1000003L + f)
    val name = fileName(f) + ".xelb"
    val path = dir.resolve(name)
    val perType = scala.collection.mutable.Map[String, Long]()
    var s, x, b = 0L
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    try {
      val xelb = new DataOutputStream(out)
      writeXelbHeader(xelb)
      var i = 0
      while (i < n) {
        val ev = event(rng, seq0 + i)
        val t = ev(0).asInstanceOf[String]
        perType(t) = perType.getOrElse(t, 0L) + 1
        stringCols.foreach(c => if (over(ev(c), StringLimit)) s += 1)
        if (over(ev(xmlCol), XmlLimit)) x += 1
        binaryCols.foreach(c => if (overBin(ev(c))) b += 1)
        writeXelbRecord(xelb, ev)
        i += 1
      }
      xelb.flush()
    } finally out.close()
    FilePlant(name, Files.size(path), perType.toMap, s, x, b, n)
  }

  private def over(v: Any, limit: Int): Boolean = v match {
    case str: String => str.length > limit
    case _ => false
  }
  private def overBin(v: Any): Boolean = v match {
    case a: Array[Byte] => a.length > BinaryLimit
    case _ => false
  }

  private def pickType(rng: Random): String = {
    var r = rng.nextDouble()
    eventTypes.find { case (_, w) => r -= w; r < 0 }.getOrElse(eventTypes.last)._1
  }

  private def text(rng: Random, len: Int): String = {
    val sb = new java.lang.StringBuilder(len + 16)
    while (sb.length < len) {
      if (sb.length > 0) sb.append(' ')
      sb.append(words(rng.nextInt(words.size)))
    }
    sb.setLength(len)
    sb.toString
  }

  private def bytes(rng: Random, len: Int): Array[Byte] = {
    val a = new Array[Byte](len); rng.nextBytes(a); a
  }

  private def xmlReport(rng: Random, len: Int): String = {
    val sb = new java.lang.StringBuilder(len + 64)
    sb.append("<deadlock><process-list>")
    var p = 0
    while (sb.length < len - 40) {
      sb.append("<process id=\"p").append(p).append("\" spid=\"")
        .append(50 + rng.nextInt(400)).append("\">")
        .append(text(rng, 20 + rng.nextInt(60))).append("</process>")
      p += 1
    }
    sb.append("</process-list></deadlock>")
    sb.toString
  }

  private def event(rng: Random, seq: Long): Ev = {
    val t = pickType(rng)
    val completed = t.endsWith("_completed")
    val ev = new Array[Any](schema.length)
    ev(0) = t
    ev(1) = baseMicros + seq * 997L + rng.nextInt(500)
    ev(2) = seq
    ev(3) = 50L + rng.nextInt(400)
    if (completed || t == "wait_info") ev(4) = rng.nextInt(5000000).toLong
    if (completed) ev(5) = text(rng,
      if (rng.nextDouble() < LongStatementShare) StringLimit + 1 + rng.nextInt(600)
      else 40 + rng.nextInt(260))
    if (t == "wait_info") ev(6) = waitTypes(rng.nextInt(waitTypes.size))
    if (t == "xml_deadlock_report" || t == "blocked_process_report")
      ev(7) = xmlReport(rng,
        if (rng.nextDouble() < LongXmlShare) XmlLimit + 100 + rng.nextInt(2000)
        else 300 + rng.nextInt(1500))
    if (t == "error_reported" || t == "lock_acquired") ev(8) = bytes(rng,
      if (rng.nextDouble() < LongBufferShare) BinaryLimit + 1 + rng.nextInt(500)
      else 16 + rng.nextInt(200))
    ev(9) = new java.math.BigDecimal(new java.math.BigInteger(64, rng))
    if (rng.nextBoolean()) ev(10) = bytes(rng, 8 * (1 + rng.nextInt(16)))
    ev(11) = apps(rng.nextInt(apps.size))
    ev(12) = dbs(rng.nextInt(dbs.size))
    ev
  }

  // --- XELB: magic, u16 version, u32 + UTF-8 DDL, then framed records ----

  private def writeXelbHeader(out: DataOutputStream): Unit = {
    out.write("XELB".getBytes("US-ASCII"))
    out.writeShort(1)
    val ddl = schema.toDDL.getBytes(UTF_8)
    out.writeInt(ddl.length)
    out.write(ddl)
  }

  private def writeXelbRecord(out: DataOutputStream, ev: Ev): Unit = {
    val body = new ByteArrayOutputStream(256)
    val b = new DataOutputStream(body)
    def lengthPrefixed(a: Array[Byte]): Unit = { b.writeInt(a.length); b.write(a) }
    schema.fields.indices.foreach { i =>
      if (ev(i) == null) b.writeByte(1)
      else {
        b.writeByte(0)
        schema.fields(i).dataType match {
          case LongType | TimestampType => b.writeLong(ev(i).asInstanceOf[Long])
          case StringType => lengthPrefixed(ev(i).asInstanceOf[String].getBytes(UTF_8))
          case BinaryType => lengthPrefixed(ev(i).asInstanceOf[Array[Byte]])
          case _: DecimalType =>
            lengthPrefixed(ev(i).asInstanceOf[java.math.BigDecimal].unscaledValue.toByteArray)
          case other => throw new IllegalStateException(s"no encoder for $other")
        }
      }
    }
    out.writeInt(body.size())
    body.writeTo(out)
  }
}
