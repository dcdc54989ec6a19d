package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md: lazy val, not
  * per-test). UTC + tiny shuffle partitioning for test speed. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Runs `body` with the given session confs, then restores the previous
    * values, or their absence. */
  def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val prev = spark.conf.getAll
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kv.foreach { case (k, _) =>
      prev.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Every message along `t`'s cause chain, one a line. */
  def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** Paths under `d` this JVM holds open (Linux `/proc/self/fd`). */
  def openUnder(d: String): Seq[String] = {
    val root = new java.io.File(d).getCanonicalPath
    Option(new java.io.File("/proc/self/fd").listFiles()).toSeq.flatten
      .flatMap(f => scala.util.Try(java.nio.file.Files.readSymbolicLink(f.toPath).toString).toOption)
      .filter(_.startsWith(root))
  }

  /** `body`'s result and the command lines of the processes this JVM
    * forks while it runs, from a JFR recording of `jdk.ProcessStart`. */
  def forksDuring[A](body: => A): (A, Seq[String]) = {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    val result = try body finally rec.stop()
    val jfr = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(jfr)
      // a recording running beside this one (a profile) shares the dump
      (result, RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command")).toSeq)
    } finally { rec.close(); java.nio.file.Files.delete(jfr) }
  }

  /** `body`'s result, once it is checked to fork no `chmod` or `readlink`:
    * what Hadoop's local file system forks without `libhadoop`. */
  def withoutLocalFsForks[A](what: String)(body: => A): A = {
    val (result, forks) = forksDuring(body)
    val fs = forks.filter(_.matches("(chmod|readlink)\\b.*"))
    assert(fs.size == 0, s"$what forked ${fs.size} processes, e.g. ${fs.take(3)}")
    result
  }

  /** Full walk of an executed plan, crossing AQE stage boundaries
    * (query stages hold their subplan in a field, not in children) —
    * shared by every plan-shape assertion. */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    p +: kids.flatMap(flattenPlan)
  }
}

object SparkTestBase {

  /** An external `Row` of `schema` in the internal form the event-file
    * encoders take. */
  def internalRow(schema: org.apache.spark.sql.types.StructType,
                  row: org.apache.spark.sql.Row): org.apache.spark.sql.catalyst.InternalRow =
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(schema)(row)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
