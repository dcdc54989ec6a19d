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
