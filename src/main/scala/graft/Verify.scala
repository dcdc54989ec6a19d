package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** A failed query must surface as a RED row in the driver's report,
    * never an omission (rounds 10-11 hid a 40% outage this way): write a
    * one-row parquet whose schema cannot match any oracle, so the compare
    * records a loud schema mismatch for this name. If even THAT write
    * fails (a failure mode that also breaks parquet writing — disk full,
    * permissions, a path Hadoop rejects), last-resort a raw-NIO `_ERROR`
    * marker file: the query must leave a trace on disk, not vanish from
    * the report a second time. */
  private[graft] def writeSentinel(spark: SparkSession, outDir: String,
                                   name: String, msg: String): Unit = {
    val text = "ERROR: " + msg.take(500)
    try {
      import spark.implicits._
      Seq(text).toDF("graft_query_error")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    } catch { case _: Throwable =>
      try { Files.writeString(Paths.get(outDir, s"${name}._ERROR"), text); () }
      catch { case e2: Throwable =>
        System.err.println(s"[verify] $name: sentinel write failed too: ${e2.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names to dump (debug aid)
    val picked = SparkEntry.pick(args.lift(2))
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        writeSentinel(spark, outDir, name, String.valueOf(e.getMessage))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
