package graft

/** Optimization-round tooling: dump `.explain("formatted")` for the named
  * queries to plans/<tag>/<name>_<suffix>.txt so plan-shape claims in the
  * round notes are auditable without running Spark.
  *
  * args: <tag-dir> <suffix> <comma-separated query names>
  * e.g.  runMain graft.DumpPlans plans/r21 before q3_top_orders,q5_nation_revenue
  *
  * The session is Bench's ([[LocalSession]]) — a plan dumped under different
  * confs (shuffle partitions, AQE) would not be the plan the bench runs. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val picked = SparkEntry.pick(Some(args(2)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // a scripted dump that silently produced no file must not look
    // successful — track per-query failures and exit 1
    var nFailed = 0
    picked.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
        nFailed += 1
      }
      LocalSession.release(spark)
    }
    spark.stop()
    if (nFailed > 0) {
      System.err.println(s"[plans] $nFailed of ${picked.size} requested dumps failed")
      sys.exit(1)
    }
  }
}
