package graft

/** Optimization-round instrument (guide §1/§7.2): run the named queries
  * warm (min-of-2 like Bench) and print each executed-plan operator with
  * its populated SQLMetrics (rows, time), so the expensive operator is a
  * measured fact, not a guess. Local-only tooling — not part of any
  * query path.
  *
  * args: <comma-separated query names> */
object ProbeTimes {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // job-level wall clock: internal actions (checkpoint materializations,
    // artifact builds, fn-internal counts) never show in the final plan's
    // metrics, so record every job's duration too
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var logJobs = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          jobs.put(js.jobId, (js.time, desc))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = jobs.remove(je.jobId)
          if (logJobs && st != null)
            println(f"    [job ${je.jobId}%4d] ${(je.time - st._1) / 1e3}%7.3f s  ${st._2.take(90)}")
        }
      })
    spark.range(1000).selectExpr("sum(id)").collect()
    def cleanup(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[probe] unknown query: $name")
        case Some(fn) =>
          def once(report: Boolean): Double = {
            logJobs = report
            if (report) println(s"  -- $name pass 2 jobs --")
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            // drive the SAME QueryExecution the walk below inspects:
            // df.count() would build (and execute) a separate pruned plan,
            // leaving this one unexecuted — zero metrics, no AQE stages.
            // executedPlan.execute() computes every column (the guide
            // §1.4 noop-sink stance) and populates the walked metrics.
            val qe = df.queryExecution
            qe.executedPlan.execute().count()
            val t = (System.nanoTime() - t0) / 1e9
            // stop listener println I/O immediately: late-finishing jobs
            // (cleanup, the next query's pass 1) must not interleave into
            // later output, and the map must not retain end-less jobs
            logJobs = false
            jobs.clear()
            if (report) {
              val plan = qe.executedPlan
              def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
                val ms = p.metrics.toSeq
                  .filter { case (_, m) => m.value > 0 }
                  .sortBy(_._1)
                  .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
                println(f"${"  " * d}${p.nodeName}%-40s $ms")
                // descend through the adaptive wrapper and query stages,
                // or the walk stops at "AdaptiveSparkPlan" with no children
                // and the FINAL (post-reuse) plan is never shown
                p match {
                  case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                    walk(a.executedPlan, d + 1)
                  case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                    walk(s.plan, d + 1)
                  case _ =>
                    p.children.foreach(walk(_, d + 1))
                }
                p.subqueries.foreach(walk(_, d + 1))
              }
              walk(plan, 1)
            }
            cleanup(); t
          }
          val t1 = once(false); val t2 = once(true)
          println(f"[probe] $name min=${math.min(t1, t2)}%.3f  (p1=$t1%.3f p2=$t2%.3f)")
      }
    }
    spark.stop()
  }
}
