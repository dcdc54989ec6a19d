package perfbench

import graft.SparkEntry
import scala.collection.mutable

/** The query mix: registered queries over generated tables, each fully
  * materialized through the `noop` sink, one query at a time, in an order
  * the seed permutes afresh for every pass. */
object Mix {

  /** (query, family). Every family is present, with every hot spot the
    * roadmap names; the three `emb_*` graph queries whose oracle does not
    * finish at scale are left out. The list is short because the whole
    * benchmark, every run of every workload, must fit one hour. */
  val queries: Seq[(String, String)] = Seq(
    "xe_xml_extract" -> "xe", "xe_xel_native_scan" -> "xe", "xe_xml_source_scan" -> "xe",
    "q1_pricing_summary" -> "relational",
    "text_fingerprint" -> "corpus", "text_lm_score" -> "corpus", "sketch_cms" -> "corpus",
    "dedup_threshold_sweep" -> "corpus", "dedup_lsh_sweep" -> "corpus",
    "ann_topk_pq" -> "corpus", "ann_recall_report" -> "corpus", "emb_kmeans" -> "corpus",
    "stream_ingest_dedup" -> "streaming", "stream_neardup_ingest" -> "streaming")

  val families: Seq[String] = Seq("xe", "relational", "corpus", "streaming")

  /** Queries the check pass runs at a time. */
  val CheckThreads = 4

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val spark = ctx.spark
    val data = ctx.work.resolve("mixdata").toString
    val fns = SparkEntry.queries
    queries.foreach { case (q, _) => require(fns.contains(q), s"query $q is not registered") }
    // set-up: generate the tables, repeated; none of the queries reads a
    // prebuilt artifact. The check pass below is the warm-up
    (0 until Loads.SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      Main.deleteTree(ctx.work.resolve("mixdata"))
      MixData.write(spark, data)
      r.setupSeconds += (System.nanoTime() - t0) / 1e9
    }
    r.info("queries") = queries.size.toString

    // the check pass, which is also the warm-up and counts as set-up: each
    // result is written for run.py to fingerprint against the committed
    // oracle rows. It is outside the timed passes, so it runs CheckThreads
    // queries at a time, each thread on a session of its own (queries set
    // session configuration)
    val results = ctx.work.resolve("results")
    val c0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(CheckThreads)
    val checks = order(ctx.seed, -1).zipWithIndex.groupBy(_._2 % CheckThreads).values.map { part =>
      val session = spark.newSession()
      pool.submit(new Runnable {
        def run(): Unit = part.foreach { case ((q, _), _) =>
          r.synchronized(r.attempted += 1)
          try fns(q)(session, data).coalesce(1).write.mode("overwrite")
            .parquet(results.resolve(q).toString)
          catch { case e: Exception => r.synchronized {
            r.failed += 1
            r.failures += s"check pass $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
          } }
        }
      })
    }
    try checks.foreach(_.get()) finally pool.shutdown()
    ctx.settle()
    r.warmupSeconds = (System.nanoTime() - c0) / 1e9

    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val layerSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def sample(k: String, v: Double): Unit = layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    val tracedPasses = mutable.ArrayBuffer[Double]()
    val untracedPasses = mutable.ArrayBuffer[Double]()

    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    while (System.nanoTime() < deadline || pass < (if (ctx.traced) 2 else 1)) {
      // in a traced run every other pass runs with the listeners off, so
      // the two give the tracing overhead. Which of the two comes first
      // follows the seed's parity, so over seeds the warming of later
      // passes favours neither
      val traced = ctx.traced && (pass + ctx.seed) % 2 == 0
      if (traced) { ctx.trace.reset(); ctx.trace.attach() } else ctx.trace.detach()
      var construct, execute = 0.0
      val byFamily = mutable.Map[String, Double]().withDefaultValue(0.0)
      // the pass time is the sum of its query times; the wall time of the
      // pass also holds the collections between queries
      val (passSeconds, wallSeconds) = ctx.measured {
        val p0 = System.nanoTime()
        var sum = 0.0
        order(ctx.seed, pass).foreach { case (q, family) =>
          // every query starts on a clean heap, so the peak heap after a
          // collection is that of one query, not of garbage promoted by
          // the ones before it
          ctx.cleanup()
          System.gc()
          r.attempted += 1
          try {
            val ((c, e), span) = ctx.trace.span(s"query.$q", "mix") {
              val t0 = System.nanoTime()
              val df = fns(q)(spark, data)
              val t1 = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
              ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
            }
            r.ops += ((q, pass, span.seconds))
            sum += span.seconds
            construct += c; execute += e
            byFamily(family) += span.seconds
            if (traced) perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += span.seconds
          } catch { case e: Exception =>
            r.failed += 1
            r.failures += s"pass $pass $q: ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
        }
        (sum, (System.nanoTime() - p0) / 1e9)
      }
      r.passSeconds += passSeconds
      if (ctx.traced) (if (traced) tracedPasses else untracedPasses) += passSeconds
      if (traced) {
        val w = ctx.trace.workOf(_.startsWith("query."))
        sample("queries.construct_s", construct)
        sample("queries.planning_s", w.planningNs / 1e9)
        sample("queries.execute_s", execute)
        families.foreach(f => sample(s"queries.${f}_s", byFamily(f)))
        sample("queries.jobs", w.jobs.toDouble)
        sample("queries.shuffle_bytes", w.shuffleWriteBytes.toDouble)
        sample("queries.spill_bytes", w.spillBytes.toDouble)
        sample("streaming.batches", w.batches.toDouble)
        sample("streaming.batch_p50_ms", Main.median(w.batchMs.map(_.toDouble)))
        sample("trace.coverage", byFamily.values.sum / wallSeconds)
        Loads.runtime("mix", w).foreach { case (k, v) => sample(k, v) }
      }
      pass += 1
    }
    ctx.trace.detach()
    if (ctx.traced) {
      perQuery.foreach { case (q, v) => r.layers(s"query.${q}_s") = Main.median(v) }
      layerSamples.foreach { case (k, v) => r.layers(k) = Main.median(v) }
      r.layers("trace.overhead_share") = Main.median(tracedPasses) / Main.median(untracedPasses)
    }
  }

  /** The queries in the order of pass `pass` under `seed`. */
  def order(seed: Long, pass: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 7919L + pass).shuffle(queries)
}
