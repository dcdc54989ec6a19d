package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session tuning for the self-contained micro-batch jobs the oracle
  * queries run (`stream_ingest_dedup`, `stream_rate_minute`,
  * `stream_asof_attribution`).
  *
  * Why this exists: every stateful streaming operator opens/commits one
  * state store PER shuffle partition PER micro-batch (a stream-stream
  * join opens four), so the fixed cost of a batch scales with the
  * partition count regardless of data volume. The oracle jobs carry
  * KB-scale state over a single-digit batch count — at the session
  * default of 32 partitions the attribution join spends ~2/3 of its
  * wall-clock on empty-store commits (measured: 5.3 s → 1.7 s with 8).
  * On a real cluster this knob is sized to STATE VOLUME, not left at the
  * batch-query default; sizing it here is the same engineering act.
  *
  * `noDataMicroBatches` is disabled inside the scope: the no-data batch
  * exists to finalize event-time state with no new input, and each
  * oracle query is written so finalization already happens inside DATA
  * batches — the attribution join is INNER (rows emit on arrival; the
  * watermark only bounds state), and the windowed-rate query carries two
  * sentinel batches whose second evicts every real window using the
  * watermark the first advanced. The empty batch would re-commit every
  * state store once more (measured 2.3 s) to produce zero rows.
  *
  * Both confs are restored on exit (try/finally) — batch queries in the
  * same session must keep the 32-partition default. */
object StreamTuning {

  val streamingShufflePartitions = 8

  /** Label every Spark job `body` launches (guide §1.5) so the ingest
    * loops' per-batch phases are attributable in the UI / job listeners —
    * the r22 sf1 probe of the compaction twins produced 15-20 s jobs
    * nobody could name. Thread-local; the caller's description (or
    * none) is restored on exit, so labels nest. */
  def labeled[A](spark: SparkSession, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  def withStreamingConf[A](spark: SparkSession)(body: => A): A = {
    val conf = spark.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val prevNoData =
      conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.shuffle.partitions",
      streamingShufflePartitions.toString)
    conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // AQE off inside the streaming scope: foreachBatch bodies are batch
    // queries, so AQE materializes EVERY exchange as its own scheduled
    // job to re-plan from runtime stats — measured ~11 jobs per
    // micro-batch on the near-dup admission loop, each carrying
    // scheduler+commit fixed cost, to re-optimize KB-scale 8-partition
    // plans whose shape is already fixed by this conf. Stateful
    // streaming queries run with AQE off by engine design anyway; this
    // aligns the foreachBatch loops. Batch queries outside the scope
    // keep AQE (skew joins, coalescing — the 100 TB levers).
    conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
