package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming ingest deduplication (SURVEY.md §2.9 / phase F): the
 * streaming twin of the batch `Dedup.incrementalPairs` admission step.
 * New documents arrive as a stream; the existing corpus is a STATIC
 * digest table. A stream-static LEFT ANTI join admits only texts the
 * store has never seen — the one streaming join flavor the surface was
 * missing (attribution is stream-stream, rollups are windowed aggs,
 * sessionize/funnel are stateful maps).
 *
 * Why this shape survives 100 TB of store: the static side is a
 * digest-only projection (16 bytes/doc), re-read per micro-batch but
 * prunable and broadcast-able when the store's digest table is small;
 * at billions of docs the same join degrades gracefully to a
 * shuffled-hash anti-join keyed by digest. No streaming state is kept at
 * all — admission is stateless given the store snapshot, unlike
 * `dropDuplicatesWithinWatermark`, which guards WITHIN-stream replays.
 * Compose both: watermark-dedup the stream, anti-join the store.
 */
object IngestDedup {

  /** Digest-only projection of an existing corpus — what the static side
    * of the admission join actually reads (never the full text). */
  def storeDigests(store: DataFrame, textCol: String): DataFrame =
    store.select(md5(col(textCol)).as("digest")).distinct()

  /** Admit only stream rows whose exact text is absent from the store.
    * `digests` must be [[storeDigests]]-shaped (a `digest` column).
    * Append-mode safe: no aggregation, no watermark requirement. The
    * join key rides an underscore-prefixed internal column so a
    * caller's own `digest` column (a natural name on crawl pipelines)
    * passes through untouched instead of being clobbered and dropped —
    * and the internal name itself is suffixed until absent from the
    * caller's columns, so even a frame that already carries
    * `_graft_digest` (this same collision class, one name over) cannot
    * be clobbered. */
  def admit(stream: DataFrame, digests: DataFrame, textCol: String): DataFrame = {
    val tmp = Iterator.from(0)
      .map(i => if (i == 0) "_graft_digest" else s"_graft_digest_$i")
      .find(n => !stream.columns.contains(n)).get
    stream.withColumn(tmp, md5(col(textCol)))
      .join(digests.withColumnRenamed("digest", tmp), Seq(tmp), "left_anti")
      .drop(tmp)
  }

  /** The digest store as a growing parquet directory of per-batch
    * partitions (`batch=<id>/`) — the read side of [[admitLoop]]'s
    * append. Absent/empty store → an empty digest frame (first ingest
    * admits everything). `excludeBatch` drops ONE batch partition from
    * the view: [[admitLoop]] passes its own batch id so a REPLAYED batch
    * never sees the digests its previous (possibly partial) attempt
    * recorded — without the exclusion, replay would self-refuse every
    * row and overwrite its corpus partition with nothing (data loss
    * exactly when the engine is trying to recover it). */
  private val digestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("digest",
      org.apache.spark.sql.types.StringType)))

  def storeDirDigests(spark: org.apache.spark.sql.SparkSession,
                      digestDir: String,
                      excludeBatch: Option[Long] = None): DataFrame =
    BatchStore.read(spark, digestDir, digestSchema, excludeBatch)

  /** The CLOSED ingest loop as a foreachBatch sink, one closure per
    * call ([[CorpusManifest.IngestLoop]] holds the per-batch protocol
    * and its single-writer contract): each micro-batch is admitted
    * against the digest store, the admitted docs land in the corpus,
    * and their digests append to the store — so the NEXT batch refuses
    * anything this batch admitted. Digests are re-projected from the
    * just-committed corpus partition, not the in-flight frame, so the
    * store can never record a digest whose doc failed to land. */
  def admitLoop(textCol: String, digestDir: String, corpusDir: String,
                compactEvery: Int = BatchStore.defaultCompactEvery)
      : (DataFrame, Long) => Unit = {
    val loop = new CorpusManifest.IngestLoop("ingest", corpusDir, "digest",
      compactEvery)(b => BatchStore.dirOps(b.sparkSession, digestDir,
        digestSchema, "ingest digest"))
    (batch: DataFrame, batchId: Long) =>
      loop.run(batch, batchId)(_ => ()) { sources =>
        val spark = batch.sparkSession
        val admitted = admit(batch,
          BatchStore.readFrom(spark, digestDir, digestSchema, sources), textCol)
        loop.commit(batchId, admitted) {
          // explicit schema: an all-refused batch leaves a partless
          // directory, which schema inference would reject but a
          // schema'd read treats as the empty frame it is
          spark.read.schema(admitted.schema).parquet(s"$corpusDir/batch=$batchId")
            .select(md5(col(textCol)).as("digest")).distinct()
            .write.mode("overwrite").parquet(s"$digestDir/batch=$batchId")
        }
      }
  }
}
