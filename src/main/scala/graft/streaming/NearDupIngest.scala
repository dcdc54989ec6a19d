package graft.streaming

import graft.corpus.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Streaming NEAR-duplicate admission — the fuzzy twin of [[IngestDedup]]
 * (which refuses only byte-exact texts): each arriving micro-batch is
 * checked against the admitted corpus (shingle-Jaccard ≥ t), and only
 * docs with NO near-duplicate already in the store land. This is the
 * production shape of continuous corpus building: a trivially-reworded
 * copy of an admitted doc is refused, which exact-digest admission
 * cannot do.
 *
 * THE STORE IS NEVER RE-TOKENIZED. Each admitted batch persists its
 * docs' (doc_id, n_shingles, shingle) postings beside the corpus
 * (`_postings/batch=<id>/`, hidden from corpus readers by the
 * underscore prefix), and admission joins the arriving batch's postings
 * against that table — `Dedup.incrementalPairsFromPostings`' asymmetric
 * join, where only the (small) batch side is newly tokenized and
 * shuffled. Per-batch work is O(batch + matched postings), not
 * O(corpus): at 100 TB the postings table is additionally bucketed by
 * shingle so the probe is a co-located join, but the layout here is
 * already the at-scale shape.
 *
 * The per-batch protocol — exactly-once per-batch writes, the replay
 * and restart fences, the coverage refusal — is
 * [[CorpusManifest.IngestLoop]]'s; admission is judged against the
 * store AS OF batch start, so within-batch near-dups all admit.
 */
object NearDupIngest {

  /** Hidden sibling of the corpus store holding each admitted batch's
    * postings as `batch=<id>/` parquet. The leading underscore keeps
    * Spark's file listing from picking the postings up when the corpus
    * directory itself is read. */
  def postingsDir(corpusDir: String): String = s"$corpusDir/_postings"

  /** The shingle-space version string stamped into the postings store
    * (`_postings/_meta`, invisible to the parquet reads): shingle size,
    * hash scheme and layout version. Bump `v` on ANY change to
    * [[batchPostings]]' persisted shape. */
  private def postingsMetaContent(k: Int): String =
    s"k=$k;shingle=xxhash64(kgram);v=1"

  /** The admitted corpus as a growing `batch=<id>/` parquet directory;
    * absent/empty → an empty frame of `schema` (first batch admits
    * everything). `excludeBatch` hides one batch partition — the
    * caller's own id on replay. */
  def storeCorpus(spark: org.apache.spark.sql.SparkSession, corpusDir: String,
                  schema: org.apache.spark.sql.types.StructType,
                  excludeBatch: Option[Long] = None): DataFrame =
    BatchStore.read(spark, corpusDir, schema, excludeBatch)

  /** The persisted postings store in [[batchPostings]] shape (same
    * store semantics as [[storeCorpus]]). */
  def storePostings(spark: org.apache.spark.sql.SparkSession,
                    corpusDir: String,
                    schema: org.apache.spark.sql.types.StructType,
                    excludeBatch: Option[Long] = None): DataFrame =
    BatchStore.read(spark, postingsDir(corpusDir), schema, excludeBatch)

  /** The batch's postings in the PERSISTED store shape: the shingle is
    * the 64-bit xxhash of the string, not the string itself — a k-token
    * shingle string replicates the text ~k-fold, so hashing shrinks the
    * postings store (and every admission join's shuffle) several-fold;
    * the join only needs equality. A hash collision can only ADD a
    * spurious common-shingle count to one candidate pair — at 2^64 the
    * expected effect on a Jaccard admission threshold is nil, the same
    * trade MinHash itself makes. */
  def batchPostings(batch: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame =
    Dedup.sizedShinglePostings(batch, idCol, textCol, k)
      .withColumn("shingle", xxhash64(col("shingle")))

  /** Admit the batch rows with no Jaccard-≥-threshold near-duplicate in
    * the store postings; UNCAPPED similarity (maxDf = ∞) so the pair
    * relation is a doc-pair property independent of store composition —
    * what lets an external oracle replay sequential admission from one
    * global pair set. `batchPostings` must be the batch's own
    * [[Dedup.sizedShinglePostings]] (passed in, not recomputed, so the
    * caller's checkpoint serves both admission and the postings write).
    *
    * The batch postings ride a BROADCAST hint: a micro-batch is
    * trigger-bounded (the contract [[graft.streaming.SemDedupIngest]]
    * makes explicit with maxBatch), and with AQE out of the streaming
    * scope the join strategy otherwise rides on STATIC size estimates —
    * an explode-inflated postings estimate flips the plan to
    * sort-merge, which reshuffles the ENTIRE store postings table every
    * micro-batch, the exact O(store)-per-batch shape this loop exists
    * to avoid. The hint pins BroadcastHashJoin (store side scan-only,
    * map-side) independent of estimates; at 100 TB with the
    * shingle-bucketed postings layout it is the co-located probe.
    * Corpus-scale batches belong on the batch API
    * ([[Dedup.incrementalPairs]]), not here. */
  def admitAgainstPostings(storePost: DataFrame, batch: DataFrame,
                           batchPostings: DataFrame, idCol: String,
                           threshold: Double): DataFrame = {
    val rejected = Dedup.incrementalPairsFromPostings(storePost,
        broadcast(batchPostings), threshold, maxDf = Int.MaxValue)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(rejected, Seq(idCol), "left_anti")
  }

  /** The closed loop as a foreachBatch sink, one closure per call
    * ([[CorpusManifest.IngestLoop]] holds the per-batch protocol and its
    * single-writer contract). Reads ONLY the postings store — the
    * admitted corpus text is write-only here. The batch postings and the
    * admitted frame are persisted for their double use and unpersisted
    * before returning: a continuous stream otherwise pins two block sets
    * per micro-batch until the ContextCleaner's periodic sweep (default
    * 30 min) notices the dead refs.
    *
    * The postings store carries a take-once `_meta` stamp of the
    * shingle space ([[postingsMetaContent]]): a later loop over the same
    * corpus with a different shingle size k would join batch postings
    * against store postings of an INCOMPATIBLE shingle space — Jaccard
    * silently wrong, near-duplicates admitted — so it is refused.
    *
    * `maxBatchPostings` is the loud fence in front of the admission
    * join's PINNED broadcast (see [[admitAgainstPostings]]): unlike the
    * semantic loop, this one never collects the batch driver-side, so a
    * misconfigured trigger would otherwise sail into the 8 GB broadcast
    * wall (or driver OOM) with an opaque executor error. The count runs
    * against the postings cache the join needs materialized anyway —
    * one job launch, no recomputation. Corpus-scale backfills belong on
    * [[Dedup.incrementalPairs]], not this loop. */
  def admitLoop(idCol: String, textCol: String, k: Int, threshold: Double,
                corpusDir: String,
                compactEvery: Int = BatchStore.defaultCompactEvery,
                maxBatchPostings: Long = 1L << 26)
      : (DataFrame, Long) => Unit = {
    val loop = new CorpusManifest.IngestLoop("near-dup", corpusDir,
      "postings", compactEvery)(b => BatchStore.dirOps(b.sparkSession,
        postingsDir(corpusDir), batchPostings(b, idCol, textCol, k).schema,
        "near-dup postings"))
    val meta = new org.apache.hadoop.fs.Path(postingsDir(corpusDir), "_meta")
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      loop.run(batch, batchId)(ranges =>
        loop.requireStamp(spark, meta, postingsMetaContent(k), ranges,
          "joining across shingle spaces silently mis-scores Jaccard and " +
            "admits near-duplicates")) { sources =>
        // one tokenization pass over the batch, reused by the admission
        // join and the admitted-postings write (hashed — see batchPostings)
        val bp = batchPostings(batch, idCol, textCol, k).persist()
        try {
          val nPostings = StreamTuning.labeled(spark,
            s"neardup b$batchId: batch postings materialize")(bp.count())
          require(nPostings <= maxBatchPostings,
            s"micro-batch carries $nPostings postings rows — beyond the " +
              s"$maxBatchPostings fence in front of the pinned broadcast " +
              "admission join; shrink the trigger (or raise " +
              "maxBatchPostings consciously — the batch side is collected " +
              "to the driver and broadcast)")
          val sp = BatchStore.readFrom(spark, postingsDir(corpusDir),
            bp.schema, sources)
          val admitted = admitAgainstPostings(sp, batch, bp, idCol, threshold)
            .persist()
          try loop.commit(batchId, admitted,
              Some(s"neardup b$batchId: admission join + corpus write")) {
            // the admitted docs' postings, filtered from the batch postings
            // already in hand — never re-derived from text. Coalesced to
            // the session's shuffle width before writing: bp carries the
            // tokenizer's full-parallelism fanout (32 on a 32-core host), and a
            // micro-batch's postings written at that width are 32
            // near-empty files — a measured ~0.2 s write job per batch AND
            // a growing scan-task tax on every later batch's admission
            // join, which reads each historical batch dir file-by-file.
            // The shuffle width is the knob already sized to micro-batch
            // volume (StreamTuning); coalesce reads straight from bp's
            // cache, no extra shuffle.
            val outParts = math.max(1,
              spark.conf.get("spark.sql.shuffle.partitions").toInt)
            StreamTuning.labeled(spark,
              s"neardup b$batchId: admitted postings write")(
              bp.join(admitted.select(col(idCol).as("doc_id")), Seq("doc_id"),
                  "left_semi")
                .coalesce(outParts)
                .write.mode("overwrite")
                .parquet(s"${postingsDir(corpusDir)}/batch=$batchId"))
          } finally { admitted.unpersist(false); () }
        } finally { bp.unpersist(false); () }
      }
    }
  }
}
