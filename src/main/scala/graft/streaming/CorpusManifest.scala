package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest over a user-facing corpus directory — the structure that
  * removes the ingest loops' LAST O(store-age) metadata cost.
  *
  * The corpus itself (`batch=<id>/` per micro-batch) is user data and
  * is never compacted, so any guard that LISTS it — the restart fence,
  * the sidecar-coverage checks — pays one round-trip per historical
  * batch (object-store list pagination is O(N); a local `listStatus`
  * calls `getFileStatus` per child, same shape). r18 made that listing
  * cold-only (restarts + one batch per compactEvery), amortized
  * O(age/compactEvery) per batch; at 10⁶ micro-batches a cold census
  * still re-discovers 10⁶ dirs. The manifest (`<corpus>/_manifest/` —
  * underscore-prefixed, so Spark's own readers ignore it inside the
  * corpus) records which batch ids exist as a [[BatchStore]] of VOID
  * units ([[BatchStore.voidOps]]): the unit NAMES carry the id ranges,
  * a warm append is ONE `mkdirs`, compaction folds the names into
  * O(log N) runs with pure-metadata merges, and a cold census costs
  * O(log N + tail) — never O(age).
  *
  * Refusal matrix (what each failure is caught by):
  *   - restarted checkpoint, stores intact → the manifest's own ahead
  *     fence inside [[BatchStore.maintainStore]] (manifest units
  *     at/beyond the in-flight id), AND the sidecar store's twin fence;
  *   - sidecar deleted + restarted → the manifest fence (this is the
  *     one case r18's raw corpus listing was load-bearing for — the
  *     manifest, living UNDER the corpus dir, survives sidecar loss);
  *   - sidecar deleted, no restart → the coverage check (manifest
  *     ranges not covered by sidecar sources);
  *   - manifest deleted + restarted → the bootstrap fallback re-lists
  *     the corpus RAW (one O(age) pass) and refuses ahead ids;
  *   - manifest deleted, no restart (or a pre-manifest corpus adopted
  *     by this code) → the same fallback rebuilds the manifest as one
  *     stamped run and proceeds — deleting `_manifest` is therefore
  *     the supported escape hatch after any manual corpus surgery.
  *
  * NOT caught (single-writer contract violations, documented): corpus
  * data restored/added WITHOUT its `_manifest` twin while the manifest
  * survives — the manifest is authoritative, so foreign `batch=<id>`
  * dirs it never recorded are invisible to the guards (r18's raw
  * listing saw them on cold batches; the warm chain already skipped
  * every guard for up to compactEvery batches under the same
  * contract). After manual surgery, delete `_manifest` to force the
  * raw-listing rebuild. */
object CorpusManifest {
  import BatchStore.IndexSource

  private[graft] def manifestDir(corpusDir: String): String =
    s"$corpusDir/_manifest"

  /** One Guard per loop instance, driven by [[IngestLoop]]: per batch
    * [[maintain]] BEFORE any store read (fences restarts, returns the
    * corpus id ranges the coverage check compares against), [[append]]
    * right after the corpus `batch=<id>` write (so the manifest never
    * claims an id the corpus doesn't hold, except the in-flight one a
    * replay overwrites), [[completed]] at the end of a fully-successful
    * batch body. Warm batches cost ONE `mkdirs` and zero discovery. */
  final class Guard(spark: SparkSession, corpusDir: String, what: String,
                    compactEvery: Int) {
    private val mp = new org.apache.hadoop.fs.Path(manifestDir(corpusDir))
    private val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val mm = new BatchStore.Maintainer(
      BatchStore.voidOps(spark, manifestDir(corpusDir),
        s"$what corpus manifest"), compactEvery)

    /** The effective corpus id ranges for this batch (all < `batchId`;
      * the in-flight id's replayed manifest unit is excluded by the
      * store discipline). Cold batches census the manifest —
      * O(log N + tail) — and fall back to ONE raw corpus listing only
      * when the manifest holds no units AT ALL (fresh store: no-op;
      * pre-manifest corpus or deleted manifest: refuse-or-rebuild).
      * The censused ranges exclude the in-flight id's own unit, so
      * "no units at all" needs one more cold-path probe: a manifest
      * whose sole record is `batch=<batchId>` (the previous attempt of
      * a replayed first-ever batch already [[append]]ed) is alive and
      * authoritative — without the probe every such replay would
      * re-list the corpus raw. */
    def maintain(batchId: Long): Seq[IndexSource] = {
      val warm = mm.wouldSkip(batchId)
      val ranges = mm.maintain(batchId)
      if (warm || ranges.nonEmpty) ranges
      else if (unitDirExists(new org.apache.hadoop.fs.Path(mp, s"batch=$batchId")))
        ranges // manifest alive; its only record is the in-flight replay
      else if (bootstrap(batchId)) mm.maintain(batchId) // pick up the run
      else ranges
    }

    /** Directory-shaped existence probe — the same `isDirectory`
      * discipline as [[bootstrap]]'s filter and `listStore`'s census: a
      * stray regular FILE named `batch=<n>` (tooling residue) is
      * invisible to the census, so it must not satisfy this probe either
      * — a unit-less manifest "kept alive" by such a file would suppress
      * the bootstrap rebuild/refusal for the life of the store. */
    private def unitDirExists(p: org.apache.hadoop.fs.Path): Boolean =
      try fs.getFileStatus(p).isDirectory
      catch { case _: java.io.FileNotFoundException => false }

    /** Record the just-written corpus `batch=<id>` — one `mkdirs` (the
      * unit is an EMPTY dir; its name is the record). Idempotent, so a
      * replay overwriting its corpus partition re-records harmlessly. */
    def append(batchId: Long): Unit = {
      fs.mkdirs(new org.apache.hadoop.fs.Path(mp, s"batch=$batchId"))
      ()
    }

    /** End-of-batch mark — a batch that threw never extends the warm
      * chain, so the next call re-censuses (see
      * [[BatchStore.Maintainer.completed]]). */
    def completed(batchId: Long): Unit = mm.completed(batchId)

    /** The raw-listing fallback, reached only when the manifest has no
      * units but the corpus may: ONE O(age) listing that refuses ahead
      * ids (a restarted checkpoint over a manifest-less corpus) or
      * rebuilds the manifest as one stamped run covering the listed
      * ids (a pre-manifest corpus adopted by this code, or a manifest
      * deleted as the post-surgery escape hatch). Returns true iff a
      * run was written. Gaps from external deletions are tolerated:
      * the run claims [min, max], and claiming a deleted id only makes
      * the coverage check stricter, never looser. */
    private def bootstrap(batchId: Long): Boolean = {
      val cp = new org.apache.hadoop.fs.Path(corpusDir)
      if (!fs.exists(cp)) return false
      // isDirectory matches BatchStore.listStore: a stray regular FILE
      // named batch=<n> (tooling residue) must not be recorded into the
      // rebuilt manifest — the coverage guards would demand its sidecar
      // twin forever
      val ids = fs.listStatus(cp).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("batch="))
        .flatMap(_.stripPrefix("batch=").toLongOption)
      val ahead = ids.filter(_ > batchId)
      require(ahead.isEmpty,
        s"$what corpus at $corpusDir holds " +
          ahead.sorted.map("batch=" + _).mkString(",") +
          s" beyond batch $batchId with no manifest — a restarted " +
          "checkpoint must use a fresh store directory (or resume the " +
          "old checkpoint); continuing would overwrite previously " +
          "ingested partitions one by one")
      // the in-flight id itself may never enter a RUN: maintainStore's
      // ahead fence refuses any run whose range reaches the current
      // batch id (a run covering the in-flight id is otherwise the
      // restarted-checkpoint signature), so a corpus holding ONLY the
      // in-flight replay writes nothing — append() records it after
      // the batch body, and maintain()'s alive-manifest probe keeps
      // later replays off this raw listing
      val past = ids.filter(_ != batchId)
      if (past.isEmpty) false
      else {
        val run = new org.apache.hadoop.fs.Path(mp,
          s"run=${past.min}-${past.max}")
        fs.mkdirs(run)
        val out = fs.create(
          new org.apache.hadoop.fs.Path(run, "_SUCCESS"), true)
        out.close()
        true
      }
    }
  }

  /** The per-batch integrity protocol of every sidecar-indexed ingest
    * loop ([[IngestDedup]], [[NearDupIngest]], [[SemDedupIngest]]) —
    * one skeleton, so a fence or a refusal lands in all of them at
    * once. Each `admitLoop` call builds one instance and returns a
    * closure over it; the loop brings only what is its own: the
    * sidecar's store flavor, its cold-only guards, the admission and
    * the sidecar write.
    *
    * Per micro-batch, in this order: build the [[Guard]] and the
    * sidecar's [[BatchStore.Maintainer]] (first batch only); take the
    * warm predicate; maintain the manifest (the restarted-checkpoint
    * fence); run the loop's cold-only guards; maintain the sidecar (its
    * twin fence, repair and compaction); on a cold batch refuse a
    * sidecar that does not cover the manifest ranges; admit; then
    * [[commit]]: the admitted frame to `<corpus>/batch=<id>` with
    * overwrite, the manifest append, the loop's sidecar write, and the
    * end-of-batch marks.
    *
    * Exactly-once at the sink under the engine's at-least-once replay:
    * every write goes to a per-batch directory with overwrite, so a
    * replayed batch overwrites itself instead of duplicating (the
    * filesystem form of [[EventStream.jdbcIdempotentAppend]]'s
    * delete-by-batch-id), and both maintains exclude the in-flight id's
    * own units, so a replay is judged against the store AS OF batch
    * start and never refuses its own previous attempt. Structured
    * Streaming commits the offset only after the body returns, so a
    * crash between the writes replays the whole batch.
    *
    * SINGLE-WRITER contract (one streaming query owns a store): it is
    * what lets both Maintainers carry their census across batches. A
    * batch that cannot trigger compaction is WARM — zero store-discovery
    * filesystem calls, every cold-only guard and the coverage check
    * skipped — and the warm chain self-breaks (full census, every
    * guard) on any replay, restart, failed batch or id jump. The flip
    * side: a VIOLATED contract (a second writer, an external job
    * mutating a store mid-stream) goes undetected for up to
    * `compactEvery` batches — until the next compaction trigger or
    * restart; lower `compactEvery` for a tighter detection window.
    *
    * `what` names the loop in the manifest's messages, `sidecar` names
    * the sidecar in the coverage and stamp refusals. */
  private[streaming] final class IngestLoop(what: String, corpusDir: String,
      sidecar: String, compactEvery: Int)(
      sidecarOps: DataFrame => BatchStore.RunStoreOps) {
    private var g: Guard = null
    private var m: BatchStore.Maintainer = null

    /** One micro-batch up to its admission: `coldGuards` gets the
      * manifest's corpus ranges, `admit` the sidecar's effective sources
      * for this batch, and must end in one [[commit]]. */
    def run(batch: DataFrame, batchId: Long)(
        coldGuards: Seq[IndexSource] => Unit)(
        admit: Seq[IndexSource] => Unit): Unit = {
      if (m == null) {
        g = new Guard(batch.sparkSession, corpusDir, what, compactEvery)
        m = new BatchStore.Maintainer(sidecarOps(batch), compactEvery)
      }
      val warm = m.wouldSkip(batchId)
      val corpusRanges = g.maintain(batchId)
      if (!warm) coldGuards(corpusRanges)
      val sources = m.maintain(batchId)
      if (!warm) {
        // a sidecar that silently lags the corpus (deleted or truncated)
        // would re-admit every duplicate of the uncovered batches — a
        // degrading dedup invariant must be an error, not a quiet corpus
        // of copies. Pure driver interval math vs the manifest.
        val missing = BatchStore.uncoveredIds(corpusRanges, sources, batchId)
        require(missing.isEmpty,
          s"$what corpus at $corpusDir has admitted batches with no " +
            s"$sidecar sidecar (${missing.render}); admitting against an " +
            s"incomplete $sidecar store would silently admit duplicates " +
            s"— rebuild the $sidecar store over those corpus batches or " +
            "start a fresh store")
      }
      admit(sources)
    }

    /** Land the admitted rows of `batchId` (the write job labeled when
      * `label` is given), record the batch in the manifest, run the
      * loop's `sidecarWrite`, and mark the batch complete — a batch that
      * threw before this point never extends the warm chain. */
    def commit(batchId: Long, admitted: DataFrame,
               label: Option[String] = None)(sidecarWrite: => Unit): Unit = {
      def write(): Unit =
        admitted.write.mode("overwrite").parquet(s"$corpusDir/batch=$batchId")
      label.fold(write())(StreamTuning.labeled(admitted.sparkSession, _)(write()))
      g.append(batchId)
      sidecarWrite
      m.completed(batchId)
      g.completed(batchId)
    }

    /** The sidecar's take-once compatibility stamp (`meta`), a cold-only
      * guard: the first loop over a fresh store claims it with `want`,
      * every later loop must match it — a mismatch is refused, naming
      * the `mismatch` it would cause. The stamp may only be claimed on
      * a genuinely fresh store: one whose manifest shows admitted batches
      * but which has no stamp predates the stamp (or lost its sidecar),
      * and claiming it with this loop's own parameters would legitimize
      * exactly the mismatch the stamp exists to refuse. */
    def requireStamp(spark: SparkSession, meta: org.apache.hadoop.fs.Path,
                     want: String, corpusRanges: Seq[IndexSource],
                     mismatch: String): Unit = {
      val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(corpusRanges.isEmpty || fs.exists(meta),
        s"$what corpus at $corpusDir has admitted batches (" +
          corpusRanges.sortBy(_.lo).map(_.name).mkString(", ") +
          s") but its $sidecar store has no _meta stamp at $meta — it " +
          "predates the stamp or lost its sidecar, so its parameters are " +
          "unverifiable; if it was built with exactly these parameters, " +
          s"stamp it explicitly (write '$want' to $meta), otherwise " +
          s"rebuild the $sidecar store or start a fresh store")
      val got = BatchStore.takeOnceStamp(spark, meta, want)
      require(got == want,
        s"$sidecar store at ${meta.getParent} was built as '$got' but " +
          s"this loop runs as '$want' — $mismatch; use the original " +
          s"parameters or rebuild the $sidecar store")
    }
  }
}
