package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Reader + maintenance for the growing `batch=<id>/` parquet stores
  * the closed ingest loops append to — ONE definition (IngestDedup and
  * NearDupIngest previously carried near-identical copies, and both had
  * the same wedge: an UNschema'd `spark.read.parquet` dies on schema
  * inference when every batch partition is fileless, which is exactly
  * what an all-empty first micro-batch produces — Spark writes no part
  * files for empty tasks — and then every restart replays into the same
  * crash).
  *
  * THE STORE IS COMPACTED IN BATCH COUNT. A per-batch directory layout
  * alone is linear in store AGE: after 10⁶ micro-batches every
  * admission re-discovers 10⁶ `batch=<id>` dirs (a scheduled parallel-
  * listing job past 32 paths — i.e. always), each a round-trip on an
  * object store. [[Maintainer.maintain]] folds batches into RUNS
  * (`run=<lo>-<hi>/`, complete iff `_SUCCESS` exists — Spark's
  * committer writes it last, so the marker IS the stamp), merged
  * size-tiered by [[planCompaction]] (binary-counter rule: a run
  * absorbs its older adjacent neighbor while the neighbor's span is no
  * larger), so a store of N batches is O(log N) runs + a bounded tail.
  * A run is a pure row-union of its sources — no aggregation — so
  * reads through a compacted store return exactly the rows of the
  * uncompacted one.
  *
  * Crash discipline: the run is written first (`_SUCCESS` last), then
  * the source dirs are deleted. Between the two, run AND sources are
  * both visible — [[read]] resolves that deterministically by reading
  * only EFFECTIVE sources (a source whose id range is covered by a
  * run's — or by a strictly larger source's — is skipped), so no row
  * is ever served twice. This matters because postings/digest
  * consumers COUNT rows (a double-served postings batch would double
  * common-shingle counts and flip Jaccard admissions). The next
  * maintenance pass deletes the superseded leftovers and any
  * `_SUCCESS`-less run dir (an unreadable crashed attempt).
  *
  * Replay fence, LOCAL to maintenance: only ids < the in-flight batch
  * id are ever readable or compactable. The in-flight id's own
  * `batch=<id>` unit (a replayed previous attempt) is excluded — never
  * deleted; replay overwrites it — and any OTHER unit at or beyond the
  * in-flight id is refused loudly as the restarted-checkpoint
  * signature (batch ids re-numbered from 0 over an existing store;
  * proceeding would overwrite old partitions one by one).
  *
  * The loops are SINGLE-WRITER by contract (one streaming query owns a
  * store), which is what lets [[Maintainer]] carry the census across
  * batches: a batch that cannot trigger compaction pays zero listings
  * and zero `_SUCCESS` probes. */
object BatchStore {

  /** How many uncompacted `batch=<id>` units may accumulate before a
    * maintain pass folds them into a run. */
  private[graft] val defaultCompactEvery = 64

  /** One unit of a batch store (or of [[SemDedupIngest]]'s summary
    * index, which shares the naming): an uncompacted batch
    * (`batch=<id>`, lo == hi) or a compacted run (`run=<lo>-<hi>`,
    * covering that inclusive batch-id range). `name` IS the directory
    * (or summary file base) name. */
  private[graft] final case class IndexSource(name: String, lo: Long, hi: Long) {
    def span: Long = hi - lo + 1
    def isRun: Boolean = name.startsWith("run=")
  }

  private[graft] def parseSourceName(base: String): Option[IndexSource] =
    if (base.startsWith("batch="))
      base.stripPrefix("batch=").toLongOption.map(b => IndexSource(base, b, b))
    else if (base.startsWith("run=")) base.stripPrefix("run=").split("-", 2) match {
      case Array(lo, hi) =>
        for (l <- lo.toLongOption; h <- hi.toLongOption; if l <= h)
          yield IndexSource(base, l, h)
      case _ => None
    }
    else None

  /** Split sources into (effective, superseded): a source contained in
    * a LARGER source's id range is a compaction leftover — the run was
    * stamped but the crash hit before the source deletes. An EQUAL-span
    * tie (`run=x-x` beside `batch=x`, the only same-range pair two
    * distinct names can form) goes to the RUN: it is the
    * stamped-complete copy of exactly the same rows. Without the
    * tie-break both stayed effective, and for a store whose consumers
    * COUNT rows (postings/digest) a crash between stamp and source
    * delete at compactEvery=1 followed by a compactEvery change across
    * the restart (the tail then never reaches the new threshold, so no
    * merge ever sweeps the pair) would double-serve batch x forever.
    * Readers use only the effective set (exactly-once rows);
    * maintenance deletes the superseded. */
  private[graft] def effectiveSources(
      all: Seq[IndexSource]): (Seq[IndexSource], Seq[IndexSource]) = {
    val (sup, eff) = all.partition(s => all.exists(o =>
      o.lo <= s.lo && s.hi <= o.hi &&
        (o.span > s.span || (o.span == s.span && o.isRun && !s.isRun))))
    (eff, sup)
  }

  /** Pure compaction planning (extracted so the tiering invariants are
    * property-testable without a filesystem): given the effective
    * uncompacted batch sources and runs, return the sorted contiguous
    * source set to fold into one run, or None when the tail hasn't
    * reached `compactEvery`. The merge absorbs older ADJACENT runs
    * while their span is ≤ the accumulated span — the binary-counter
    * rule that keeps run spans strictly decreasing oldest→newest and
    * the run count O(log N). */
  private[graft] def planCompaction(
      tailIn: Seq[IndexSource], runsIn: Seq[IndexSource],
      compactEvery: Int): Option[Seq[IndexSource]] = {
    val tail = tailIn.sortBy(_.lo)
    if (tail.size < compactEvery) None
    else {
      require(tail.last.hi - tail.head.lo + 1 == tail.size,
        s"batch sources have id gaps (${tail.head.lo}.." +
          s"${tail.last.hi} spans ${tail.size} units) — the engine " +
          "numbers batches contiguously, so a gap means a lost unit; " +
          "rebuild the store or start fresh")
      var mergeSet = tail
      var keep = runsIn.sortBy(_.lo)
      while (keep.nonEmpty && keep.last.hi + 1 == mergeSet.head.lo &&
             keep.last.span <= mergeSet.last.hi - mergeSet.head.lo + 1) {
        mergeSet = keep.last +: mergeSet
        keep = keep.init
      }
      Some(mergeSet)
    }
  }

  /** One listing of a store: (batch sources, COMPLETE runs, crashed
    * run-dir names). A run dir without `_SUCCESS` is a crashed write —
    * never readable. The `_SUCCESS` probes cost O(runs) = O(log N)
    * round-trips, not O(batches). */
  private def listStore(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path)
      : (Seq[IndexSource], Seq[IndexSource], Seq[String]) = {
    if (!fs.exists(p)) (Nil, Nil, Nil)
    else {
      val names = fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
      val batches = names.filter(_.startsWith("batch=")).flatMap(parseSourceName)
      val runsAll = names.filter(_.startsWith("run=")).flatMap(parseSourceName)
      val (valid, crashed) = runsAll.partition(r => fs.exists(
        new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(p, r.name),
          "_SUCCESS")))
      (batches, valid, crashed.map(_.name))
    }
  }

  /** Take-once stamp: atomically claim `file` with `content` and return
    * whatever the file holds AFTER the claim — `content` if this caller
    * won, the earlier writer's text otherwise. The content is written to
    * a hidden temp sibling first and the CLAIM is
    * `rename(temp, file)` — atomic and non-overwriting on HDFS-like
    * filesystems — so the stamp is only ever observable COMPLETE. (The
    * r15 form claimed with `create(overwrite = false)`: the claim was
    * atomic but the content write+close was not, so a racer that lost
    * and read back immediately could see an empty/partial stamp and fail
    * its `require` with a misleading value — fail-safe, but masking the
    * real conflict.) Callers `require` the returned text matches what
    * they expect. */
  def takeOnceStamp(spark: SparkSession, file: org.apache.hadoop.fs.Path,
                    content: String): String = {
    val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readBack(): String = {
      val in = fs.open(file)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    if (fs.exists(file)) readBack()
    else {
      fs.mkdirs(file.getParent)
      val tmp = new org.apache.hadoop.fs.Path(file.getParent,
        s"._tmp_${file.getName}_${java.util.UUID.randomUUID}")
      try {
        val out = fs.create(tmp, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
        // On HDFS the old-API rename refuses an existing destination
        // (returns false) — an atomic claim. RawLocalFileSystem maps to
        // POSIX rename, which OVERWRITES — so the local-FS uniqueness
        // window is the same TOCTOU the create form had; but rename is
        // atomic even when overwriting, so a reader NEVER observes
        // partial content on either filesystem (the property this form
        // buys). The exists() here narrows the local window.
        if (fs.exists(file)) readBack()
        else if (fs.rename(tmp, file)) content
        else readBack()
      } catch {
        // the file appeared between exists and rename on a filesystem
        // that errors instead of returning false
        case _: java.io.IOException => readBack()
      } finally {
        if (fs.exists(tmp)) fs.delete(tmp, false)
        ()
      }
    }
  }

  /** The store's rows, read through the EFFECTIVE sources only (see
    * class doc — exactly-once under crash leftovers), with the caller's
    * schema passed explicitly so a store of empty units is just an
    * empty frame. `excludeBatch` hides one batch unit — the caller's
    * own batch id on replay, so a replayed batch never sees its
    * previous partial attempt's output and self-refuses. The exclusion
    * is by PATH (never a filter), which is why maintenance never
    * compacts the in-flight id — and an excluded id found inside a run
    * is refused loudly. */
  def read(spark: SparkSession, dir: String, schema: StructType,
           excludeBatch: Option[Long] = None): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (batches, runs, _) = listStore(fs, p)
    val (eff, _) = effectiveSources(batches ++ runs)
    excludeBatch.foreach { b =>
      require(!eff.exists(s => s.isRun && s.lo <= b && b <= s.hi),
        s"batch $b must be excluded on replay but sits inside a compacted " +
          s"run at $dir — compaction never covers the in-flight batch, so " +
          "this store was compacted under a restarted checkpoint or by a " +
          "foreign loop; use a fresh store or resume the original checkpoint")
    }
    readFrom(spark, dir, schema,
      eff.filterNot(s => !s.isRun && excludeBatch.contains(s.lo)))
  }

  /** The rows of an explicit source set — the zero-discovery read the
    * ingest loops use with [[Maintainer]]-carried sources (paths are
    * constructed, never listed; Spark still lists each source dir once
    * to enumerate part files, which is O(effective sources), not
    * O(store age)). */
  private[graft] def readFrom(spark: SparkSession, dir: String,
                              schema: StructType,
                              sources: Seq[IndexSource]): DataFrame =
    if (sources.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(sources.map(s => s"$dir/${s.name}"): _*)
        .select(schema.fieldNames.toSeq.map(col): _*)

  /** What [[maintainStore]] needs to know about one store flavor: how
    * to take a census, delete a unit, and merge a source set into a
    * stamped run. ONE maintenance skeleton (census → sweep crashed →
    * delete superseded → replay fence → plan → merge) serves both the
    * plain row-union dirs ([[dirOps]]: `_SUCCESS` is the stamp) and
    * [[SemDedupIngest]]'s cell index (the summary FILE is the stamp),
    * so a crash-discipline fix lands everywhere at once. */
  private[graft] trait RunStoreOps {
    def what: String
    def dir: String
    /** (batch sources, stamped-complete runs, crashed/orphan unit names
      * to sweep). */
    def census(): (Seq[IndexSource], Seq[IndexSource], Seq[String])
    /** Delete an unstamped crashed/orphan attempt by name. */
    def sweep(name: String): Unit
    /** Delete a stamped source (flavor-specific order: stamp first,
      * then data, so a crash strands an orphan, never a stamp over
      * missing data). */
    def deleteSource(s: IndexSource): Unit
    /** Fold `sources` (sorted, contiguous) into one run: write data,
      * stamp it COMPLETE (verified loudly), then delete the sources. */
    def merge(sources: Seq[IndexSource]): IndexSource
  }

  /** Repair + compact one store, returning the effective sources the
    * in-flight batch may read (all ids < `batchId` — the replay fence,
    * enforced HERE so every caller gets it): sweep crashed attempts,
    * delete superseded leftovers, refuse a store holding foreign ids
    * at/beyond the in-flight one, then fold the tail per
    * [[planCompaction]]. No-op below `compactEvery`, so fixture-scale
    * stores never change layout. */
  private[graft] def maintainStore(ops: RunStoreOps, batchId: Long,
                                   compactEvery: Int): Seq[IndexSource] = {
    require(compactEvery > 0, s"compactEvery must be positive: $compactEvery")
    val (batches, runs, crashed) = ops.census()
    val (eff0, superseded) = effectiveSources(batches ++ runs)
    // the in-flight id's own batch unit is a replayed previous attempt:
    // excluded from the view (replay must not self-refuse), never
    // deleted (replay overwrites it). Anything ELSE at or beyond the
    // in-flight id is a restarted checkpoint or a foreign compactor —
    // refused BEFORE the sweeps below, so a store this function is about
    // to declare foreign is left byte-identical (the crash residue it
    // would otherwise clean up is forensic state for whoever diagnoses
    // the refused restart).
    val rest = eff0.filterNot(s => !s.isRun && s.lo == batchId)
    val ahead = rest.filter(_.hi >= batchId)
    require(ahead.isEmpty,
      s"${ops.what} store at ${ops.dir} holds " +
        s"${ahead.map(_.name).sorted.mkString(",")} at or beyond batch " +
        s"$batchId — a restarted checkpoint must use a fresh store " +
        "directory (or resume the old checkpoint); continuing would " +
        "overwrite previously ingested partitions one by one")
    crashed.foreach(ops.sweep)
    superseded.foreach(ops.deleteSource)
    planCompaction(rest.filter(!_.isRun), rest.filter(_.isRun), compactEvery)
      .fold(rest)(ms => rest.filterNot(ms.toSet) :+ ops.merge(ms))
  }

  /** Per-loop census cache over [[maintainStore]] — the ingest loops
    * are SINGLE-WRITER, so between compaction triggers the store can
    * only change by the loop's own `batch=<id>` writes, which are
    * predictable: a batch whose predicted tail cannot reach
    * `compactEvery` pays ZERO filesystem metadata operations here (no
    * listing, no `_SUCCESS` probes, no repair scan — leftovers only
    * arise from crashes, and a crash restarts the process, which
    * arrives cold and takes the full census). The chain self-breaks on
    * anything unexpected: a batch id that is not exactly one past the
    * last [[completed]] one (a replay, a restart, a skipped id, a
    * failed batch) falls back to the full census. Prediction errors
    * can only ever cause an EARLY full census (the census is ground
    * truth at every trigger), never a missed repair past the next
    * restart.
    *
    * The contract and its detection window are stated once, on
    * [[CorpusManifest.IngestLoop]], the one driver of this class. */
  private[graft] final class Maintainer(ops: RunStoreOps, compactEvery: Int) {
    private var maintainedAt = Long.MinValue
    private var sources: Seq[IndexSource] = Nil
    private var completedThrough = Long.MinValue

    /** Would `maintain(batchId)` take the zero-filesystem warm path?
      * Callers gate their own cold-only guards (corpus ahead checks,
      * coverage, meta stamps — each a listing or file read that cannot
      * change under the single-writer contract while the process
      * lives) on the same predicate. */
    def wouldSkip(batchId: Long): Boolean =
      maintainedAt != Long.MinValue && batchId > maintainedAt &&
        completedThrough == batchId - 1 &&
        sources.count(!_.isRun).toLong + (batchId - maintainedAt) < compactEvery

    /** The effective sources for this batch — carried forward when
      * [[wouldSkip]] holds (the batches written since the last census
      * are appended arithmetically), the full [[maintainStore]] pass
      * otherwise. */
    def maintain(batchId: Long): Seq[IndexSource] = {
      val out =
        if (wouldSkip(batchId))
          sources ++ (maintainedAt until batchId).map(id =>
            IndexSource(s"batch=$id", id, id))
        else maintainStore(ops, batchId, compactEvery)
      maintainedAt = batchId
      sources = out
      out
    }

    /** Mark the in-flight batch's store writes complete — called at the
      * END of a loop body, so a batch that threw mid-way never extends
      * the warm chain and the next call re-censuses. */
    def completed(batchId: Long): Unit = completedThrough = batchId
  }

  /** Result of a coverage check: the uncovered ids capped at the
    * enumeration limit (error-message material) plus the TRUE total,
    * so a refusal over a store missing hundreds of batches never
    * prints 20 ids as if they were the complete set — an operator
    * diagnosing the gap sees the real size before starting a rebuild. */
  private[graft] final case class Uncovered(ids: Seq[Long], total: Long) {
    def isEmpty: Boolean = total == 0L
    /** `batch=a, batch=b, … and N more` — the interpolation of the
      * ingest loops' one coverage refusal
      * ([[CorpusManifest.IngestLoop]]). With no enumerable ids (a
      * caller passed limit <= 0) it degrades to the count alone rather
      * than an orphaned "… and N more" with nothing before it. */
    def render: String =
      if (ids.isEmpty && total > 0) s"$total uncovered batches"
      else ids.map("batch=" + _).mkString(", ") +
        (if (total > ids.size) s" … and ${total - ids.size} more" else "")
  }

  /** Ids inside the `corpus` ranges not covered by the `covered`
    * ranges, `self` excluded — PURE driver interval math, no
    * filesystem. This is what the sidecar-coverage guards run against
    * [[CorpusManifest]] ranges instead of a raw O(store-age) corpus
    * listing. Enumeration is capped at `limit` ids but
    * [[Uncovered.total]] is exact (computed on the intervals, never by
    * enumeration); an empty result means full coverage. Corpus ranges
    * are normalized (merged) first, so overlapping inputs can neither
    * double-report an id nor double-count the total. */
  private[graft] def uncoveredIds(corpus: Seq[IndexSource],
                                  covered: Seq[IndexSource], self: Long,
                                  limit: Int = 20): Uncovered = {
    val cov = covered.map(s => (s.lo, s.hi)).sortBy(_._1)
    val merged = corpus.map(s => (s.lo, s.hi)).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((plo, phi) :: rest, (lo, hi)) if lo <= phi + 1 =>
          (plo, math.max(phi, hi)) :: rest
        case (acc, r) => r :: acc
      }.reverse
    val out = Seq.newBuilder[Long]
    var n = 0
    var total = 0L
    def emit(lo: Long, hi: Long): Unit = {
      total += hi - lo + 1
      if (self >= lo && self <= hi) total -= 1
      var i = lo
      while (i <= hi && n < limit) {
        if (i != self) { out += i; n += 1 }
        i += 1
      }
    }
    for ((clo, chi) <- merged) {
      var cur = clo
      for ((lo, hi) <- cov if hi >= cur && lo <= chi) {
        if (lo > cur) emit(cur, math.min(lo - 1, chi))
        cur = math.max(cur, hi + 1)
      }
      if (cur <= chi) emit(cur, chi)
    }
    Uncovered(out.result(), total)
  }

  /** A store whose units are the directories under `storeDir`: the
    * census, sweep and source delete both [[voidOps]] and [[dirOps]]
    * share; each flavor brings its own `merge`. */
  private abstract class DirStoreOps(spark: SparkSession, storeDir: String,
                                     label: String) extends RunStoreOps {
    protected val p = new org.apache.hadoop.fs.Path(storeDir)
    protected val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def what: String = label
    def dir: String = storeDir
    def census(): (Seq[IndexSource], Seq[IndexSource], Seq[String]) =
      listStore(fs, p)
    def sweep(name: String): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(p, name), true)
      ()
    }
    def deleteSource(s: IndexSource): Unit = {
      fs.delete(new org.apache.hadoop.fs.Path(p, s.name), true)
      ()
    }
  }

  /** The VOID store flavor ([[CorpusManifest]]): units carry no rows at
    * all — the unit NAMES are the data (which batch ids exist), so a
    * "merge" is pure metadata (mkdir the run, write its `_SUCCESS`
    * stamp directly, delete the sources — no Spark job, no committer,
    * which also makes the flavor immune to
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false`). The
    * crash discipline is [[maintainStore]]'s, unchanged: stamp before
    * source deletes, stampless dirs swept as crashed attempts. */
  private[graft] def voidOps(spark: SparkSession, storeDir: String,
                             label: String): RunStoreOps =
    new DirStoreOps(spark, storeDir, label) {
      def merge(ms: Seq[IndexSource]): IndexSource = {
        val name = s"run=${ms.head.lo}-${ms.last.hi}"
        val run = new org.apache.hadoop.fs.Path(p, name)
        fs.mkdirs(run) // idempotent over a crashed same-name attempt
        val out = fs.create(new org.apache.hadoop.fs.Path(run, "_SUCCESS"),
          true)
        out.close()
        ms.foreach(deleteSource)
        IndexSource(name, ms.head.lo, ms.last.hi)
      }
    }

  /** The plain row-union store flavor (digest, postings): units are
    * parquet dirs under `dir`, a run's completion stamp is the
    * committer's `_SUCCESS`. */
  private[graft] def dirOps(spark: SparkSession, storeDir: String,
                            schema: StructType, label: String): RunStoreOps =
    new DirStoreOps(spark, storeDir, label) {
      def merge(ms: Seq[IndexSource]): IndexSource = {
        val name = s"run=${ms.head.lo}-${ms.last.hi}"
        // mode=overwrite clears a crashed same-name attempt
        val src = spark.read.schema(schema)
          .parquet(ms.map(s => s"$storeDir/${s.name}"): _*)
        // Output width: shrink the file count ~4× per merge without
        // strangling a BIG merge — coalescing a thousand-split scan down
        // to the 8-partition streaming shuffle width would serialize the
        // whole rewrite onto 8 tasks (coalesce caps the SCAN stage too).
        // Floor at the shuffle width so tiny stores converge to a few
        // files; cap at the natural split count so coalesce stays a
        // no-shuffle narrowing. Repeated merges re-pack rows toward
        // maxPartitionBytes-sized files, so the natural count stops
        // shrinking once files are full — the steady state is full files
        // at scan parallelism, not ever-fewer giant ones.
        val natural = src.rdd.getNumPartitions
        val width = math.min(math.max(1, natural), math.max(natural / 4,
          spark.sessionState.conf.numShufflePartitions))
        StreamTuning.labeled(spark, s"$label store compaction: $name " +
            s"(${ms.size} sources)")(
          src.coalesce(width)
            .write.mode("overwrite").parquet(s"$storeDir/$name"))
        // The marker IS the run's completion stamp: if the committer was
        // configured not to write it (mapreduce.fileoutputcommitter.
        // marksuccessfuljobs=false, a common object-store tuning),
        // deleting the sources would leave a run the NEXT census
        // classifies as crashed and deletes — silent row loss. Refuse
        // before any delete; the sources stay intact and the stampless
        // run dir is swept as a crashed attempt next pass.
        require(fs.exists(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(p, name), "_SUCCESS")),
          s"compacted run $name at $storeDir was written but carries no " +
            "_SUCCESS marker — the committer has success markers disabled " +
            "(mapreduce.fileoutputcommitter.marksuccessfuljobs=false), and " +
            "this store's crash discipline uses the marker as its " +
            "completion stamp; enable success markers for this store")
        ms.foreach(deleteSource)
        IndexSource(name, ms.head.lo, ms.last.hi)
      }
    }
}
