package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.streaming.{BatchStore, IngestDedup, NearDupIngest, SemDedupIngest}

/** A RawLocalFileSystem that counts every metadata/data call, mounted
  * under the `cfs:` scheme — what lets the Maintainer specs assert
  * "this code path performed ZERO filesystem operations" instead of
  * inferring it from wall clock. Hadoop instantiates it reflectively
  * and caches it per scheme, so the counter and trace are JVM-GLOBAL:
  * a spec must scope its assertions to its own store root via
  * [[CountingLocalFs.mark]]/[[CountingLocalFs.since]] (each test's
  * temp dir is unique, so a concurrent suite touching `cfs:` paths
  * cannot make a prefix-scoped assertion pass vacuously or flake).
  * The trace grows for the life of the test JVM (bounded only by how
  * much `cfs:` traffic the suite drives — a few thousand entries
  * today). */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import CountingLocalFs.tally
  override def getScheme: String = "cfs"
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")
  override def listStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] =
    { tally("listStatus", p); super.listStatus(p) }
  override def getFileStatus(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus =
    { tally("getFileStatus", p); super.getFileStatus(p) }
  // RawLocalFileSystem.exists short-circuits through java.io.File
  // without touching getFileStatus — count it as the metadata op it is
  override def exists(p: org.apache.hadoop.fs.Path): Boolean =
    { tally("exists", p); super.exists(p) }
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    { tally("open", p); super.open(p, bufferSize) }
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean)
      : Boolean =
    { tally("delete", p); super.delete(p, recursive) }
  override def mkdirs(p: org.apache.hadoop.fs.Path): Boolean =
    { tally("mkdirs", p); super.mkdirs(p) }
}
object CountingLocalFs {
  val ops = new java.util.concurrent.atomic.AtomicLong
  /** (op, path) trace of every call — what lets a spec assert "zero
    * ops touching THIS store" rather than a global delta that another
    * suite's traffic could inflate. */
  private val trace = new java.util.ArrayList[(String, String)]
  private def tally(op: String, p: org.apache.hadoop.fs.Path): Unit = {
    ops.incrementAndGet()
    trace.synchronized { trace.add((op, p.toUri.getPath)); () }
  }
  /** Position marker: take BEFORE the code under test, read back with
    * [[since]]. Never invalidated by other tests' marks. */
  def mark(): Int = trace.synchronized(trace.size)
  /** Entries recorded after `m` whose path sits under `prefix` (the
    * test's own store root — recorded paths are scheme-less
    * `toUri.getPath`). Non-destructive, so concurrent suites cannot
    * steal each other's entries. */
  def since(m: Int, prefix: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    trace.synchronized {
      trace.subList(math.min(m, trace.size), trace.size).asScala.toVector
    }.filter(_._2.startsWith(prefix))
  }
}

/** BatchStore hardening specs (r18): the equal-span tie-break, the
  * Maintainer's zero-op warm path, the `_SUCCESS`-stamp refusal, the
  * SemDedup orphan-run sweep, and the near-dup broadcast fence. */
class BatchStoreSpec extends SparkTestBase {
  import BatchStore.IndexSource

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  private def docDf(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("effectiveSources: an equal-span tie goes to the run, never the batch") {
    // run=x-x beside batch=x is the crash residue of a compactEvery=1
    // merge (stamp landed, source delete didn't); both hold exactly the
    // same rows, the run is the stamped-complete copy — the batch must
    // be superseded, in either listing order, and a lone unit of either
    // shape must never supersede itself
    val r = IndexSource("run=5-5", 5, 5)
    val b = IndexSource("batch=5", 5, 5)
    assert(BatchStore.effectiveSources(Seq(r, b)) == ((Seq(r), Seq(b))))
    assert(BatchStore.effectiveSources(Seq(b, r)) == ((Seq(r), Seq(b))))
    assert(BatchStore.effectiveSources(Seq(r)) == ((Seq(r), Seq.empty)))
    assert(BatchStore.effectiveSources(Seq(b)) == ((Seq(b), Seq.empty)))
    // equal-span RUN pairs cannot exist (same range ⇒ same name), and
    // distinct-range same-span sources never supersede each other
    val r2 = IndexSource("run=6-6", 6, 6)
    assert(BatchStore.effectiveSources(Seq(r, r2))._2.isEmpty)
  }

  test("an equal-span crash leftover is single-served by the reader and swept by maintain") {
    val base = Files.createTempDirectory("graft-eqspan").toString
    val digDir = s"$base/dig"; val corpDir = s"$base/corp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // compactEvery=1: batch 1's maintain folds batch=0 into run=0-0 —
    // the only layout that can produce the equal-span pair
    IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 1)(
      docDf(Seq((1L, "alpha text body", "s"))), 0L)
    IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 1)(
      docDf(Seq((2L, "beta text body", "s"))), 1L)
    val dig = new org.apache.hadoop.fs.Path(digDir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dig, "run=0-0")),
      "compactEvery=1 must have folded batch 0 into run=0-0")
    // forge the crash: batch=0 back beside run=0-0 with the run's OWN
    // files (real rows — a naive union reader would double-serve them)
    val preCount = IngestDedup.storeDirDigests(spark, digDir).count()
    val leftover = new org.apache.hadoop.fs.Path(dig, "batch=0")
    fs.mkdirs(leftover)
    fs.listStatus(new org.apache.hadoop.fs.Path(dig, "run=0-0"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
          new org.apache.hadoop.fs.Path(leftover, f.getPath.getName),
          false, spark.sparkContext.hadoopConfiguration)
        ()
      }
    assert(IngestDedup.storeDirDigests(spark, digDir).count() == preCount,
      "the reader must serve the equal-span pair exactly once (run wins)")
    // the next maintain sweeps the superseded batch and a dup of batch
    // 0's text stays refused through it (decision-identical)
    IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 1)(
      docDf(Seq((3L, "alpha text body", "s"), (4L, "gamma text body", "s"))),
      2L)
    assert(!fs.exists(leftover),
      "maintain must sweep the equal-span leftover")
    import spark.implicits._
    val ids = spark.read.schema(docSchema).parquet(s"$corpDir/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L),
      s"dup of the double-visible batch must still be refused, got $ids")
  }

  test("Maintainer: a batch that cannot trigger compaction performs zero filesystem operations") {
    // mount the counting fs and drive the digest-store flavor directly,
    // simulating the single-writer loop: maintain → write batch dir →
    // completed. The warm-path contract is exact (op DELTA == 0), the
    // cold paths re-census, and the carried sources equal what a fresh
    // census computes at every step.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val local = Files.createTempDirectory("graft-maintainer").toString
    val dir = s"cfs:$local/store"
    val ce = 4
    val ops = BatchStore.dirOps(spark, dir, docSchema, "test store")
    val m = new BatchStore.Maintainer(ops, ce)
    var coldBatches = List.empty[Long]
    for (b <- 0L until 10L) {
      val before = CountingLocalFs.mark()
      val sources = m.maintain(b)
      val delta = CountingLocalFs.since(before, s"$local/store").size
      if (delta > 0) coldBatches ::= b
      // carried or censused, the sources must partition [0, b) exactly
      val covered = sources.sortBy(_.lo).flatMap(s => s.lo to s.hi)
      assert(covered == (0L until b),
        s"batch $b: sources must cover [0,$b) exactly, got " +
          sources.map(_.name).mkString(","))
      // and the rows they serve are exactly one per prior batch
      import spark.implicits._
      val got = BatchStore.readFrom(spark, dir, docSchema, sources)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(got == (0L until b), s"batch $b served $got")
      docDf(Seq((b, s"text $b", "s"))).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/batch=$b")
      m.completed(b)
    }
    // cold exactly at: the first batch and each compaction trigger
    // (predicted tail reaching ce) — batches 0, 4, 8 with ce=4
    assert(coldBatches.reverse == List(0L, 4L, 8L),
      s"expected cold censuses at 0,4,8 only, got ${coldBatches.reverse}")
    // a batch that never reported completed() breaks the warm chain
    m.maintain(10L) // completed(9) ran, so this one rides warm
    docDf(Seq((10L, "text 10", "s"))).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/batch=10")
    // no completed(10): the next call must re-census (cold)
    val mid = CountingLocalFs.mark()
    m.maintain(11L)
    assert(CountingLocalFs.since(mid, s"$local/store").nonEmpty,
      "a missing completed() must force a full census")
  }

  test("a refused restarted-checkpoint store is left byte-identical — the fence fires before any sweep") {
    // forge the full repair menu on one store: an effective run AHEAD of
    // the in-flight id (the restart signature), a crashed stampless run,
    // and a superseded equal-rows leftover. maintainStore must refuse on
    // the ahead unit BEFORE sweeping either of the others — the crash
    // residue of a store the function just declared foreign is forensic
    // state for whoever diagnoses the refused restart.
    val base = Files.createTempDirectory("graft-fence-order").toString
    val dir = s"$base/store"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    docDf(Seq((0L, "zero", "s"), (1L, "one", "s"))).coalesce(1)
      .write.parquet(s"$dir/run=0-1")
    docDf(Seq((0L, "zero", "s"))).coalesce(1)
      .write.parquet(s"$dir/batch=0") // contained in run=0-1: superseded
    docDf(Seq((5L, "five", "s"))).coalesce(1)
      .write.parquet(s"$dir/run=5-9")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/run=5-9/_SUCCESS"), false)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).sorted.toSeq
    val e = intercept[IllegalArgumentException] {
      BatchStore.maintainStore(
        BatchStore.dirOps(spark, dir, docSchema, "forged store"),
        batchId = 0L, compactEvery = 4)
    }
    assert(e.getMessage.contains("run=0-1") &&
      e.getMessage.contains("restarted checkpoint"),
      s"fence must name the ahead unit, got: ${e.getMessage}")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).sorted.toSeq == names,
      "a refused store must keep every unit — crashed and superseded " +
        "residue included")
  }

  test("a compaction whose run lands without a _SUCCESS marker refuses before deleting sources") {
    val base = Files.createTempDirectory("graft-nosucc").toString
    val digDir = s"$base/dig"; val corpDir = s"$base/corp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 2)(
      docDf(Seq((1L, "first text", "s"))), 0L)
    IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 2)(
      docDf(Seq((2L, "second text", "s"))), 1L)
    // batch 2 triggers the merge; with success markers disabled (the
    // common object-store committer tuning) the run has no stamp — the
    // merge must refuse LOUDLY before any source delete, else the next
    // census would classify the completed run as crashed and delete it:
    // silent row loss the digest loop would never notice (it has no
    // coverage check — duplicates admitted forever)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    val e = try intercept[IllegalArgumentException] {
      IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 2)(
        docDf(Seq((3L, "third text", "s"))), 2L)
    } finally hconf.unset("mapreduce.fileoutputcommitter.marksuccessfuljobs")
    assert(e.getMessage.contains("success markers"),
      s"refusal must name the committer conf, got: ${e.getMessage}")
    // sources intact, the stampless run is crashed-classified residue
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$digDir/batch=0")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$digDir/batch=1")),
      "no source may be deleted when the run stamp is missing")
    // with markers back on, the replayed batch sweeps the crashed run,
    // recompacts, and admission is unaffected — a dup of batch 0 refused
    IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 2)(
      docDf(Seq((3L, "first text", "s"), (4L, "fourth text", "s"))), 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$digDir/run=0-1/_SUCCESS")))
    import spark.implicits._
    val ids = spark.read.schema(docSchema).parquet(s"$corpDir/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L), s"got $ids")
  }

  test("semantic index: an orphaned run data dir (no summary twin) is swept by the next census") {
    import spark.implicits._
    val corpusDir = Files.createTempDirectory("graft-orphan").toString + "/c"
    def vec(xs: Float*) = xs.toArray
    def loop(rows: Seq[(Long, Array[Float], String)], id: Long): Unit =
      SemDedupIngest.admitLoop("vec_id", "embedding", 0.95, corpusDir,
        cells = 2, compactEvery = 64)(
        rows.toDF("vec_id", "embedding", "source"), id)
    loop(Seq((1L, vec(1f, 0f), "s")), 0L)
    loop(Seq((2L, vec(0f, 1f), "s")), 1L)
    // forge the crash-between-data-and-stamp residue under a DIFFERENT
    // compactEvery's run name: no same-name retry will ever overwrite
    // it, so only the census sweep can reclaim it
    val fs = new org.apache.hadoop.fs.Path(corpusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(
      SemDedupIngest.cellsDir(corpusDir), "run=0-1")
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphan, "cell=0"))
    loop(Seq((3L, vec(1f, 0.01f), "s"), (4L, vec(1f, 1f), "s")), 2L)
    assert(!fs.exists(orphan),
      "the unstamped orphan run dir must be swept")
    val admitted = SemDedupIngest.storeVectors(spark, corpusDir,
        Seq((1L, vec(1f, 0f), "s")).toDF("vec_id", "embedding", "source")
          .schema)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 4L),
      s"admission must be unaffected by the sweep, got $admitted")
  }

  test("semantic loop: a warm batch reads zero summaries/centroids and lists no index root") {
    // the NOTES claim behind the warm chain, pinned by path trace: a
    // warm semantic admission's only index traffic is the probed CELL
    // DATA (and its own three writes) — the summaries are served from
    // the in-memory stats cache, the centroids from the claimed-once
    // cache, and neither the corpus root, the _cells root nor _summary
    // is ever listed. The dup refusal proves the cached stats are the
    // real decision input, not a bypassed optimization.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    import spark.implicits._
    val local = Files.createTempDirectory("graft-semwarm").toString
    val corpusDir = s"cfs:$local/c"
    def vec(xs: Float*) = xs.toArray
    def df(rows: Seq[(Long, Array[Float], String)]) =
      rows.toDF("vec_id", "embedding", "source")
    val loop = SemDedupIngest.admitLoop("vec_id", "embedding", 0.95,
      corpusDir, cells = 2)
    loop(df(Seq((1L, vec(1f, 0f), "s"), (2L, vec(0f, 1f), "s"))), 0L)
    loop(df(Seq((3L, vec(0.6f, 0.8f), "s"))), 1L)
    val m0 = CountingLocalFs.mark()
    // batch 2 is WARM (unbroken completed chain, tail 2 < 64): a
    // semantic dup of stored 1 arrives and must be refused THROUGH the
    // caches, plus one novel vector admitted
    loop(df(Seq((10L, vec(1f, 0.01f), "s"), (11L, vec(-0.7f, 0.7f), "s"))),
      2L)
    val offenders = CountingLocalFs.since(m0, local).filter { case (op, path) =>
      (op == "open" && path.contains("/_summary/")) ||
        path.endsWith("/_centroids") ||
        (op == "listStatus" && (path.endsWith("/_cells") ||
          path.endsWith("/_cells/_summary") || path.endsWith("/c") ||
          path.endsWith("/_manifest")))
    }
    assert(offenders.isEmpty,
      s"warm semantic batch touched the index metadata: $offenders")
    val admitted = SemDedupIngest.storeVectors(spark, corpusDir,
        df(Seq((1L, vec(1f, 0f), "s"))).schema)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 3L, 11L),
      s"dup must be refused through the cached stats, got $admitted")
  }

  test("near-dup loop: a warm batch performs zero guard/census traffic on its stores") {
    // symmetric pin to the semantic warm spec: a warm near-dup batch
    // must not read the _meta stamp, list the postings root (census),
    // or list the corpus root (ahead/coverage guards) — its only store
    // traffic is the admission read of the carried postings sources
    // and its own two writes. The refusal of a near-dup proves the
    // carried sources are the real decision input.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    import spark.implicits._
    val local = Files.createTempDirectory("graft-ndwarm").toString
    val corpusDir = s"cfs:$local/c"
    val loop = NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, corpusDir)
    loop(docDf(Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the garden today", "s"))), 0L)
    loop(docDf(Seq(
      (2L, "completely different text about spark clusters here now", "s"))), 1L)
    val m0 = CountingLocalFs.mark()
    // batch 2 is WARM: a reworded copy of doc 1 must be refused through
    // the carried postings sources, a novel doc admitted
    loop(docDf(Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the garden tonight", "s"),
      (11L, "an entirely unrelated document with novel words", "s"))), 2L)
    val offenders = CountingLocalFs.since(m0, local).filter { case (op, path) =>
      path.endsWith("/_meta") ||
        (op == "listStatus" && (path.endsWith("/_postings") ||
          path.endsWith("/c") || path.endsWith("/_manifest")))
    }
    assert(offenders.isEmpty,
      s"warm near-dup batch touched guard/census paths: $offenders")
    val ids = spark.read.schema(docSchema).parquet(s"$corpusDir/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 11L),
      s"near-dup must be refused through carried sources, got $ids")
  }

  test("uncoveredIds: pure interval subtraction with self-exclusion and a cap") {
    import BatchStore.uncoveredIds
    def r(lo: Long, hi: Long) = IndexSource(s"run=$lo-$hi", lo, hi)
    val corpus = Seq(r(0, 9))
    assert(uncoveredIds(corpus, Seq(r(0, 9)), -1).isEmpty)
    assert(uncoveredIds(corpus, Seq(r(0, 3), r(6, 9)), -1).ids == Seq(4L, 5L))
    assert(uncoveredIds(corpus, Seq(r(0, 3), r(6, 9)), 4L).ids == Seq(5L))
    // the cap bounds the ENUMERATION only — total stays exact, and the
    // rendered message says how much the cap hid
    val capped = uncoveredIds(corpus, Nil, -1, limit = 3)
    assert(capped.ids == Seq(0L, 1L, 2L) && capped.total == 10L)
    assert(capped.render == "batch=0, batch=1, batch=2 … and 7 more")
    // self inside the capped-away remainder still reduces the total
    assert(uncoveredIds(corpus, Nil, 9L, limit = 3).total == 9L)
    // an uncapped result renders with no marker
    assert(uncoveredIds(corpus, Seq(r(0, 7)), -1).render ==
      "batch=8, batch=9")
    // limit <= 0 leaves no enumerable ids: render degrades to the bare
    // count instead of an orphaned "… and N more" (ADVICE r20)
    assert(uncoveredIds(corpus, Nil, -1, limit = 0).render ==
      "10 uncovered batches")
    // unsorted inputs, covered wider than corpus, overlapping covers,
    // adjacent covers, duplicate covers
    assert(uncoveredIds(Seq(r(5, 5), r(2, 2)), Seq(r(0, 10)), -1).isEmpty)
    assert(uncoveredIds(corpus, Seq(r(3, 9), r(0, 5)), -1).isEmpty)
    assert(uncoveredIds(corpus, Seq(r(0, 3), r(4, 9)), -1).isEmpty)
    assert(uncoveredIds(corpus, Seq(r(0, 6), r(0, 6)), -1).ids ==
      Seq(7L, 8L, 9L))
    assert(uncoveredIds(Nil, Nil, -1).isEmpty)
    // a tail gap after the last cover
    assert(uncoveredIds(corpus, Seq(r(0, 7)), -1).ids == Seq(8L, 9L))
    // OVERLAPPING corpus ranges are normalized first: an id in a shared
    // gap is reported (and counted) exactly once
    val over = uncoveredIds(Seq(r(0, 5), r(3, 9)), Seq(r(0, 4)), -1)
    assert(over.ids == Seq(5L, 6L, 7L, 8L, 9L) && over.total == 5L)
  }

  test("corpus manifest: the refusal matrix — sidecar loss, manifest loss, restarts, rebuilds") {
    import graft.streaming.CorpusManifest
    val base = Files.createTempDirectory("graft-manifest").toString
    val digDir = s"$base/dig"; val corpDir = s"$base/corp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def freshLoop() = IngestDedup.admitLoop("text", digDir, corpDir)
    val loop = freshLoop()
    loop(docDf(Seq((1L, "alpha text body", "s"))), 0L)
    loop(docDf(Seq((2L, "beta text body", "s"))), 1L)
    loop(docDf(Seq((3L, "gamma text body", "s"))), 2L)
    // the manifest records each admitted batch as an EMPTY named dir
    for (b <- 0 to 2)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"${CorpusManifest.manifestDir(corpDir)}/batch=$b")))

    // 1. restarted checkpoint with the digest sidecar DELETED — the case
    // the raw corpus listing was load-bearing for: the manifest, living
    // under the corpus dir, survives sidecar loss and refuses
    val digBackup = new org.apache.hadoop.fs.Path(s"$base/digsave")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(digDir), fs, digBackup, false,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(digDir), true)
    val e1 = intercept[IllegalArgumentException] {
      freshLoop()(docDf(Seq((9L, "novel text body", "s"))), 0L)
    }
    assert(e1.getMessage.contains("corpus manifest") &&
      e1.getMessage.contains("restarted checkpoint"),
      s"sidecar-deleted restart must refuse via the manifest: " +
        e1.getMessage)

    // 2. sidecar still deleted, LEGIT continuation (batchId=3): the new
    // digest coverage check refuses instead of silently re-admitting
    val e2 = intercept[IllegalArgumentException] {
      freshLoop()(docDf(Seq((9L, "novel text body", "s"))), 3L)
    }
    assert(e2.getMessage.contains("no digest sidecar") &&
      e2.getMessage.contains("batch=0, batch=1, batch=2"),
      s"lost digest store must refuse with the missing ids: ${e2.getMessage}")
    org.apache.hadoop.fs.FileUtil.copy(fs, digBackup, fs,
      new org.apache.hadoop.fs.Path(digDir), false,
      spark.sparkContext.hadoopConfiguration)

    // 3. manifest deleted + restart: the bootstrap fallback re-lists the
    // corpus raw and still refuses
    fs.delete(new org.apache.hadoop.fs.Path(
      CorpusManifest.manifestDir(corpDir)), true)
    val e3 = intercept[IllegalArgumentException] {
      freshLoop()(docDf(Seq((9L, "novel text body", "s"))), 0L)
    }
    assert(e3.getMessage.contains("no manifest") &&
      e3.getMessage.contains("restarted checkpoint"),
      s"manifest-deleted restart must refuse via the raw listing: " +
        e3.getMessage)

    // 4. manifest deleted + legit continuation: rebuilt as ONE stamped
    // run from the raw listing (the pre-manifest-corpus upgrade path and
    // the post-surgery escape hatch), and admission is unaffected — a
    // dup of batch 0's text stays refused, a novel doc lands
    freshLoop()(docDf(Seq(
      (9L, "alpha text body", "s"), (10L, "delta text body", "s"))), 3L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"${CorpusManifest.manifestDir(corpDir)}/run=0-2/_SUCCESS")),
      "bootstrap must rebuild the manifest as one stamped run")
    import spark.implicits._
    val ids = spark.read.schema(docSchema).parquet(s"$corpDir/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 10L),
      s"admission through the rebuilt manifest must be unchanged: $ids")
  }

  test("corpus manifest: compacts to void runs and still fences a restart") {
    import graft.streaming.CorpusManifest
    val base = Files.createTempDirectory("graft-manifest-ce").toString
    val digDir = s"$base/dig"; val corpDir = s"$base/corp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loop = IngestDedup.admitLoop("text", digDir, corpDir,
      compactEvery = 2)
    for (b <- 0 to 4)
      loop(docDf(Seq((b.toLong, s"text number $b body", "s"))), b.toLong)
    val mDir = CorpusManifest.manifestDir(corpDir)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(mDir))
      .map(_.getPath.getName).filter(_.startsWith("run=")).toSeq
    assert(names.nonEmpty, "manifest must have compacted into runs")
    for (r <- names) { // void runs: a _SUCCESS stamp and nothing else
      val entries = fs.listStatus(new org.apache.hadoop.fs.Path(mDir, r))
        .map(_.getPath.getName).toSeq
      assert(entries == Seq("_SUCCESS"),
        s"a void run must hold only its stamp, got $r -> $entries")
    }
    // the compacted manifest still fences a restarted checkpoint
    val e = intercept[IllegalArgumentException] {
      IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 2)(
        docDf(Seq((9L, "novel words entirely", "s"))), 0L)
    }
    assert(e.getMessage.contains("corpus manifest"), e.getMessage)
    // and a legit resume (fresh closure, next id) admits normally
    IngestDedup.admitLoop("text", digDir, corpDir, compactEvery = 2)(
      docDf(Seq((9L, "text number 0 body", "s"), (10L, "novel words", "s"))),
      5L)
    import spark.implicits._
    val ids = spark.read.schema(docSchema).parquet(s"$corpDir/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L, 3L, 4L, 10L), s"got $ids")
  }

  test("corpus manifest: pre-manifest near-dup and semantic stores upgrade in place") {
    // an r18-era store (corpus + sidecar, no _manifest) resumed under
    // this code must bootstrap the manifest from one raw listing and
    // keep admissions byte-identical — per loop, since the guard wiring
    // differs (the exact-dedup loop's twin lives in the refusal-matrix
    // spec). Forged by deleting _manifest after two normal batches.
    import graft.streaming.CorpusManifest
    import spark.implicits._
    val base = Files.createTempDirectory("graft-upgrade").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val nCorpus = s"$base/nd"
    def nLoop() = NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, nCorpus)
    val n0 = nLoop()
    n0(docDf(Seq((1L, "the quick brown fox jumps over the lazy dog in the garden today", "s"))), 0L)
    n0(docDf(Seq((2L, "completely different text about spark clusters here now", "s"))), 1L)
    fs.delete(new org.apache.hadoop.fs.Path(
      CorpusManifest.manifestDir(nCorpus)), true)
    nLoop()(docDf(Seq(
      (10L, "the quick brown fox jumps over the lazy dog in the garden tonight", "s"),
      (11L, "an entirely unrelated document with novel words", "s"))), 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"${CorpusManifest.manifestDir(nCorpus)}/run=0-1/_SUCCESS")),
      "near-dup upgrade must rebuild the manifest as one stamped run")
    val nIds = spark.read.schema(docSchema).parquet(s"$nCorpus/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(nIds == Set(1L, 2L, 11L),
      s"near-dup admission must be unchanged through the upgrade: $nIds")

    val sCorpus = s"$base/sem"
    def vec(xs: Float*) = xs.toArray
    def sLoop(rows: Seq[(Long, Array[Float], String)], id: Long): Unit =
      SemDedupIngest.admitLoop("vec_id", "embedding", 0.95, sCorpus,
        cells = 2)(rows.toDF("vec_id", "embedding", "source"), id)
    sLoop(Seq((1L, vec(1f, 0f), "s")), 0L)
    sLoop(Seq((2L, vec(0f, 1f), "s")), 1L)
    fs.delete(new org.apache.hadoop.fs.Path(
      CorpusManifest.manifestDir(sCorpus)), true)
    sLoop(Seq((10L, vec(1f, 0.01f), "s"), (11L, vec(-0.7f, 0.7f), "s")), 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"${CorpusManifest.manifestDir(sCorpus)}/run=0-1/_SUCCESS")),
      "semantic upgrade must rebuild the manifest as one stamped run")
    val sIds = SemDedupIngest.storeVectors(spark, sCorpus,
        Seq((1L, vec(1f, 0f), "s")).toDF("vec_id", "embedding", "source")
          .schema)
      .select($"vec_id").as[Long].collect().toSet
    assert(sIds == Set(1L, 2L, 11L),
      s"semantic admission must be unchanged through the upgrade: $sIds")
  }

  test("corpus manifest: steady-state cold admission cost is age-independent and never lists the corpus") {
    // The corpus-age probe's headline (NOTES_r19.md) pinned as a
    // regression gate (a future guard quietly re-listing the corpus
    // would otherwise go unnoticed): at ages 64 and 512 — power-of-
    // two multiples of compactEvery=32, where planCompaction collapses
    // BOTH the digest sidecar and the manifest to a single run, so the
    // two stores differ ONLY in corpus age — a fresh-closure (post-
    // restart) cold admission must cost EXACTLY the same store-scoped
    // fs ops at both ages. Any reintroduced O(age) path breaks the
    // equality by ~450 ops (a raw corpus listing is ~age getFileStatus
    // calls on the local fs — one list page per batch on an object
    // store). Belt and braces: the traces must also show zero corpus-
    // root listings and zero touches of historical corpus batch dirs.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    import spark.implicits._
    val ce = 32
    val localRoot = Files.createTempDirectory("graft-coldage").toString
    val fs = new org.apache.hadoop.fs.Path(s"cfs:$localRoot")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one-file digest-run template: the gate measures METADATA
    // discovery, not data volume
    val tmpl = new org.apache.hadoop.fs.Path(s"cfs:$localRoot/_tmpl")
    Seq("0123456789abcdef0123456789abcdef").toDF("digest").coalesce(1)
      .write.parquet(tmpl.toString)
    // replay planCompaction driver-side to the exact layout a
    // loop-grown store of age n carries (same synthesis as the
    // corpus-age probe, NOTES_r19.md)
    def layoutAt(n: Int): Seq[IndexSource] = {
      var tail = Vector.empty[IndexSource]
      var runs = Vector.empty[IndexSource]
      for (b <- 0 until n) {
        tail :+= IndexSource(s"batch=$b", b.toLong, b.toLong)
        BatchStore.planCompaction(tail, runs, ce).foreach { ms =>
          val m = IndexSource(s"run=${ms.head.lo}-${ms.last.hi}",
            ms.head.lo, ms.last.hi)
          val dead = ms.toSet
          runs = runs.filterNot(dead) :+ m
          tail = tail.filterNot(dead)
        }
      }
      (runs ++ tail).sortBy(_.lo)
    }
    def coldTrace(n: Int): Seq[(String, String)] = {
      val units = layoutAt(n)
      assert(units.size == 1 && units.head.isRun,
        s"age $n must collapse to one run for the equality to be " +
          s"meaningful, got ${units.map(_.name)}")
      val base = s"$localRoot/age$n"
      val corp = s"cfs:$base/corp"; val dig = s"cfs:$base/dig"
      for (u <- units) {
        org.apache.hadoop.fs.FileUtil.copy(fs, tmpl, fs,
          new org.apache.hadoop.fs.Path(s"$dig/${u.name}"), false,
          spark.sparkContext.hadoopConfiguration)
        ()
      }
      for (b <- 0 until n)
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$corp/batch=$b"))
      for (u <- units) { // the manifest's void twin: a stamp, nothing else
        val d = new org.apache.hadoop.fs.Path(s"$corp/_manifest/${u.name}")
        fs.mkdirs(d)
        val out = fs.create(new org.apache.hadoop.fs.Path(d, "_SUCCESS"),
          true)
        out.close()
      }
      val m0 = CountingLocalFs.mark()
      IngestDedup.admitLoop("text", dig, corp, compactEvery = ce)(
        docDf(Seq((n.toLong, "cold age probe document body", "s"))),
        n.toLong)
      CountingLocalFs.since(m0, base)
    }
    val t64 = coldTrace(64)
    val t512 = coldTrace(512)
    def offenders(tr: Seq[(String, String)], n: Int) = tr.filter {
      case (op, p) =>
        (op == "listStatus" && p.endsWith("/corp")) ||
          (p.contains("/corp/batch=") && !p.contains(s"/corp/batch=$n"))
    }
    assert(offenders(t64, 64).isEmpty,
      s"age-64 cold admission touched the corpus: ${offenders(t64, 64)}")
    assert(offenders(t512, 512).isEmpty,
      s"age-512 cold admission touched the corpus: " +
        s"${offenders(t512, 512).take(10)}")
    assert(t64.size == t512.size,
      s"steady-state cold admission must be age-independent: " +
        s"${t64.size} ops at age 64 vs ${t512.size} at age 512 — an " +
        "O(age) metadata path has been reintroduced; diff the traces " +
        "(op,path) to find it")
  }

  test("corpus manifest: bootstrap records corpus DIRECTORIES only, never a stray batch=<n> file") {
    // a stray regular FILE named batch=<n> (tooling residue) in the
    // corpus must not enter a rebuilt manifest: recorded, it would (a)
    // fence every later batch behind its id as a "restarted checkpoint"
    // and (b) demand a sidecar twin for an id that holds no rows —
    // forever. Same isDirectory discipline as BatchStore.listStore.
    val base = Files.createTempDirectory("graft-strayfile").toString
    val digDir = s"$base/dig"; val corpDir = s"$base/corp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def freshLoop() = IngestDedup.admitLoop("text", digDir, corpDir)
    val loop = freshLoop()
    loop(docDf(Seq((1L, "alpha text body", "s"))), 0L)
    loop(docDf(Seq((2L, "beta text body", "s"))), 1L)
    val stray = fs.create(
      new org.apache.hadoop.fs.Path(s"$corpDir/batch=7"), true)
    stray.close()
    fs.delete(new org.apache.hadoop.fs.Path(
      graft.streaming.CorpusManifest.manifestDir(corpDir)), true)
    // legit continuation over the forged pre-manifest store: the
    // bootstrap re-lists raw and must see only the real batch dirs
    freshLoop()(docDf(Seq(
      (9L, "alpha text body", "s"), (10L, "delta text body", "s"))), 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"${graft.streaming.CorpusManifest.manifestDir(corpDir)}/" +
        "run=0-1/_SUCCESS")),
      "bootstrap must rebuild run=0-1 from the directories alone")
    import spark.implicits._
    val ids = spark.read.schema(docSchema)
      .parquet(s"$corpDir/batch=0", s"$corpDir/batch=1", s"$corpDir/batch=2")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 10L),
      s"admission through the rebuilt manifest must be unchanged: $ids")
  }

  test("corpus manifest: a replayed first-ever batch neither refuses, writes a run, nor re-lists raw") {
    // the single-past-batch edge: a corpus whose ONLY unit is the
    // in-flight batch's previous attempt (crash before append, or an
    // r18-era store that died on batch 0). The replay must admit
    // normally and write NO manifest run — the in-flight id may never
    // enter a run, because maintainStore's ahead fence refuses any run
    // reaching the current id (the restarted-checkpoint signature) and
    // would refuse the loop's own next replay. Once append() has
    // recorded the id, later cold replays must take the alive-manifest
    // probe, not the raw corpus listing.
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingLocalFs].getName)
    val local = Files.createTempDirectory("graft-firstreplay").toString
    val digDir = s"cfs:$local/dig"; val corpDir = s"cfs:$local/corp"
    val fs = new org.apache.hadoop.fs.Path(corpDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mDir = graft.streaming.CorpusManifest.manifestDir(corpDir)
    def freshLoop() = IngestDedup.admitLoop("text", digDir, corpDir)
    freshLoop()(docDf(Seq((1L, "alpha text body", "s"))), 0L)
    // forge the crash-before-append shape: corpus batch=0, no manifest
    fs.delete(new org.apache.hadoop.fs.Path(mDir), true)
    freshLoop()(docDf(Seq((2L, "beta text body", "s"))), 0L) // replay
    val units = fs.listStatus(new org.apache.hadoop.fs.Path(mDir))
      .map(_.getPath.getName).sorted.toSeq
    assert(units == Seq("batch=0"),
      s"the replay must append its own id and write no run, got $units")
    // a SECOND cold replay now finds the manifest alive: zero raw
    // corpus listings (the alive-manifest probe short-circuits
    // bootstrap)
    val m0 = CountingLocalFs.mark()
    freshLoop()(docDf(Seq((3L, "gamma text body", "s"))), 0L)
    val rawListings = CountingLocalFs.since(m0, local).filter {
      case (op, p) => op == "listStatus" && p.endsWith("/corp")
    }
    assert(rawListings.isEmpty,
      s"a post-append replay must not re-list the corpus raw: $rawListings")
    // and the store proceeds normally: batch 1 sees batch 0's final
    // attempt, refuses its dup, admits the novel doc
    freshLoop()(docDf(Seq(
      (4L, "gamma text body", "s"), (5L, "delta text body", "s"))), 1L)
    import spark.implicits._
    val ids = spark.read.schema(docSchema).parquet(s"$corpDir/batch=*")
      .select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(3L, 5L),
      s"replay-overwrite + next-batch admission must hold: $ids")
  }

  test("corpus manifest: a stray regular FILE named batch=<id> does not satisfy the alive-manifest probe") {
    // ADVICE r20: the probe must require directory-ness, mirroring
    // bootstrap's filter and listStore's census — a unit-less manifest
    // "kept alive" by tooling residue (a regular file the census cannot
    // count) would otherwise suppress the bootstrap rebuild/refusal for
    // the life of the store.
    val base = Files.createTempDirectory("graft-strayalive").toString
    val corpDir = s"$base/corp"
    val fs = new org.apache.hadoop.fs.Path(corpDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mDir = graft.streaming.CorpusManifest.manifestDir(corpDir)
    // corpus surgery shape: two past batches, manifest deleted (the
    // escape hatch) — but residue left a regular FILE named like the
    // in-flight unit
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$corpDir/batch=0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$corpDir/batch=1"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(mDir))
    fs.create(new org.apache.hadoop.fs.Path(mDir, "batch=2"), true).close()
    val g = new graft.streaming.CorpusManifest.Guard(spark, corpDir, "test", 8)
    val ranges = g.maintain(2L)
    assert(ranges.map(s => (s.lo, s.hi)) == Seq((0L, 1L)),
      s"the stray file must not suppress the bootstrap rebuild: $ranges")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$mDir/run=0-1/_SUCCESS")),
      "bootstrap must have written the rebuilt run despite the stray file")
  }

  test("ingest loop: a large coverage gap refuses with the capped id list AND the true total") {
    // end-to-end twin of the uncoveredIds cap unit test: a store
    // missing MORE sidecar batches than the 20-id enumeration cap must
    // say how much the cap hid — an operator seeing exactly 20 ids with
    // no marker would rebuild 20 batches and trip the same refusal
    // again. The gap is forged through the manifest alone (coverage is
    // pure interval math over manifest ranges; neither store is listed
    // for it), so the spec costs no loop batches.
    val base = Files.createTempDirectory("graft-biggap").toString
    val digDir = s"$base/dig"; val corpDir = s"$base/corp"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val run = new org.apache.hadoop.fs.Path(
      s"${graft.streaming.CorpusManifest.manifestDir(corpDir)}/run=0-30")
    fs.mkdirs(run)
    val stamp = fs.create(
      new org.apache.hadoop.fs.Path(run, "_SUCCESS"), true)
    stamp.close()
    val e = intercept[IllegalArgumentException] {
      IngestDedup.admitLoop("text", digDir, corpDir)(
        docDf(Seq((1L, "novel text body", "s"))), 31L)
    }
    assert(e.getMessage.contains("no digest sidecar") &&
      e.getMessage.contains("batch=19") &&
      e.getMessage.contains("… and 11 more") &&
      !e.getMessage.contains("batch=20"),
      s"a 31-id gap must show 20 ids and the hidden count: ${e.getMessage}")
  }

  test("near-dup loop: a batch past the postings fence refuses loudly before the broadcast") {
    val corpusDir = Files.createTempDirectory("graft-fence").toString + "/c"
    val e = intercept[IllegalArgumentException] {
      NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, corpusDir,
        maxBatchPostings = 3L)(
        docDf(Seq((1L, "one two three four five six seven eight nine", "s"))),
        0L)
    }
    assert(e.getMessage.contains("postings rows") &&
      e.getMessage.contains("shrink the trigger"),
      s"fence must be loud and actionable, got: ${e.getMessage}")
    // under the fence the same loop admits normally
    NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, corpusDir)(
      docDf(Seq((1L, "one two three four five six seven eight nine", "s"))),
      0L)
    assert(spark.read.schema(docSchema).parquet(s"$corpusDir/batch=*")
      .count() == 1)
  }
}
