package graft

import graft.streaming.{IngestDedup, NearDupIngest, SemDedupIngest}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** The per-batch protocol every sidecar-indexed ingest loop gets from
  * `CorpusManifest.IngestLoop`, run as a table: every loop below meets
  * every case below. A new loop gets a row here. */
class IngestLoopSpec extends SparkTestBase {

  /** One ingest loop under test. `loop(base)` builds a loop instance over
    * the store at `base` (corpus at `base/corp`); `frame` turns
    * (id, topic) rows into a batch, where rows of one topic are
    * duplicates of each other and rows of different topics are not;
    * `dropSidecar(base)` deletes the sidecar's units and keeps any
    * stamp; `sidecar` is the name the coverage refusal gives it. */
  private final case class Loop(name: String, sidecar: String, idCol: String,
      loop: String => (DataFrame, Long) => Unit,
      frame: Seq[(Long, Int)] => DataFrame,
      dropSidecar: String => Unit)

  private def fs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Delete the `batch=`/`run=` entries directly under `dir`. */
  private def dropUnits(dir: String): Unit =
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.getPath.getName.startsWith("batch=") ||
        s.getPath.getName.startsWith("run="))
      .foreach(s => fs.delete(s.getPath, true))

  private def docs(rows: Seq[(Long, Int)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, t) =>
      (id, Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
        .map(w => s"$w$t").mkString(" "), "s")
    }.toDF("doc_id", "text", "source")
  }

  private val loops = Seq(
    Loop("exact", "digest", "doc_id",
      base => IngestDedup.admitLoop("text", s"$base/dig", s"$base/corp"),
      docs, base => fs.delete(new org.apache.hadoop.fs.Path(s"$base/dig"), true)),
    Loop("near-dup", "postings", "doc_id",
      base => NearDupIngest.admitLoop("doc_id", "text", 3, 0.8, s"$base/corp"),
      docs, base => dropUnits(NearDupIngest.postingsDir(s"$base/corp"))),
    Loop("semantic", "cell-index", "vec_id",
      base => SemDedupIngest.admitLoop("vec_id", "embedding", 0.95,
        s"$base/corp", cells = 2),
      rows => {
        import spark.implicits._
        rows.map { case (id, t) =>
          (id, Array.tabulate(4)(i => if (i == t) 1f else 0f), "s")
        }.toDF("vec_id", "embedding", "source")
      },
      base => {
        dropUnits(SemDedupIngest.cellsDir(s"$base/corp"))
        fs.listStatus(new org.apache.hadoop.fs.Path(
            SemDedupIngest.summaryDir(s"$base/corp")))
          .foreach(s => fs.delete(s.getPath, false))
      }))

  /** Batches 0 and 1 through one instance: topics 0, 1, then a dup of
    * topic 0 (id 10) and a novel topic 2. Admitted: 1, 2, 3. */
  private def seed(l: Loop, base: String): Unit = {
    val run = l.loop(base)
    run(l.frame(Seq((1L, 0), (2L, 1))), 0L)
    run(l.frame(Seq((10L, 0), (3L, 2))), 1L)
  }

  private def admitted(l: Loop, base: String): Set[Long] =
    spark.read.schema(l.frame(Nil).schema).parquet(s"$base/corp/batch=*")
      .select(l.idCol).collect().map(_.getLong(0)).toSet

  private def store(l: Loop): String =
    Files.createTempDirectory(s"graft-loop-${l.name}").toString

  for (l <- loops) {
    test(s"${l.name} loop: a replay of the in-flight batch converges") {
      val base = store(l)
      seed(l, base)
      assert(admitted(l, base) == Set(1L, 2L, 3L))
      // the engine redelivers the last uncommitted batch, in a new
      // process: the replay must not refuse its own previous attempt
      l.loop(base)(l.frame(Seq((10L, 0), (3L, 2))), 1L)
      assert(admitted(l, base) == Set(1L, 2L, 3L),
        "the replay must overwrite its partition, not duplicate or lose it")
      // and the next batch is judged against the converged store
      l.loop(base)(l.frame(Seq((11L, 2), (4L, 3))), 2L)
      assert(admitted(l, base) == Set(1L, 2L, 3L, 4L))
    }

    test(s"${l.name} loop: a restarted checkpoint is refused with 'beyond batch'") {
      val base = store(l)
      seed(l, base)
      val e = intercept[IllegalArgumentException] {
        l.loop(base)(l.frame(Seq((5L, 3))), 0L)
      }
      assert(e.getMessage.contains("beyond batch 0") &&
        e.getMessage.contains("restarted checkpoint"), e.getMessage)
      assert(admitted(l, base) == Set(1L, 2L, 3L),
        "a refused restart must leave the corpus as it was")
    }

    test(s"${l.name} loop: a sidecar deleted without a restart is refused, naming it and the batches") {
      val base = store(l)
      seed(l, base)
      l.dropSidecar(base)
      val e = intercept[IllegalArgumentException] {
        l.loop(base)(l.frame(Seq((12L, 0), (5L, 3))), 2L)
      }
      assert(e.getMessage.contains(s"no ${l.sidecar} sidecar") &&
        e.getMessage.contains("batch=0, batch=1"), e.getMessage)
    }
  }
}
