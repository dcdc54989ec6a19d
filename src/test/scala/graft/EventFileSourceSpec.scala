package graft

import graft.sources.{ErrorBudget, EventFileSource, EventFilesPartition, FileEncoder,
  RolloverSet, XeXmlEncoder, XelNativeEncoder, XelNativeFormat, XelbEncoder, XelbFormat}
import graft.xel.EventSchema.{EventMeta, SessionMeta}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conformance of every event-file format registered under
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`
  * (the `graft.sources` entries): pruning reaches the scan, each row names
  * its own file, several paths and globs load, the error budget is per
  * file inside a packed task, `errorBudget` is validated, and no file
  * handle outlives a decoder whose open fails; the framed formats also
  * decode every prefix of a file. On the write side, through the format's
  * encoder, a rollover set's files list in key order and a negative key is
  * refused. A registered format needs a fixture here, or the first test
  * fails. */
class EventFileSourceSpec extends SparkTestBase {
  import spark.implicits._

  /** How the checks make files of one format: its encoder, and two ways
    * to spoil a file. */
  private case class Fixture(
      encoder: FileEncoder,
      corruptOne: String => Unit, // adds exactly one budgeted error
      unopenable: (String, Long) => Unit) { // a file whose decoder open fails

    /** Rows are (file key, c_event_sequence): one file per key, in key order. */
    def write(rows: Seq[(Long, Long)], d: String): Seq[String] =
      RolloverSet.writeByKey(encoder, frame(rows), "k", d, sessionName = "S")
  }

  private def frame(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("k", "c_event_sequence").withColumn("event_name", lit("probe"))

  /** Edits a fixture file in place. */
  private def edit(file: String)(change: Array[Byte] => Array[Byte]): Unit = {
    val p = Paths.get(file)
    Files.write(p, change(Files.readAllBytes(p)))
  }

  private def int32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(v).array()

  private val fixtures: Map[String, Fixture] = Map(
    "xelb" -> Fixture(XelbEncoder,
      // a frame length with no body after it: the file ends mid-record
      f => edit(f)(_ ++ int32(100)),
      // header drift: c_event_sequence stored as a string
      (d, k) => RolloverSet.writeByKey(XelbEncoder, Seq((k, "x")).toDF("k", "c_event_sequence")
        .withColumn("event_name", lit("probe")), "k", d, sessionName = "S")),
    "xelnative" -> {
      val encoder =
        XelNativeEncoder(SessionMeta(events = Seq(EventMeta("probe", Nil)), actions = Nil))
      Fixture(encoder,
        // an impossible chunk length after the last chunk
        f => edit(f)(_ ++ int32(Int.MaxValue)),
        // cut inside the metadata block
        (d, k) => RolloverSet.writeByKey(encoder, frame(Seq((k, 1L))), "k", d, sessionName = "S")
          .foreach(edit(_)(_.take(8))))
    },
    "xexml" -> Fixture(XeXmlEncoder,
      // the first value no longer parses as int64
      f => edit(f)(b => new String(b, "UTF-8").replaceFirst("<value>", "<value>x").getBytes("UTF-8")),
      (d, k) => Files.write(Paths.get(f"$d/S_$k%09d_0.xml"), Array.emptyByteArray)))

  /** The formats whose files are a header, then u32-length frames to the
    * end: how to read the header, and how many fixture rows fill a frame. */
  private val framed: Map[String, (java.io.DataInputStream => Any, Int)] = Map(
    "xelb" -> ((in => XelbFormat.readHeaderOpt(in)), 1),
    "xelnative" -> ((in => XelNativeFormat.readMetadata(in)), XelNativeFormat.ChunkRecords))

  /** The `graft.sources` formats the services file registers, by short name. */
  private val registered: Map[String, EventFileSource] =
    EventFileSource.registered.map(s => s.shortName() -> s).toMap

  private val perFile = 5L
  private def rows(keys: Seq[Long]): Seq[(Long, Long)] =
    for (k <- keys; i <- 0L until perFile) yield (k, k * 1000 + i)

  /** Every read packed into one task: the rule's minimum task count 1. */
  private def oneTask[A](body: => A): A =
    withConfs("spark.sql.files.minPartitionNum" -> "1")(body)

  private def name(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  test("every registered graft.sources format has a conformance fixture") {
    assert(registered.keySet == fixtures.keySet)
  }

  test("a file's read buffer is its listed length, between 1 byte and 4 MB") {
    val max = 4 * 1024 * 1024
    assert(Seq(Some(0L), Some(1000L), Some(max + 1L), None).map(EventFileSource.bufferBytes) ==
      Seq(1, 1000, max, max))
  }

  for ((fmt, source) <- registered.toSeq.sortBy(_._1); fx <- fixtures.get(fmt)) {
    def dirOf(tag: String) = Files.createTempDirectory(s"graft-conf-$fmt-$tag").toString

    test(s"$fmt: pruning reaches the scan") {
      val d = dirOf("prune")
      fx.write(rows(1L to 4L), d)
      val pruned = spark.read.format(fmt).load(d).select("c_event_sequence")
      val scan = pruned.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head
      assert(scan.readSchema().fieldNames.toSeq == Seq("c_event_sequence"))
      assert(scan.description().endsWith("Scan[c_event_sequence] over 4 files"), scan.description())
      assert(pruned.as[Long].collect().toSet == rows(1L to 4L).map(_._2).toSet)
    }

    test(s"$fmt: input_file_name() names each row's own file inside a packed task") {
      val d = dirOf("files")
      val files = fx.write(rows(1L to 4L), d)
      assert(spark.read.format(fmt).load(d).select(input_file_name()).distinct().count() ==
        files.size)
      oneTask {
        val df = spark.read.format(fmt).load(d)
        assert(df.rdd.getNumPartitions == 1)
        df.select(col("c_event_sequence"), input_file_name()).collect().foreach { r =>
          val own = name(files((r.getLong(0) / 1000 - 1).toInt))
          assert(name(r.getString(1)) == own, s"row ${r.getLong(0)} named ${r.getString(1)}")
        }
      }
    }

    test(s"$fmt: a read task carries each file's length from the listing") {
      val d = dirOf("lengths")
      val files = fx.write(rows(1L to 4L), d)
      val parts = oneTask {
        spark.read.format(fmt).load(d).queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan.toBatch.planInputPartitions().toSeq
        }.flatten.map(_.asInstanceOf[EventFilesPartition])
      }
      assert(parts.size == 1)
      assert(parts.head.files.map(name).zip(parts.head.lengths) ==
        files.map(f => name(f) -> new java.io.File(f).length))
    }

    test(s"$fmt: several paths and a glob load, each file once") {
      val d = dirOf("paths")
      val files = fx.write(rows(1L to 4L), d)
      def seqs(df: DataFrame) = df.select("c_event_sequence").as[Long].collect().sorted.toSeq
      assert(seqs(spark.read.format(fmt).load(files(0), files(2))) ==
        rows(Seq(1L, 3L)).map(_._2).sorted)
      assert(seqs(spark.read.format(fmt).load(s"$d/S_*${source.extension}")) ==
        rows(1L to 4L).map(_._2).sorted)
      assert(seqs(spark.read.format(fmt).load(d, files(0))) == rows(1L to 4L).map(_._2).sorted)
    }

    test(s"$fmt: the error budget is per file inside a packed task") {
      val d = dirOf("budget")
      val files = fx.write(rows(1L to 3L), d)
      files.drop(1).foreach(fx.corruptOne)
      oneTask {
        // one error in each of two files: both under a budget of 1
        val tolerant = spark.read.format(fmt).option("errorBudget", 1).load(d)
          .select("c_event_sequence", "event_name")
        assert(tolerant.rdd.getNumPartitions == 1)
        assert(tolerant.collect().length == 3 * perFile)
        val strict = spark.read.format(fmt).option("errorBudget", 0).load(d)
          .select("c_event_sequence", "event_name")
        val err = intercept[org.apache.spark.SparkException](strict.collect())
        assert(messages(err).contains(s"${name(files(1))}: 1 corrupt records exceeds error budget 0"),
          messages(err).take(500))
        assert(!messages(err).contains(name(files(0))))
      }
    }

    test(s"$fmt: errorBudget must be a non-negative integer") {
      val d = dirOf("option")
      fx.write(rows(Seq(1L)), d)
      for (bad <- Seq("ten", "-1")) {
        val e = intercept[IllegalArgumentException](
          spark.read.format(fmt).option("errorBudget", bad).load(d))
        assert(e.getMessage.contains("errorBudget") && e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }

    test(s"$fmt: no file handle stays open when a decoder's open fails") {
      assume(new java.io.File("/proc/self/fd").isDirectory, "needs /proc/self/fd")
      val d = dirOf("leak")
      val Seq(good) = fx.write(rows(Seq(1L)), d)
      fx.unopenable(d, 2L)
      val schema = spark.read.format(fmt).load(good).schema
      intercept[org.apache.spark.SparkException](
        spark.read.schema(schema).format(fmt).load(d).collect())
      assert(openUnder(d).isEmpty, openUnder(d).mkString(", "))
    }

    test(s"$fmt: a 12-key rollover set lists its files in key order, with no sidecar") {
      val d = dirOf("order")
      val files = fx.write(rows(1L to 12L), d)
      assert(files.map(name) == (1L to 12L).map(k => f"S_$k%09d_0${source.extension}"))
      assert(EventFileSource.list(source.extension, Seq(d)).map(s => name(s.getPath.toString)) ==
        files.map(name))
      assert(new java.io.File(d).list().sorted.toSeq == files.map(name))
      oneTask {
        assert(spark.read.format(fmt).load(d).select("c_event_sequence").as[Long].collect().toSeq ==
          rows(1L to 12L).map(_._2))
      }
    }

    test(s"$fmt: a negative key is refused before any file is written") {
      val d = dirOf("negative")
      val e = intercept[IllegalArgumentException](fx.write(rows(Seq(1L, -1L)), d))
      assert(e.getMessage.contains("rollover keys must be non-negative (got -1)"), e.getMessage)
      assert(new java.io.File(d).list().isEmpty)
    }

    for ((readHeader, perFrame) <- framed.get(fmt))
      test(s"$fmt: a file cut at every byte offset keeps its whole frames and charges one error") {
        val n = 2 * perFrame + 3
        val Seq(file) = fx.write((0L until n).map(i => (1L, i)), dirOf("cut"))
        val bytes = Files.readAllBytes(Paths.get(file))
        def prefix(len: Int) = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes, 0, len))
        val headerEnd = {
          val in = new java.io.ByteArrayInputStream(bytes)
          readHeader(new java.io.DataInputStream(in))
          bytes.length - in.available()
        }
        // the header's end, then each frame's end
        val boundaries = {
          val b = Vector.newBuilder[Int]
          var at = headerEnd
          b += at
          while (at < bytes.length) { at += 4 + java.nio.ByteBuffer.wrap(bytes).getInt(at); b += at }
          b.result()
        }
        assert(boundaries.last == bytes.length && boundaries.size == (n + perFrame - 1) / perFrame + 1)
        val required = source.inferSchema(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", file)))
        val seqAt = required.fieldIndex("c_event_sequence")
        val decoder = source.decoder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
        for (cut <- 0 to bytes.length; limit <- Seq(0, 1)) {
          def open() = decoder.open(file, prefix(cut), required, new ErrorBudget(file, limit))
          if (cut < headerEnd) intercept[java.io.IOException](open())
          else {
            val rows = open()
            val got = Seq.newBuilder[Long]
            var steps = 0
            val failed =
              try {
                while (rows.hasNext) {
                  steps += 1
                  assert(steps <= n + 1, s"cut $cut iterates past the file's records")
                  got += rows.next().getLong(seqAt)
                }
                false
              } catch { case _: IllegalStateException => true }
            val whole = boundaries.count(b => b > headerEnd && b <= cut)
            assert(got.result() == (0L until math.min(n, whole * perFrame)), s"cut $cut")
            assert(failed == (limit == 0 && !boundaries.contains(cut)), s"cut $cut, limit $limit")
          }
        }
      }
  }
}
