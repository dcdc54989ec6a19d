package graft

import java.nio.file.{Files, Paths}

/** The Verify failure-sentinel chain: a crashed query must leave a RED
  * row (schema-mismatching parquet), and when even that write fails, an
  * on-disk `_ERROR` marker — never a silent omission (rounds 10-11 hid
  * a 40% query outage exactly that way). */
class VerifySpec extends SparkTestBase {

  test("sentinel parquet: one row, oracle-unmatchable schema, truncated message") {
    val out = Files.createTempDirectory("graft-verify").toString
    Verify.writeSentinel(spark, out, "some_query", "boom " * 200)
    val back = spark.read.parquet(s"$out/some_query")
    assert(back.columns.toSeq == Seq("graft_query_error"))
    val msg = back.head().getString(0)
    assert(msg.startsWith("ERROR: boom") && msg.length <= 507)
  }

  test("query pick: unknown names are refused by name; named queries keep their order") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.pick(Some("q1_pricing_summary,nosuch,also_not")))
    assert(e.getMessage.contains("nosuch") && e.getMessage.contains("also_not"))
    assert(!e.getMessage.contains("q1_pricing_summary"))
    assert(SparkEntry.pick(Some("emb_kmeans,q1_pricing_summary")).keys.toSeq ==
      Seq("emb_kmeans", "q1_pricing_summary"))
    assert(SparkEntry.pick(None).keySet == SparkEntry.queries.keySet)
  }

  test("double failure: when the sentinel parquet cannot write, an _ERROR marker lands") {
    // force the parquet leg to fail while raw NIO still works: an outDir
    // with an unknown filesystem SCHEME makes Hadoop's path resolution
    // throw at write time (the shape of a real parquet-machinery
    // failure), while java.nio reads the same string as a literal
    // relative directory — which the test pre-creates
    val out = "nofs://graft-verify-marker"
    val nioDir = Paths.get(out)
    Files.createDirectories(nioDir)
    try {
      Verify.writeSentinel(spark, out, "some_query", "primary failure")
      val marker = Paths.get(out, "some_query._ERROR")
      assert(Files.exists(marker), "last-resort marker must land on disk")
      assert(Files.readString(marker).contains("ERROR: primary failure"))
    } finally {
      Files.deleteIfExists(Paths.get(out, "some_query._ERROR"))
      Files.deleteIfExists(nioDir)
      Files.deleteIfExists(nioDir.getParent)
    }
  }
}
