package graft

import graft.plans.{TopK, TopKPerKeyExec}
import graft.xel.XeFixture
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Custom whole-operator plan: TopKPerKey (logical node → strategy →
  * physical partial/final heap execs) must return exactly the rows of the
  * window row_number()<=k formulation while never sorting or shuffling
  * more than k rows per key per partition. */
class TopKSpec extends SparkTestBase {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  test("TopK.perKey returns exactly the window-formulation rows") {
    val xe = XeFixture.frame(spark, sf("sf0.001"))
    val native = TopK.perKey(xe, Seq("event_name"),
      Seq("c_duration_us" -> true, "c_event_sequence" -> false), 3)
    val w = Window.partitionBy(col("event_name"))
      .orderBy(col("c_duration_us").desc, col("c_event_sequence"))
    val viaWindow = xe.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).drop("rk")
    assert(native.count() == viaWindow.count())
    assert(native.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(native).count() == 0)
  }

  test("plan contains partial + final TopKPerKeyExec and no sort") {
    val xe = XeFixture.frame(spark, sf("sf0.001"))
    val native = TopK.perKey(xe, Seq("event_name"),
      Seq("c_duration_us" -> true, "c_event_sequence" -> false), 3)
    native.collect()
    val nodes = flatten(native.queryExecution.executedPlan)
    val execs = nodes.collect { case t: TopKPerKeyExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected partial+final pair, got $execs")
    assert(!nodes.exists(_.nodeName.contains("Sort")),
      "bounded-heap top-k must not global-sort")
  }

  test("forwarded partitioning: ranking window reuses the top-k exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // four scan partitions, so the final heap needs its exchange
    val df = spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 7).as("g"), (col("id") * 31 % 101).as("score"))
    val q = TopK.ranked(df, Seq("g"), Seq("score" -> true, "id" -> false), 3, "rank")
    assert(q.collect().length == 21)
    val nodes = flatten(q.queryExecution.executedPlan)
    assert(nodes.exists(_.nodeName == "Window"))
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    // one exchange to cluster by key, shared by the final top-k AND the
    // ranking window thanks to outputPartitioning forwarding
    assert(shuffles.size == 1,
      s"window after TopKPerKeyExec must not re-shuffle, got ${shuffles.size} exchanges")
  }

  test("TopK.ranked: the rows and ranks of the row_number window, NULL scores included") {
    import spark.implicits._
    // group b has more rows than k and two NULL scores, so where the
    // nulls sort decides which rows survive
    val df = Seq((1L, "a", Option(5L)), (2L, "a", None), (3L, "a", Option(5L)),
        (4L, "a", Option(9L)), (5L, "b", None), (6L, "b", Option(3L)),
        (7L, "b", None), (8L, "b", Option(4L)), (9L, "c", None))
      .toDF("id", "g", "score").repartition(3)
    val byDirection = Seq(true, false).map { desc =>
      val got = TopK.ranked(df, Seq("g"), Seq("score" -> desc, "id" -> false), 3, "rk")
      val w = Window.partitionBy(col("g"))
        .orderBy(if (desc) col("score").desc else col("score").asc, col("id"))
      val viaWindow = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      def rows(f: org.apache.spark.sql.DataFrame) =
        f.select("g", "rk", "id").as[(String, Int, Long)].collect().toSet
      assert(rows(got) == rows(viaWindow), s"descending = $desc")
      rows(got)
    }
    // descending keeps b's nulls last, ascending first: different rows
    assert(byDirection(0).filter(_._1 == "b").map(_._3) == Set(8L, 6L, 5L))
    assert(byDirection(1).filter(_._1 == "b").map(_._3) == Set(5L, 7L, 6L))
  }

  test("k larger than any group degrades to identity per key") {
    val xe = XeFixture.frame(spark, sf("sf0.001")).limit(50)
    val native = TopK.perKey(xe, Seq("event_name"),
      Seq("c_event_sequence" -> false), 10000)
    assert(native.count() == 50)
  }

  test("ties beyond k are cut deterministically by the tie-break column") {
    import spark.implicits._
    val df = Seq((1L, "g", 5L), (2L, "g", 5L), (3L, "g", 5L), (4L, "g", 1L))
      .toDF("id", "g", "score")
    val got = TopK.perKey(df, Seq("g"),
      Seq("score" -> true, "id" -> false), 2)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L))
  }
}
