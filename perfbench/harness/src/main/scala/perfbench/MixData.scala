package perfbench

import java.time.LocalDateTime
import java.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Deterministic generator of the tables the registered queries read: a
  * TPC-H-like star schema, an `events` stream, a text corpus and an
  * embedding set, with the column names, types and value ranges of the
  * program's scale-factor test tables, at scale factor [[Scale]]: 60k
  * lineitem rows, 500 documents and 500 vectors.
  *
  * The tables are fixed; a benchmark seed only permutes the order in which
  * the queries run, so the expected result fingerprints committed next to
  * the benchmark hold for every seed. */
object MixData {
  val Seed = 20241017L
  val Scale = 0.01

  private def r2(x: Double): Double = Math.round(x * 100.0) / 100.0

  def write(spark: SparkSession, dir: String): Unit = {
    val rng = new Random(Seed)
    def n(base: Int) = math.max(1, math.round(base * Scale).toInt)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.zipWithIndex.map { case (r, i) => Row(i, r) })
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
        r2(-999.99 + rng.nextDouble() * 10999.98), segments(rng.nextInt(5)))))

    val nSupp = n(10000)
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25),
        r2(-999.99 + rng.nextDouble() * 10999.98))))

    val nPart = n(200000)
    val colors = Seq("red", "blue", "green", "black", "white", "small", "large", "steel")
    val nouns = Seq("ring", "widget", "bolt", "gear", "pipe", "valve", "panel", "spring")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${colors(rng.nextInt(8))} ${nouns(rng.nextInt(8))}", s"Brand#${1 + rng.nextInt(25)}",
        types(rng.nextInt(6)), 1 + rng.nextInt(50), Math.round(9000.0 + i % 1000) / 10.0)))

    val nOrders = n(1500000)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDays = Array.fill(nOrders)(rng.nextInt(2404))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rng.nextInt(nCust).toLong,
        Seq("O", "P", "F")(rng.nextInt(3)), r2(1000.0 + rng.nextDouble() * 499000.0),
        day0.plusDays(orderDays(i)), priorities(rng.nextInt(5)))))

    val lines = (0 until nOrders).flatMap { o =>
      (1 to 1 + rng.nextInt(7)).map { ln =>
        val qty = (1 + rng.nextInt(50)).toDouble
        Row(o.toLong, rng.nextInt(nPart).toLong, rng.nextInt(nSupp).toLong, ln, qty,
          r2(qty * (900.0 + rng.nextDouble() * 1200.0)), rng.nextInt(11) / 100.0,
          rng.nextInt(9) / 100.0, Seq("A", "N", "R")(rng.nextInt(3)),
          Seq("O", "F")(rng.nextInt(2)), day0.plusDays(orderDays(o) + 1 + rng.nextInt(120)))
      }
    }
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lines)

    val nEvents = n(1000000)
    val nUsers = n(15000)
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    val eventTypes = Seq("click", "view", "purchase", "signup", "error")
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map { i =>
        val micros = i * stepMicros + (rng.nextDouble() * stepMicros).toLong
        Row(i.toLong, ev0.plusNanos(micros * 1000L), rng.nextInt(nUsers).toLong,
          eventTypes(rng.nextInt(5)), r2(-50.0 * Math.log(1.0 - rng.nextDouble())),
          s"""{"k": ${rng.nextInt(100)}}""")
      })

    // corpus: a small vocabulary, ~8% near-duplicates of an earlier
    // document (1-3 words replaced) and ~0.5% exact copies
    val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
      "value", "part", "hash", "merge", "batch", "line", "sort", "window", "data",
      "column", "join", "small", "big", "customer", "query", "order", "group",
      "filter", "stream", "spark", "vector", "sparse")
    val langs = Seq("en", "en", "en", "de", "fr", "es", "zh")
    val nDocs = n(50000)
    val texts = new Array[String](nDocs)
    val docRows = (0 until nDocs).map { i =>
      val r = rng.nextDouble()
      texts(i) =
        if (i > 10 && r < 0.08) {
          val w = texts(rng.nextInt(i)).split(' ')
          (0 until 1 + rng.nextInt(3)).foreach(_ => w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.size)))
          w.mkString(" ")
        } else if (i > 10 && r < 0.085) texts(rng.nextInt(i))
        else Seq.fill(8 + rng.nextInt(90))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      Row(i.toLong, texts(i), langs(rng.nextInt(langs.size)), s"src${i % 20}", texts(i).length.toLong)
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docRows)

    // embeddings: unit vectors around one centre per label, ~3% planted
    // near-neighbours of an earlier vector
    val nVecs = math.max(500, n(20000))
    val dim = 64
    val centres = Array.fill(10, dim)(rng.nextGaussian())
    val vecs = new Array[Array[Float]](nVecs)
    val labels = new Array[Int](nVecs)
    (0 until nVecs).foreach { i =>
      val (base, noise, label) =
        if (i > 10 && rng.nextDouble() < 0.03) { val j = rng.nextInt(i); (vecs(j).map(_.toDouble), 0.02, labels(j)) }
        else { val l = rng.nextInt(10); (centres(l), 1.6, l) }
      val v = Array.tabulate(dim)(d => base(d) + noise * rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      vecs(i) = v.map(x => (x / norm).toFloat)
      labels(i) = label
    }
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nVecs).map(i => Row(i.toLong, vecs(i).toSeq, labels(i))))
  }
}
