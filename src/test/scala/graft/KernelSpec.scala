package graft

import graft.corpus._
import graft.xel.CallstackDebugCmd
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Every row-level kernel, table-driven: one fixture input each. A kernel
  * computes the same values interpreted and generated, is NULL on a NULL
  * input, refuses a wrong input type at analysis naming itself, and its
  * generated code calls its static method directly. */
class KernelSpec extends SparkTestBase {

  import KernelSpec.{Input, Kernel}

  /** A one-partition frame read through an RDD: a local relation would let
    * the optimizer evaluate the projection itself, interpreted. */
  private def frame(in: Input): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(in.rows.map(Row.fromSeq), 1),
      StructType(in.types.zipWithIndex.map { case (t, i) => StructField(s"c$i", t) }))

  private def floats(xs: Float*) = xs.toSeq
  private val fl = ArrayType(FloatType)
  private val lg = ArrayType(LongType)
  private val dbl = ArrayType(DoubleType)
  private val entry = ArrayType(StructType(Seq("df", "dim", "cnt").map(StructField(_, LongType))))
  private val pairs = ArrayType(StructType(Seq("df", "dim").map(StructField(_, LongType))))
  private def entries(es: (Long, Long, Long)*) = es.map { case (a, b, c) => Row(a, b, c) }
  private val centroids = Array(Array(0.0, 0.0), Array(5.0, 5.0), Array(1.0, 1.0))
  private val evalVecs = Array(Array(1f, 0f), Array(0f, 1f))
  private def payload(bytes: Int*) = bytes.map(_.toByte).toArray
  private val text = "  The cat and\tthe dog, der Hund; 猫  "

  private val kernels: Seq[Kernel] = Seq(
    Kernel("dot_product_f", "graft.corpus.VectorOps.dot", { case Seq(a, b) => DotProductF(a, b) },
      Input(Seq(fl, fl), Seq(floats(1, 2, 3), floats(4, 5, 6)), Seq(floats(0.5f), floats(2, 9))),
      Input(Seq(dbl, fl), Seq(Seq(1.0), floats(1)))),
    Kernel("dot_product_l", "graft.corpus.VectorOps.dotL", { case Seq(a, b) => DotProductL(a, b) },
      Input(Seq(lg, lg), Seq(Seq(1L, 2L), Seq(3L, 4L))),
      Input(Seq(lg, ArrayType(IntegerType)), Seq(Seq(1L), Seq(1)))),
    Kernel("adc_score", "graft.corpus.VectorOps.adcScore", { case Seq(a, b) => AdcScoreF(a, b) },
      Input(Seq(ArrayType(dbl), ArrayType(IntegerType)),
        Seq(Seq(Seq(0.5, 1.5), Seq(2.0, 3.0)), Seq(1, 0))),
      Input(Seq(ArrayType(fl), ArrayType(IntegerType)), Seq(Seq(floats(1)), Seq(0)))),
    Kernel("norm_f", "graft.corpus.VectorOps.norm", { case Seq(a) => NormF(a) },
      Input(Seq(fl), Seq(floats(3, 4))), Input(Seq(dbl), Seq(Seq(3.0)))),
    Kernel("nearest_centroid_f", "graft.corpus.VectorOps2.nearestCentroid",
      { case Seq(a) => NearestCentroidF(a, centroids) },
      Input(Seq(fl), Seq(floats(4, 4)), Seq(floats(0.9f, 1.2f))), Input(Seq(dbl), Seq(Seq(1.0)))),
    Kernel("nearest_centroids_f", "graft.corpus.VectorOps2.nearestCentroids",
      { case Seq(a) => NearestCentroidsF(a, centroids, 2) },
      Input(Seq(fl), Seq(floats(4, 4)), Seq(floats(0.1f, 0.2f))), Input(Seq(dbl), Seq(Seq(1.0)))),
    Kernel("nearest_centroid_l", "graft.corpus.VectorOps2.nearestCentroidL",
      { case Seq(a) => NearestCentroidL(a, Array(Array(0L, 0L), Array(8L, 8L))) },
      Input(Seq(lg), Seq(Seq(6L, 7L))), Input(Seq(fl), Seq(floats(1)))),
    Kernel("sem_contam_hits_f", "graft.corpus.SemContamOps.hits",
      { case Seq(a) => SemContamHitsF(a, evalVecs, 0.7) },
      Input(Seq(fl), Seq(floats(3, 4)), Seq(floats(1, 1))), Input(Seq(dbl), Seq(Seq(1.0)))),
    Kernel("sem_hit_ids_f", "graft.corpus.SemContamOps.hitIds",
      { case Seq(a) => SemHitIdsF(a, evalVecs, 0.7) },
      Input(Seq(fl), Seq(floats(3, 4)), Seq(floats(1, 1))), Input(Seq(dbl), Seq(Seq(1.0)))),
    Kernel("srp_bucket_f", "graft.corpus.VectorOps.srpBucket",
      { case Seq(a) => SrpBucketF(a, Array(Array(1.0, -1.0), Array(-1.0, -1.0), Array(0.0, 1.0))) },
      Input(Seq(fl), Seq(floats(2, 1)), Seq(floats(-1, 3))), Input(Seq(dbl), Seq(Seq(1.0)))),
    Kernel("sig_prefix_len", "graft.corpus.SparseSigOps.prefixLen",
      { case Seq(e, n) => PrefixLenL(e, n, 250000000000L) },
      Input(Seq(entry, LongType), Seq(entries((1, 1, 2), (2, 3, 1), (3, 5, 1)), 6L)),
      Input(Seq(pairs, LongType), Seq(Seq(Row(1L, 1L)), 1L))),
    Kernel("sig_sorted_dot", "graft.corpus.SparseSigOps.sortedDot",
      { case Seq(a, b) => SortedEntryDotL(a, b) },
      Input(Seq(entry, entry),
        Seq(entries((1, 1, 2), (2, 3, 1), (3, 5, 4)), entries((1, 1, 3), (3, 5, 2)))),
      Input(Seq(entry, pairs), Seq(entries((1, 1, 2)), Seq(Row(1L, 1L))))),
    Kernel("body_grams", "graft.corpus.SparseSigOps.bodyGrams",
      { case Seq(p) => BodyGramsL(p, 5, 2) },
      Input(Seq(BinaryType), Seq(payload(0, 0, 0, 0, 1, 2, 255, 4, 5, 6, 7))),
      Input(Seq(StringType), Seq("x"))),
    Kernel("kgrams", "graft.corpus.KGramOps.kgrams", { case Seq(t) => KGrams(t, 2, distinct = false) },
      Input(Seq(StringType), Seq("a b a b c"), Seq(text)), Input(Seq(IntegerType), Seq(1))),
    Kernel("shingles", "graft.corpus.KGramOps.kgrams", { case Seq(t) => KGrams(t, 2, distinct = true) },
      Input(Seq(StringType), Seq("a b a b c"), Seq(text)), Input(Seq(IntegerType), Seq(1))),
    Kernel("simhash_sig", "graft.corpus.SimHashOps.signature", { case Seq(a) => SimHashSig(a, 16) },
      Input(Seq(ArrayType(StringType)), Seq(Seq("a", "b", "a")), Seq(Seq.empty[String])),
      Input(Seq(ArrayType(IntegerType)), Seq(Seq(1)))),
    Kernel("minhash_sig", "graft.corpus.MinHashOps.signature", { case Seq(a) => MinHashSig(a, 4) },
      Input(Seq(ArrayType(StringType)), Seq(Seq("a b", "b c")), Seq(Seq.empty[String])),
      Input(Seq(ArrayType(IntegerType)), Seq(Seq(1)))),
    Kernel("normalize_text", "graft.corpus.NormalizeOps.normalize", { case Seq(t) => NormalizeText(t) },
      Input(Seq(StringType), Seq(text)), Input(Seq(IntegerType), Seq(1))),
    Kernel("text_features", "graft.corpus.TextFeatureOps.compute", { case Seq(t) => TextFeatures(t) },
      Input(Seq(StringType), Seq(text), Seq("İstanbul the")), Input(Seq(IntegerType), Seq(1))),
    Kernel("callstack_debugcmd", "graft.xel.CallstackOps.format",
      { case Seq(b) => CallstackDebugCmd(b, 4, "k") },
      Input(Seq(BinaryType), Seq(payload(1, 2, 3, 4, 0xab, 0xcd, 0xef, 0x10, 9))),
      Input(Seq(StringType), Seq("x"))))

  private def applied(k: Kernel, in: DataFrame): DataFrame = {
    val e = k.build(in.columns.toSeq.map(c => bridge.expression(in(c))))
    assert(e.prettyName == k.name)
    in.select(bridge.column(e).as("out"))
  }

  /** The kernel's results over `in`, interpreted and generated. */
  private def bothWays(k: Kernel, in: Input): (Seq[Row], Seq[Row]) = {
    val interpreted = withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(applied(k, frame(in)).collect().toSeq)
    val generated = withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(
      applied(k, frame(in)).collect().toSeq)
    (interpreted, generated)
  }

  for (k <- kernels) {
    test(s"${k.name}: interpreted = generated, NULL in gives NULL, a wrong type is refused") {
      val (interpreted, generated) = bothWays(k, k.input)
      assert(interpreted == generated)
      assert(!interpreted.head.isNullAt(0), interpreted)

      // each input NULL in turn, the others from the first fixture row
      val first = k.input.rows.head
      val (ni, ng) = bothWays(k, Input(k.input.types, first.indices.map(first.updated(_, null)): _*))
      assert(ni.forall(_.isNullAt(0)) && ng.forall(_.isNullAt(0)), (ni, ng))

      val e = intercept[AnalysisException](applied(k, frame(k.wrong)))
      assert(e.getMessage.contains(s"${k.name} requires"), e.getMessage)

      val code = withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(
        codegenString(applied(k, frame(k.input)).queryExecution.executedPlan))
      assert(code.contains(s"${k.method}("), code)
    }
  }

  test("an empty array gives a NULL signature both ways") {
    for (name <- Seq("simhash_sig", "minhash_sig")) {
      val k = kernels.find(_.name == name).get
      val (interpreted, generated) = bothWays(k, k.input)
      assert(interpreted.map(_.isNullAt(0)) == Seq(false, true))
      assert(generated == interpreted)
    }
  }
}

object KernelSpec {
  /** Column types and rows of a fixture frame. */
  final case class Input(types: Seq[DataType], rows: Seq[Any]*)

  /** A kernel over the columns of `input`; `wrong` has the right column
    * count but a refused type. */
  final case class Kernel(name: String, method: String,
      build: Seq[Expression] => Expression, input: Input, wrong: Input)
}
