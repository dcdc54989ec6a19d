package graft.corpus

import graft.plans.{BinaryKernelCall, KernelArg, UnaryKernelCall}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Static row-level kernels — called directly from generated code (no
  * closure, no Seq conversion, primitive `getFloat` access straight off
  * Tungsten array data). The loops are the same sequential left-fold
  * double accumulation as the HOF/oracle forms, so results are
  * bit-identical (SimilaritySpec cross-checks all three). */
object VectorOps {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** Exact integer dot over two `array<bigint>` code columns — the
    * quantized (SQ8) twin of [[dot]]. Integer sums are associative, so
    * the value is identical to the `aggregate(zip_with(...))` HOF fold
    * it replaces regardless of order; the win is staying inside
    * whole-stage codegen instead of re-entering the lambda interpreter
    * per (query, candidate) pair. */
  def dotL(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** ADC score: Σ_j lut[j][codes[j]] — the PQ asymmetric-distance sum
    * over a per-query lookup table (array<array<double>>) and a
    * candidate's m sub-quantizer codes (array<int>). SAME index-order
    * left fold of doubles as the `aggregate(zip_with(...))` HOF form it
    * replaces, so the result is bit-identical; entries are exact
    * integer-valued doubles by the fixed-point PQ construction. */
  def adcScore(lut: ArrayData, codes: ArrayData): Double = {
    val m = math.min(lut.numElements(), codes.numElements())
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += lut.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    acc
  }

  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; acc += x * x; i += 1 }
    math.sqrt(acc)
  }

  /** SRP bucket id over a float vector: bit p set iff
    * dot(vec, planes(p)) ≥ 0. Each dot is the same index-order
    * left-fold double accumulation as the HOF form (`zip_with` +
    * `aggregate`) and the DuckDB `list_reduce` oracle, so the signs —
    * and therefore the buckets — are bit-identical across all three
    * (SimilaritySpec cross-checks). Vector and plane dims must match;
    * min-length is taken defensively. */
  def srpBucket(a: ArrayData, planes: Array[Array[Double]]): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(a.numElements(), plane.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.getFloat(i).toDouble * plane(i); i += 1 }
      if (acc >= 0.0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }
}

/**
 * Native dot product over two `array<float>` columns (SURVEY.md §7 F /
 * "custom Expression beats UDF"): a UDF pays a Tungsten→Seq[Float]
 * conversion per call per argument — at millions of candidate pairs that
 * conversion dominates the actual multiply-adds. This expression stays
 * inside whole-stage codegen and reads floats in place.
 */
case class DotProductF(left: Expression, right: Expression) extends BinaryKernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_f"
  // element type MUST be float: getFloat on a double-backed array
  // would silently reinterpret bytes, not fail
  override def accepts: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def method: String = "graft.corpus.VectorOps.dot"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductF =
    copy(left = l, right = r)
}

/** Native exact integer dot over two `array<bigint>` code columns —
  * the SQ8 scoring hot path (see [[VectorOps.dotL]]): at 200k corpus ×
  * 100 queries the interpreted HOF fold made compressed-domain scoring
  * ~2.6× SLOWER than the float kernel despite touching 4× less data. */
case class DotProductL(left: Expression, right: Expression) extends BinaryKernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_product_l"
  override def accepts: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def method: String = "graft.corpus.VectorOps.dotL"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductL =
    copy(left = l, right = r)
}

/** Native PQ ADC score (see [[VectorOps.adcScore]]): the per-candidate
  * m-lookup sum over the query's LUT, kept inside whole-stage codegen.
  * CONTRACT: every codes[j] must index lut[j] (0 ≤ c < kSub) — the PQ
  * pipeline guarantees it by construction (codes come from the same
  * books the LUT is built over). */
case class AdcScoreF(left: Expression, right: Expression) extends BinaryKernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_score"
  override def accepts: Seq[DataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
  override def method: String = "graft.corpus.VectorOps.adcScore"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcScoreF =
    copy(left = l, right = r)
}

/** Native L2 norm over `array<float>` — same rationale as [[DotProductF]]. */
case class NormF(child: Expression) extends UnaryKernelCall {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "norm_f"
  override def accepts: Seq[DataType] = Seq(ArrayType(FloatType))
  override def method: String = "graft.corpus.VectorOps.norm"

  override protected def withNewChildInternal(newChild: Expression): NormF =
    copy(child = newChild)
}

object VectorOps2 {
  /** Index of the squared-L2-nearest centroid; ties keep the lower id.
    * Same arithmetic order as the UDF it replaces (per-dim diff²,
    * sequential accumulation) → identical assignments. */
  def nearestCentroid(v: ArrayData, cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val cent = cs(c)
      val n = math.min(cent.length, v.numElements())
      var d = 0.0
      var i = 0
      while (i < n) {
        val diff = v.getFloat(i).toDouble - cent(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Long twin of [[nearestCentroid]] for the fixed-point k-means
    * queries: exact integer squared-L2, returns
    * [best_cid, best_dist, second_best_dist] (the third element feeds
    * the silhouette's b-term; with one centroid it is Long.MaxValue).
    * Ties keep the lower centroid id; an equal-distance runner-up still
    * lands in second_best — matching the oracle's (dist, cid)
    * row_number ranks 1 and 2. */
  def nearestCentroidL(v: ArrayData, cs: Array[Array[Long]]): ArrayData = {
    var best = 0
    var bestD = Long.MaxValue
    var secondD = Long.MaxValue
    var c = 0
    while (c < cs.length) {
      val cent = cs(c)
      val n = math.min(cent.length, v.numElements())
      var d = 0L
      var i = 0
      while (i < n) {
        val diff = v.getLong(i) - cent(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { secondD = bestD; bestD = d; best = c }
      else if (d < secondD) { secondD = d }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(best.toLong, bestD, secondD))
  }

  /** The `nprobe` nearest centroid ids in increasing-distance order
    * (ties → lower id, same contract as [[nearestCentroid]]): insertion
    * into two fixed-size arrays — O(k·nprobe), no allocation besides the
    * result. Multi-probe IVF's query-side fan-out. */
  def nearestCentroids(v: ArrayData, cs: Array[Array[Double]],
                       nprobe: Int): ArrayData = {
    val m = math.min(nprobe, cs.length)
    val ids = new Array[Int](m)
    val ds = new Array[Double](m)
    var filled = 0
    var c = 0
    while (c < cs.length) {
      val cent = cs(c)
      val n = math.min(cent.length, v.numElements())
      var d = 0.0
      var i = 0
      while (i < n) {
        val diff = v.getFloat(i).toDouble - cent(i)
        d += diff * diff
        i += 1
      }
      // strict < : equal distances keep the earlier (lower) id
      var pos = filled
      while (pos > 0 && d < ds(pos - 1)) pos -= 1
      if (pos < m) {
        val last = math.min(filled, m - 1)
        var j = last
        while (j > pos) { ids(j) = ids(j - 1); ds(j) = ds(j - 1); j -= 1 }
        ids(pos) = c
        ds(pos) = d
        if (filled < m) filled += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(ids, filled))
  }
}

/**
 * k-means assignment as a native expression: the centroid table rides
 * along as a codegen reference object (like [[MinHashSig]]'s salts), the
 * scan stays inside whole-stage codegen reading floats in place — no
 * per-row Tungsten→Seq conversion, no closure. At 100 TB the quantizer
 * assignment is a full-corpus projection; this keeps it on the codegen
 * fast path.
 */
case class NearestCentroidF(child: Expression, centroids: Array[Array[Double]])
    extends UnaryKernelCall {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid_f"
  override def accepts: Seq[DataType] = Seq(ArrayType(FloatType))
  override def method: String = "graft.corpus.VectorOps2.nearestCentroid"
  override def extras: Seq[KernelArg] =
    Seq(KernelArg.Ref("centroids", centroids, "double[][]"))

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidF =
    copy(child = newChild)
}

/** Multi-probe variant of [[NearestCentroidF]]: the nprobe nearest
  * cluster ids, distance-ordered — the query-side fan-out of multi-probe
  * IVF. Same codegen-reference-object pattern; output is a small int
  * array the caller explodes. */
case class NearestCentroidsF(child: Expression, centroids: Array[Array[Double]],
                             nprobe: Int)
    extends UnaryKernelCall {
  override def dataType: DataType = ArrayType(IntegerType, false)
  override def prettyName: String = "nearest_centroids_f"
  override def accepts: Seq[DataType] = Seq(ArrayType(FloatType))
  override def method: String = "graft.corpus.VectorOps2.nearestCentroids"
  override def extras: Seq[KernelArg] =
    Seq(KernelArg.Ref("centroids", centroids, "double[][]"), KernelArg.Const(nprobe))

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsF =
    copy(child = newChild)
}

/** Fixed-point (long) argmin-assignment kernel for the exact k-means
  * queries: squared-L2 distance over `array<bigint>` components against
  * a long[][] centroid table, returning [best_cid, best_dist,
  * second_best_dist]. All
  * arithmetic is 64-bit integer (component scale 2²⁰ keeps every term
  * far inside the long range), so the result is bit-reproducible against
  * the unrolled DuckDB oracle — the double kernel above cannot make that
  * guarantee. Ties keep the lower centroid id, matching the oracle's
  * (dist, cid) row_number order. */
case class NearestCentroidL(child: Expression, centroids: Array[Array[Long]])
    extends UnaryKernelCall {
  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "nearest_centroid_l"
  override def accepts: Seq[DataType] = Seq(ArrayType(LongType))
  override def method: String = "graft.corpus.VectorOps2.nearestCentroidL"
  override def extras: Seq[KernelArg] =
    Seq(KernelArg.Ref("centroids", centroids, "long[][]"))

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidL =
    copy(child = newChild)
}

/** Row-level kernel for semantic decontamination: one fused loop over
  * the (small, driver-resident) eval matrix per corpus vector —
  * replaces a broadcast nested-loop join whose 10⁸⁺ materialized join
  * rows cost ~50× the actual multiply-adds (measured at the 500k-doc
  * probe: 49.8 s join-shaped vs ~1 s fused). Arithmetic matches the
  * DuckDB oracle exactly: sequential index-order double fold for dot
  * and norms, cosine = dot/(nrm_a·nrm_b), 6-dp HALF_UP round (the
  * Sketches.scala parity pattern) applied before the threshold test. */
object SemContamOps {
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def norms(evs: Array[Array[Float]]): Array[Double] =
    evs.map { e =>
      var acc = 0.0
      var i = 0
      while (i < e.length) { val x = e(i).toDouble; acc += x * x; i += 1 }
      math.sqrt(acc)
    }

  /** (n_hits, max rounded cosine over hits; 0.0 when no hits). The
    * exact 6-dp round runs only inside a ±1e-6 band around the
    * threshold plus on the final max — never on the 10⁸ clear misses.
    * Correct because HALF_UP rounding is monotone: max(round(cᵢ)) =
    * round(max cᵢ) over the hit set. */
  def hits(v: ArrayData, evs: Array[Array[Float]], evNorms: Array[Double],
           threshold: Double): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var nv = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; nv += x * x; i += 1 }
    nv = math.sqrt(nv)
    var nHits = 0L
    var maxRaw = Double.NegativeInfinity
    // the exact (BigDecimal) round runs ONLY inside the ±1e-6 boundary
    // band — clear hits and clear misses classify on the raw double
    // (round can move a value by at most 5e-7). Without the fast path
    // the rounding allocation dominates on clustered corpora where a
    // large pair fraction clears the threshold.
    val tLo = threshold - 1e-6
    val tHi = threshold + 1e-6
    var j = 0
    while (j < evs.length) {
      val e = evs(j)
      // a silent min() here would understate cosines on a model-dim
      // mismatch (dot over the prefix, norms over full length) — the
      // one failure mode worse than crashing for a decontamination gate
      if (e.length != n) throw new IllegalArgumentException(
        s"eval vector dim ${e.length} != corpus vector dim $n")
      var acc = 0.0
      var k = 0
      while (k < n) { acc += v.getFloat(k).toDouble * e(k).toDouble; k += 1 }
      val c = acc / (nv * evNorms(j))
      if (c >= tHi || (c >= tLo && round6(c) >= threshold)) {
        nHits += 1
        if (c > maxRaw) maxRaw = c
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nHits, if (nHits == 0L) 0.0 else round6(maxRaw)))
  }

  /** The INDICES of eval vectors with rounded cosine ≥ threshold against
    * `v` — [[hits]] with identity instead of count, for consumers that
    * need to know WHICH eval vectors matched (streaming semantic
    * admission: the store streams once, the arriving batch rides along
    * as the eval matrix, and the union of returned indices is the
    * refused set). Same boundary-band rounding and zero-norm (NaN ⇒ no
    * hit) semantics as [[hits]]; usually empty, so the per-row
    * allocation is one empty array. */
  def hitIds(v: ArrayData, evs: Array[Array[Float]], evNorms: Array[Double],
             threshold: Double): ArrayData = {
    val n = v.numElements()
    var nv = 0.0
    var i = 0
    while (i < n) { val x = v.getFloat(i).toDouble; nv += x * x; i += 1 }
    nv = math.sqrt(nv)
    val tLo = threshold - 1e-6
    val tHi = threshold + 1e-6
    var out: java.util.ArrayList[Any] = null
    var j = 0
    while (j < evs.length) {
      val e = evs(j)
      if (e.length != n) throw new IllegalArgumentException(
        s"eval vector dim ${e.length} != corpus vector dim $n")
      var acc = 0.0
      var k = 0
      while (k < n) { acc += v.getFloat(k).toDouble * e(k).toDouble; k += 1 }
      val c = acc / (nv * evNorms(j))
      if (c >= tHi || (c >= tLo && round6(c) >= threshold)) {
        if (out == null) out = new java.util.ArrayList[Any](4)
        out.add(j)
      }
      j += 1
    }
    if (out == null)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Per-row semantic-contamination rollup as a native expression: the
  * eval matrix (+ its precomputed norms) rides along as codegen
  * reference objects — the [[NearestCentroidF]] pattern — so the corpus
  * scan stays one whole-stage-codegen projection with zero joins. */
case class SemContamHitsF(child: Expression, evalVecs: Array[Array[Float]],
                          threshold: Double)
    extends UnaryKernelCall {
  import org.apache.spark.sql.types.{StructField, StructType}

  private lazy val evalNorms: Array[Double] = SemContamOps.norms(evalVecs)

  override def dataType: DataType = StructType(Seq(
    StructField("n_eval_hits", LongType, nullable = false),
    StructField("max_cos", DoubleType, nullable = false)))
  override def prettyName: String = "sem_contam_hits_f"

  /** Optimizer fence, not a semantics statement: the kernel is pure,
    * but left deterministic Catalyst pushes the caller's
    * `n_eval_hits > 0` filter — with a DUPLICATED copy of this whole
    * eval-matrix loop — below the fanout exchange into the scan stage,
    * where a single-row-group probe file serializes the O(corpus×eval)
    * work onto one task (measured: 59 s vs 1.7 s at the 500k-vec
    * probe). The flag keeps the one evaluation above the exchange. */
  override lazy val deterministic: Boolean = false

  override def accepts: Seq[DataType] = Seq(ArrayType(FloatType))
  override def method: String = "graft.corpus.SemContamOps.hits"
  override def extras: Seq[KernelArg] = Seq(KernelArg.Ref("evalVecs", evalVecs, "float[][]"),
    KernelArg.Ref("evalNorms", evalNorms, "double[]"), KernelArg.Const(threshold))

  override protected def withNewChildInternal(newChild: Expression): SemContamHitsF =
    copy(child = newChild)
}

/** Per-row semantic-hit IDENTITY as a native expression — the
  * [[SemContamHitsF]] sibling returning the matching eval indices
  * (array<int>, usually empty) instead of a count. Same reference-object
  * pattern, same optimizer fence (the caller filters on the result;
  * left deterministic, Catalyst would push a duplicated copy of the
  * whole eval-matrix loop into the scan stage). */
case class SemHitIdsF(child: Expression, evalVecs: Array[Array[Float]],
                      threshold: Double)
    extends UnaryKernelCall {
  private lazy val evalNorms: Array[Double] = SemContamOps.norms(evalVecs)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "sem_hit_ids_f"

  override lazy val deterministic: Boolean = false

  override def accepts: Seq[DataType] = Seq(ArrayType(FloatType))
  override def method: String = "graft.corpus.SemContamOps.hitIds"
  override def extras: Seq[KernelArg] = Seq(KernelArg.Ref("evalVecs", evalVecs, "float[][]"),
    KernelArg.Ref("evalNorms", evalNorms, "double[]"), KernelArg.Const(threshold))

  override protected def withNewChildInternal(newChild: Expression): SemHitIdsF =
    copy(child = newChild)
}

/** Whole-bucket SRP hash in one codegen call: the HOF form evaluates
  * `planesPerTable` interpreted zip_with/aggregate chains per row (each
  * paying a lambda-variable bind per element); this reads the Tungsten
  * float array in place and folds every plane in one native loop —
  * same fold order, so buckets are bit-identical to the HOF and
  * list_reduce oracle forms. */
case class SrpBucketF(child: Expression, planes: Array[Array[Double]])
    extends UnaryKernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket_f"
  override def accepts: Seq[DataType] = Seq(ArrayType(FloatType))
  override def method: String = "graft.corpus.VectorOps.srpBucket"
  override def extras: Seq[KernelArg] = Seq(KernelArg.Ref("planes", planes, "double[][]"))

  override protected def withNewChildInternal(newChild: Expression): SrpBucketF =
    copy(child = newChild)
}

object VectorExpr {
  import org.apache.spark.sql.graft.bridge

  def dotF(a: Column, b: Column): Column =
    bridge.column(DotProductF(bridge.expression(a), bridge.expression(b)))

  def dotL(a: Column, b: Column): Column =
    bridge.column(DotProductL(bridge.expression(a), bridge.expression(b)))

  def adcScoreF(lut: Column, codes: Column): Column =
    bridge.column(AdcScoreF(bridge.expression(lut), bridge.expression(codes)))

  def srpBucketF(v: Column, planes: Array[Array[Double]]): Column =
    bridge.column(SrpBucketF(bridge.expression(v), planes))

  def normF(a: Column): Column =
    bridge.column(NormF(bridge.expression(a)))

  def nearestCentroidF(v: Column, centroids: Array[Array[Double]]): Column =
    bridge.column(NearestCentroidF(bridge.expression(v), centroids))

  def nearestCentroidsF(v: Column, centroids: Array[Array[Double]],
                        nprobe: Int): Column =
    bridge.column(NearestCentroidsF(bridge.expression(v), centroids, nprobe))

  def nearestCentroidL(v: Column, centroids: Array[Array[Long]]): Column =
    bridge.column(NearestCentroidL(bridge.expression(v), centroids))

  def semContamHitsF(v: Column, evalVecs: Array[Array[Float]],
                     threshold: Double): Column =
    bridge.column(SemContamHitsF(bridge.expression(v), evalVecs, threshold))

  def semHitIdsF(v: Column, evalVecs: Array[Array[Float]],
                 threshold: Double): Column =
    bridge.column(SemHitIdsF(bridge.expression(v), evalVecs, threshold))
}
