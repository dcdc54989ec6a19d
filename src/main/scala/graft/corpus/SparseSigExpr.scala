package graft.corpus

import graft.plans.{BinaryKernelCall, KernelArg, UnaryKernelCall}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType,
  StructField, StructType}

/** Row-level kernels for the sparse near-dup signature frame
  * (`Multimodal.nearDupSignatures`): entries are
  * `array<struct<df:long, dim:long, cnt:long>>` sorted ascending by
  * (df, dim) — the global per-format dim order. Called from generated
  * code; struct fields are read by ordinal straight off Tungsten rows.
  *
  * These replace interpreted-HOF forms (`aggregate`/`map_zip_with`
  * chains) that were correct but planner-hostile: the inlined lambda
  * trees dominated the query's wall time in CATALYST (analysis +
  * optimizer passes re-walking thousand-node expressions), not in
  * execution. A native expression is one leaf node in the plan.
  */
object SparseSigOps {
  /** The entry array's type; the kernels match it by shape, not by field
    * name. */
  val entries: DataType =
    ArrayType(StructType(Seq("df", "dim", "cnt").map(StructField(_, LongType))))

  /** Shortest safe prefix length under the one-sided suffix-norm bound
    * (see `Multimodal.nearDupSignatures` for the completeness proof):
    * 1 + #{k in 1..p-1 : suffixSq(k)·10¹² ≥ t2num·nsq}, computed with a
    * running prefix square-sum. Exact integer arithmetic — both sides
    * ≤ ~4·10¹⁵ for 64-byte histograms (nsq ≤ 62²). The envelope is
    * ENFORCED, not assumed: both cross products carry a 10¹² factor, so
    * nsq beyond ~9.2·10⁶ (a caller passing maxBytes ≳ 3000) would wrap
    * Long and silently SHORTEN the prefix — an incompleteness bug, the
    * one failure mode this filter must never have. Fail loudly
    * instead. */
  def prefixLen(e: ArrayData, nsq: Long, t2num: Long): Int = {
    require(nsq <= 9000000L,
      s"prefixLen integer envelope exceeded (nsq=$nsq > 9e6): the 1e12 " +
        "cross products would overflow Long and silently drop near-dup " +
        "pairs; reduce maxBytes or widen the arithmetic")
    val p = e.numElements()
    if (p <= 1) return 1
    var pre = 0L
    var n = 0
    var k = 0
    while (k < p - 1) {
      val cnt = e.getStruct(k, 3).getLong(2)
      pre += cnt * cnt
      if ((nsq - pre) * 1000000000000L >= t2num * nsq) n += 1
      k += 1
    }
    1 + n
  }

  /** Sparse dot product of two entry arrays via a linear merge on the
    * shared (df, dim) sort order: df is global per (format, dim), so
    * within one format equal dims imply equal (df, dim) pairs and the
    * two sorted arrays merge in O(|a| + |b|). */
  def sortedDot(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      val sa = a.getStruct(i, 3)
      val sb = b.getStruct(j, 3)
      val dfa = sa.getLong(0); val dfb = sb.getLong(0)
      val c = if (dfa != dfb) java.lang.Long.compare(dfa, dfb)
              else java.lang.Long.compare(sa.getLong(1), sb.getLong(1))
      if (c == 0) { acc += sa.getLong(2) * sb.getLong(2); i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  /** Byte grams of the first `maxBytes` body bytes (after the 4-byte
    * header) as unsigned big-endian longs — value-identical to
    * conv(substring(hex(payload), …), 16, 10). */
  def bodyGrams(payload: Array[Byte], maxBytes: Int, gram: Int): ArrayData = {
    // the ONE header-length constant (Multimodal owns the payload
    // layout) — a drifting local copy would silently shift every gram
    val header = Multimodal.headerLen
    val n = math.min(payload.length - header, maxBytes)
    if (n < gram)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - gram + 1)
    var i = 0
    while (i <= n - gram) {
      var v = 0L
      var j = 0
      while (j < gram) { v = (v << 8) | (payload(header + i + j) & 0xffL); j += 1 }
      out(i) = v
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native prefix length over the signature entry array — `t2num` is the
  * threshold² scaled by 10¹², bound at plan build (a literal in the
  * generated code, not a third child). */
case class PrefixLenL(left: Expression, right: Expression, t2num: Long)
    extends BinaryKernelCall {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_prefix_len"
  override def accepts: Seq[DataType] = Seq(SparseSigOps.entries, LongType)
  override def method: String = "graft.corpus.SparseSigOps.prefixLen"
  override def extras: Seq[KernelArg] = Seq(KernelArg.Const(t2num))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PrefixLenL =
    copy(left = l, right = r)
}

/** Native sparse dot over two (df, dim)-sorted entry arrays. */
case class SortedEntryDotL(left: Expression, right: Expression)
    extends BinaryKernelCall {
  override def dataType: DataType = LongType
  override def prettyName: String = "sig_sorted_dot"
  override def accepts: Seq[DataType] = Seq(SparseSigOps.entries, SparseSigOps.entries)
  override def method: String = "graft.corpus.SparseSigOps.sortedDot"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedEntryDotL =
    copy(left = l, right = r)
}

/** Native byte-gram extraction over the raw binary payload: big-endian
  * `gram`-byte integers at each position of the first `maxBytes` body
  * bytes (body = after the 4-byte header). Replaces the hex-string HOF
  * form (payload → hex → substring per gram → conv), which allocated a
  * string per gram and carried a nested-lambda tree through every
  * Catalyst pass. Byte-identical values: unsigned big-endian, same as
  * conv(hex, 16, 10). */
case class BodyGramsL(child: Expression, maxBytes: Int, gram: Int)
    extends UnaryKernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "body_grams"
  override def accepts: Seq[DataType] = Seq(BinaryType)
  override def method: String = "graft.corpus.SparseSigOps.bodyGrams"
  override def extras: Seq[KernelArg] = Seq(KernelArg.Const(maxBytes), KernelArg.Const(gram))

  override protected def withNewChildInternal(newChild: Expression): BodyGramsL =
    copy(child = newChild)
}

object SparseSigExpr {
  import org.apache.spark.sql.graft.bridge

  def prefixLenL(e: Column, nsq: Column, t2num: Long): Column =
    bridge.column(PrefixLenL(bridge.expression(e), bridge.expression(nsq), t2num))

  def sortedDotL(a: Column, b: Column): Column =
    bridge.column(SortedEntryDotL(bridge.expression(a), bridge.expression(b)))

  def bodyGramsL(payload: Column, maxBytes: Int, gram: Int): Column =
    bridge.column(BodyGramsL(bridge.expression(payload), maxBytes, gram))
}
