package graft.corpus

import graft.plans.{KernelArg, UnaryKernelCall}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Static kernel for the K-permutation minhash signature. Value contract
  * (pinned by CorpusSpec): mins(i) == the SQL form
  * `min(conv(substring(md5(concat(i,'|',shingle)),1,15),16,10))` — i.e.
  * the first 15 hex chars of md5("i|" ++ shingle) as an unsigned 60-bit
  * long. 15 hex chars = the top 60 bits of the first 8 digest bytes,
  * hence the `>>> 4`. */
object MinHashOps {
  def signature(arr: ArrayData, salts: Array[Array[Byte]]): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val k = salts.length
    val mins = Array.fill(k)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var j = 0
    while (j < n) {
      val sBytes = arr.getUTF8String(j).getBytes
      var i = 0
      while (i < k) {
        md.reset()
        md.update(salts(i))
        md.update(sBytes)
        val d = md.digest()
        val be64 =
          ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        val h = be64 >>> 4
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** Static kernel for the TF-weighted SimHash signature. Value contract
  * (pinned by CorpusSpec): equal to the SQL form — per token OCCURRENCE
  * hash60(token) (= top 60 bits of md5, same parse as [[MinHashOps]]),
  * per bit b in [0, nBits) vote +1 if bit set else -1, signature bit b
  * set iff the vote sum is > 0. */
object SimHashOps {
  def signature(arr: ArrayData, nBits: Int): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](nBits)
    val md = java.security.MessageDigest.getInstance("MD5")
    var j = 0
    while (j < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(j).getBytes)
      val be64 =
        ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val h = be64 >>> 4
      var b = 0
      while (b < nBits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < nBits) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/**
 * TF-weighted SimHash of a token array in ONE pass — the signature stage
 * becomes a pure projection (no token explode, no 16-sum groupBy
 * shuffle): at 100 TB the whole signature build pipelines inside the
 * scan. NULL for an empty array (matches the explode form, where a
 * token-less doc never reaches the aggregate).
 */
case class SimHashSig(child: Expression, nBits: Int) extends UnaryExpression {
  require(nBits >= 1 && nBits <= 64, s"nBits must be in [1, 64], got $nBits")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == 0) null else SimHashOps.signature(arr, nBits)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"""
      if ($arr.numElements() == 0) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.corpus.SimHashOps.signature($arr, $nBits); }
    """)

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  import org.apache.spark.sql.graft.bridge
  def toColumn(tokenArr: Column, nBits: Int): Column =
    bridge.column(SimHashSig(bridge.expression(tokenArr), nBits))
}

/**
 * K salted minhashes of a string array in ONE pass (SURVEY.md §7.3 —
 * custom Expression where built-ins can't keep the hot path fast): the
 * HOF form re-enters interpreted expression evaluation per (shingle,
 * salt) pair, paying UTF8String concat + MessageDigest setup + hex/conv
 * string parsing every time (~45µs each at sf0.1). This kernel reuses
 * one digest instance and parses bytes directly (~0.3µs). Returns
 * array<long> of length K, or NULL for an empty shingle array (docs with
 * fewer than k tokens cannot near-dup).
 */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryKernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def accepts: Seq[DataType] = Seq(ArrayType(StringType))
  override def method: String = "graft.corpus.MinHashOps.signature"

  @transient private lazy val salts: Array[Array[Byte]] =
    (0 until numHashes).map(i => s"$i|".getBytes("UTF-8")).toArray

  override def extras: Seq[KernelArg] = Seq(KernelArg.Ref("salts", salts, "byte[][]"))

  // the signature of an empty shingle array is NULL
  override def nullResult: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  import org.apache.spark.sql.graft.bridge
  def toColumn(shingleArr: Column, numHashes: Int): Column =
    bridge.column(MinHashSig(bridge.expression(shingleArr), numHashes))
}
