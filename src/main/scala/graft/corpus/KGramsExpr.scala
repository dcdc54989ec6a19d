package graft.corpus

import graft.plans.{KernelArg, UnaryKernelCall}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for word k-gram generation. Value contract (pinned by
  * CorpusSpec + the kgrams-equivalence property test): identical to the
  * HOF form in [[TextAnalysis.kgramsHof]] —
  *  - tokens = `trim(text)` then Java-regex `split("\s+", -1)`, the exact
  *    semantics of Spark's `trim`/`split` builtins (leading non-space
  *    whitespace yields an empty first token, trailing ones an empty
  *    last token — replicated, not "fixed", because the DuckDB oracle's
  *    `string_split_regex` agrees with them on the fixture corpus);
  *  - empty/blank text or fewer than k tokens → empty array;
  *  - gram i = tokens[i..i+k-1] joined with one space;
  *  - `distinct` keeps the FIRST occurrence order (array_distinct).
  */
object KGramOps {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def kgrams(text: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val trimmed = text.trim()
    if (trimmed.numBytes() == 0) return new GenericArrayData(Array.empty[Any])
    val toks = ws.split(trimmed.toString, -1)
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val sb = new java.lang.StringBuilder
    if (!distinct) {
      val out = new Array[Any](n - k + 1)
      var i = 0
      while (i <= n - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val seen = new java.util.LinkedHashSet[String](2 * (n - k + 1))
      var i = 0
      while (i <= n - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator(); var p = 0
      while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
      new GenericArrayData(out)
    }
  }
}

/**
 * Word k-grams of a string in ONE codegen'd pass (SURVEY.md §7.3 —
 * custom Expression where built-ins can't keep the hot path fast): the
 * HOF form (`transform(sequence(...), i -> concat_ws(...))`) evaluates
 * interpreted — Spark's higher-order functions are CodegenFallback — so
 * every window re-enters the lambda interpreter and allocates the index
 * sequence per row. This kernel tokenizes once and emits the windows in
 * a tight loop (measured ~2.5-3x on the sf0.1 explode), and the
 * tokenize+shingle stage stays inside WholeStageCodegen at the scan.
 * Feeds every shingle/span consumer: the exact-join postings, MinHash
 * input arrays, span-level dedup, repetition scoring.
 */
case class KGrams(child: Expression, k: Int, distinct: Boolean)
    extends UnaryKernelCall {
  require(k >= 1, s"k must be >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = if (distinct) "shingles" else "kgrams"
  override def accepts: Seq[DataType] = Seq(StringType)
  override def method: String = "graft.corpus.KGramOps.kgrams"
  override def extras: Seq[KernelArg] = Seq(KernelArg.Const(k), KernelArg.Const(distinct))

  override protected def withNewChildInternal(newChild: Expression): KGrams =
    copy(child = newChild)
}

object KGrams {
  import org.apache.spark.sql.graft.bridge
  def toColumn(text: Column, k: Int, distinct: Boolean): Column =
    bridge.column(KGrams(bridge.expression(text), k, distinct))
}
