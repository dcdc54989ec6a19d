package graft.corpus

import graft.plans.UnaryKernelCall
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-feature kernel. Value contract (pinned by
  * TextFeaturesSpec against the regex/HOF witnesses in TextAnalysis):
  *
  *  - n_tokens  ≡ `size(tokens(text))` — Spark `trim` (0x20 only) then
  *    Java `split("\s+", -1)` field count. Replicated as run counting:
  *    fields = non-separator runs + one leading empty field if the
  *    trimmed text starts with a separator + one trailing empty field if
  *    it ends with one (`-1` keeps trailing empties). Separators are the
  *    six ASCII `\s` chars — Java regex `\s` without UNICODE_CHARACTER_
  *    CLASS is ASCII-only, so this holds for ANY input.
  *  - stop_en/de/fr/es ≡ `regexp_count(lower(text), "\b(w|…)\b")` per
  *    language. The words are all-ASCII and boundary-anchored, so a
  *    match spans exactly one maximal word-char run ([a-zA-Z0-9_]) that
  *    EQUALS a stopword — counted by run equality. The language lists
  *    are pairwise disjoint (checked at init), so per-language counts
  *    sum to the combined-alternation count `stopwordRatio` uses.
  *    Fast path requires all-ASCII input: unicode lowercasing can remap
  *    structure (İ → i + combining dot, Kelvin sign → k), so any code
  *    point > 127 routes the stopword counts through the same
  *    `lower(text)` + java.util.regex pipeline the builtins use.
  *  - n_nonalnum ≡ `regexp_count(text, "[^a-zA-Z0-9\s]")` — one count
  *    per code point outside alnum ∪ ASCII-ws; exact for any input
  *    without regex (the class is a per-code-point predicate).
  *  - n_cjk      ≡ `regexp_count(text, "[\x{4e00}-\x{9fff}]")` — same.
  *  - n_chars    ≡ `length(text)` — code points (UTF8String.numChars).
  */
object TextFeatureOps {
  private val langWords: Array[Array[String]] = Array(
    Array("the", "a", "of", "and", "to", "in", "is"),
    Array("der", "die", "das", "und", "ist", "ein", "zu"),
    Array("le", "les", "et", "est", "une", "dans"),
    Array("el", "los", "y", "es", "una", "en"))
  // word → language index; disjointness across languages is what makes
  // per-language counts sum to the combined-alternation count
  private val wordLang: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    langWords.zipWithIndex.foreach { case (ws, i) =>
      ws.foreach { w =>
        require(m.put(w, i) == null, s"stopword lists must be disjoint: $w")
      }
    }
    m
  }
  private val maxWordLen = langWords.flatten.map(_.length).max
  private val langPatterns = langWords.map(ws =>
    java.util.regex.Pattern.compile(ws.mkString("\\b(", "|", ")\\b")))

  private def isSep(c: Int): Boolean = // Java regex \s, ASCII-only
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'
  private def isWordChar(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    val len = s.length
    var nNonAlnum = 0
    var nCjk = 0
    var nChars = 0
    var allAscii = true
    // per-code-point counters (exact for any input)
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      nChars += 1
      if (cp > 127) allAscii = false
      if (cp >= 0x4e00 && cp <= 0x9fff) nCjk += 1
      val alnum = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9')
      if (!alnum && !isSep(cp)) nNonAlnum += 1
      i += Character.charCount(cp)
    }
    // token count over the 0x20-trimmed string (run counting; exact for
    // any input because \s separators are ASCII)
    var lo = 0
    var hi = len
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    var nTokens = 0
    if (hi > lo) {
      var runs = 0
      var inRun = false
      var j = lo
      while (j < hi) {
        val sep = isSep(s.charAt(j))
        if (!sep && !inRun) { runs += 1; inRun = true }
        if (sep) inRun = false
        j += 1
      }
      nTokens = runs +
        (if (isSep(s.charAt(lo))) 1 else 0) +
        (if (isSep(s.charAt(hi - 1))) 1 else 0)
    }
    // per-language stopword hits
    val stops = new Array[Int](4)
    if (allAscii) {
      // maximal word-char runs equal to a stopword, lowercased on the fly
      var j = 0
      val sb = new java.lang.StringBuilder(maxWordLen)
      while (j < len) {
        if (isWordChar(s.charAt(j))) {
          val start = j
          while (j < len && isWordChar(s.charAt(j))) j += 1
          if (j - start <= maxWordLen) {
            sb.setLength(0)
            var p = start
            while (p < j) {
              val c = s.charAt(p)
              sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
              p += 1
            }
            val lang = wordLang.get(sb.toString)
            if (lang != null) stops(lang) += 1
          }
        } else j += 1
      }
    } else {
      // unicode lowercasing can restructure runs — use the exact builtin
      // pipeline (UTF8String.toLowerCase + java.util.regex)
      val lowered = text.toLowerCase.toString
      var li = 0
      while (li < 4) {
        val m = langPatterns(li).matcher(lowered)
        var c = 0
        while (m.find()) c += 1
        stops(li) = c
        li += 1
      }
    }
    new GenericInternalRow(Array[Any](nTokens, stops(0), stops(1), stops(2),
      stops(3), nNonAlnum, nCjk, nChars))
  }
}

/** Single-pass dedup normalization. Value contract (pinned by
  * TextFeaturesSpec against the regexp_replace chain witness):
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\s]", ""),
  * "\s+", " "))`. The kernel lowercases with the SAME builtin
  * (UTF8String.toLowerCase — so unicode restructuring cases agree by
  * construction, no fallback needed) and then applies the remove /
  * collapse / trim steps as one char scan: after the remove step only
  * [a-z0-9] and the six ASCII `\s` chars survive, so collapse+trim
  * reduce to pending-space bookkeeping. Surrogate halves of
  * supplementary code points are individually non-alnum/non-ws and drop
  * exactly like the code point the regex removes. */
object NormalizeOps {
  def normalize(text: UTF8String): UTF8String = {
    val s = text.toLowerCase.toString
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && started) out.append(' ')
        out.append(c)
        started = true
        pendingSpace = false
      } else if (c == ' ' || c == '\t' || c == '\n' || c == 0x0B ||
          c == '\f' || c == '\r') {
        if (started) pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromString(out.toString)
  }
}

case class NormalizeText(child: Expression) extends UnaryKernelCall {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"
  override def accepts: Seq[DataType] = Seq(StringType)
  override def method: String = "graft.corpus.NormalizeOps.normalize"

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

object NormalizeText {
  import org.apache.spark.sql.graft.bridge
  def toColumn(text: Column): Column =
    bridge.column(NormalizeText(bridge.expression(text)))
}

/**
 * All per-document text features in ONE codegen'd string pass
 * (SURVEY.md §7.3 — custom Expression where built-ins can't keep the hot
 * path fast): the quality/lang-id column algebra evaluates the stopword
 * alternation regex, the non-alnum class regex, the CJK class regex, and
 * two whitespace splits as SEPARATE passes per row — measured ~26 s for
 * the quality score alone on the 500k-doc probe, dominated by
 * java.util.regex. This kernel scans the string once (plus one bounded
 * run-lookup per word run) and feeds qualityScore, langId, and the
 * stopword/non-alnum ratios from one struct.
 */
case class TextFeatures(child: Expression) extends UnaryKernelCall {
  override def dataType: DataType = TextFeatures.schema
  override def prettyName: String = "text_features"
  override def accepts: Seq[DataType] = Seq(StringType)
  override def method: String = "graft.corpus.TextFeatureOps.compute"

  override protected def withNewChildInternal(newChild: Expression): TextFeatures =
    copy(child = newChild)
}

object TextFeatures {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("stop_en", IntegerType, nullable = false),
    StructField("stop_de", IntegerType, nullable = false),
    StructField("stop_fr", IntegerType, nullable = false),
    StructField("stop_es", IntegerType, nullable = false),
    StructField("n_nonalnum", IntegerType, nullable = false),
    StructField("n_cjk", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  import org.apache.spark.sql.graft.bridge
  def toColumn(text: Column): Column =
    bridge.column(TextFeatures(bridge.expression(text)))
}
