package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** Gopher-style repetition signals (Rae et al. 2021, appendix A1.1) as
  * native per-row Expressions — the scale-correct shape for 10^12 docs: no
  * explode, no per-doc groupBy shuffle, one codegen'd pass per row.
  *
  * Two metrics over a word-token array:
  *  - `top_ngram_char_frac(tokens, n)`: the fraction of word characters
  *    covered by occurrences of the single most frequent word n-gram
  *    (Gopher applies this for n ∈ 2..4).
  *  - `dup_ngram_char_frac(tokens, n)`: the fraction of word characters
  *    covered by ANY n-gram that occurs more than once, counting each
  *    character once even when overlapping duplicate grams cover it
  *    repeatedly — the paper's "taking care not to count characters more
  *    than once" rule (Gopher applies this for n ∈ 5..10).
  *
  * Cross-engine determinism (the DuckDB oracle mirrors both):
  *  - characters are Unicode code points (DuckDB `len()`), not UTF-16 units;
  *  - separators between words are not counted — a gram's char length is the
  *    sum of its word lengths;
  *  - the top gram breaks ties by (count DESC, gram char length DESC, first
  *    occurrence ASC) — engine-neutral, no string collation involved.
  *
  * The learned quality gates in the reference consume per-doc scalar
  * signals of exactly this shape (`small_model_inference/filter.py:22`);
  * repetition is the canonical Gopher addition the north rule's
  * "Gopher/C4-style heuristic filters" family implies beyond the five
  * baseline metrics of [[graft.stages.HeuristicsScalar]].
  */
object Repetition {

  def top_ngram_char_frac(tokens: Column, n: Int): Column =
    TopNgramFrac(tokens, n)

  def dup_ngram_char_frac(tokens: Column, n: Int): Column =
    DupNgramFrac(tokens, n)

  /** The space-joined n-gram STRINGS of a token array (empty when < n
    * tokens) — one codegen'd pass; the HOF spelling
    * (`transform(sequence(...), i => array_join(slice(...)))`) is
    * CodegenFallback and ~7× slower on the vocab query.
    */
  def ngram_strings(tokens: Column, n: Int): Column = NgramStrings(tokens, n)

  private[graft] val TopNgramFrac = NativeFn("top_ngram_char_frac",
    "graft.functions.Repetition", "topNgramFrac", ArrayType(StringType),
    Some(DoubleType), Seq("n" -> (1 to Int.MaxValue)))
  private[graft] val DupNgramFrac = NativeFn("dup_ngram_char_frac",
    "graft.functions.Repetition", "dupNgramFrac", ArrayType(StringType),
    Some(DoubleType), Seq("n" -> (1 to Int.MaxValue)))
  private[graft] val NgramStrings = NativeFn("ngram_strings",
    "graft.functions.Repetition", "ngramStringsData", ArrayType(StringType),
    Some(ArrayType(StringType, containsNull = false)),
    Seq("n" -> (1 to Int.MaxValue)))

  // ---- static helpers (called from generated code) ------------------------

  private def tokenStrings(arr: ArrayData): Array[String] = {
    val len = arr.numElements()
    val out = new Array[String](len)
    var i = 0
    while (i < len) {
      out(i) = if (arr.isNullAt(i)) "" else arr.getUTF8String(i).toString
      i += 1
    }
    out
  }

  /** Gram key for identity: tokens joined by a space — unambiguous because
    * the tokens are whitespace-split words and cannot contain one.
    */
  private def gramKey(toks: Array[String], u: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(toks(u))
    var j = 1
    while (j < n) { sb.append(' ').append(toks(u + j)); j += 1 }
    sb.toString
  }

  def ngramStringsData(arr: ArrayData, n: Int): ArrayData = {
    val toks = tokenStrings(arr)
    val len = toks.length
    if (len < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var u = 0
    while (u + n <= len) {
      out(u) = org.apache.spark.unsafe.types.UTF8String
        .fromString(gramKey(toks, u, n))
      u += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The one pass both metrics read. `cps(i)` is the code points of
    * tokens [0, i), so a window's char length is a difference and
    * `cps(len)` is the doc's word chars. When the doc has word chars and at
    * least n tokens, each window's gram key is built once and mapped to its
    * first occurrence: `first(u)` is that position for window u, and
    * `count(f)` is how often the gram first seen at f occurs (0 at other
    * positions). The map is a `java.util.HashMap`, whose bins turn into
    * trees for `Comparable` keys: grams with one `String.hashCode` (the
    * `Aa`/`BB` family) cost O(log n) each, not a walk of one chain.
    */
  private final class Occurrences(arr: ArrayData, n: Int) {
    private val toks = tokenStrings(arr)
    val cps: Array[Long] = new Array[Long](toks.length + 1)
    locally {
      var i = 0
      while (i < toks.length) {
        cps(i + 1) = cps(i) + toks(i).codePointCount(0, toks(i).length)
        i += 1
      }
    }
    val total: Long = cps(toks.length)
    val windows: Int = if (total == 0L) 0 else math.max(toks.length - n + 1, 0)
    val first: Array[Int] = new Array[Int](windows)
    val count: Array[Int] = new Array[Int](windows)
    locally {
      val seen = new java.util.HashMap[String, Integer](windows * 2)
      var u = 0
      while (u < windows) {
        val f = seen.putIfAbsent(gramKey(toks, u, n), u)
        first(u) = if (f == null) u else f.intValue
        count(first(u)) += 1
        u += 1
      }
    }
  }

  def topNgramFrac(arr: ArrayData, n: Int): Double = {
    val o = new Occurrences(arr, n)
    if (o.windows == 0) return 0.0
    // max by (count, charLen, -firstPos): first occurrences visited in
    // position order with a strict "better" test keep the earliest on a tie
    var bestCnt = 0L; var bestGl = 0L
    var u = 0
    while (u < o.windows) {
      if (o.first(u) == u) {
        val c = o.count(u).toLong
        val g = o.cps(u + n) - o.cps(u)
        if (c > bestCnt || (c == bestCnt && g > bestGl)) { bestCnt = c; bestGl = g }
      }
      u += 1
    }
    (bestCnt * bestGl).toDouble / o.total.toDouble
  }

  def dupNgramFrac(arr: ArrayData, n: Int): Double = {
    val o = new Occurrences(arr, n)
    if (o.windows == 0) return 0.0
    // union of the windows whose gram occurs twice or more, each word once:
    // windows come in position order, so only the part past the last
    // covered word is new
    var cc = 0L
    var coveredTo = 0
    var u = 0
    while (u < o.windows) {
      if (o.count(o.first(u)) >= 2) {
        cc += o.cps(u + n) - o.cps(math.max(u, coveredTo))
        coveredTo = u + n
      }
      u += 1
    }
    cc.toDouble / o.total.toDouble
  }
}
