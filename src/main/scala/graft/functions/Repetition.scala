package graft.functions

import scala.collection.mutable

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

  private def codePoints(s: String): Int = s.codePointCount(0, s.length)

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

  def topNgramFrac(arr: ArrayData, n: Int): Double = {
    val toks = tokenStrings(arr)
    val len = toks.length
    var total = 0L
    var i = 0
    while (i < len) { total += codePoints(toks(i)); i += 1 }
    if (total == 0L || len < n) return 0.0
    // gram -> (count, charLen, firstPos)
    val counts = new mutable.HashMap[String, Array[Long]]()
    var u = 0
    var gl = 0L // rolling char length of the window [u, u+n)
    var j = 0
    while (j < n) { gl += codePoints(toks(j)); j += 1 }
    while (u + n <= len) {
      val rec = counts.getOrElseUpdate(gramKey(toks, u, n), Array(0L, gl, u.toLong))
      rec(0) += 1L
      if (u + n < len) gl += codePoints(toks(u + n)) - codePoints(toks(u))
      u += 1
    }
    // max by (count, charLen, -firstPos)
    var bestCnt = -1L; var bestGl = -1L; var bestPos = Long.MaxValue
    counts.valuesIterator.foreach { rec =>
      val (c, g, p) = (rec(0), rec(1), rec(2))
      if (c > bestCnt || (c == bestCnt && (g > bestGl ||
          (g == bestGl && p < bestPos)))) {
        bestCnt = c; bestGl = g; bestPos = p
      }
    }
    (bestCnt * bestGl).toDouble / total.toDouble
  }

  def dupNgramFrac(arr: ArrayData, n: Int): Double = {
    val toks = tokenStrings(arr)
    val len = toks.length
    var total = 0L
    var i = 0
    while (i < len) { total += codePoints(toks(i)); i += 1 }
    if (total == 0L || len < n) return 0.0
    val counts = new mutable.HashMap[String, Int]()
    var u = 0
    while (u + n <= len) {
      val k = gramKey(toks, u, n)
      counts.update(k, counts.getOrElse(k, 0) + 1)
      u += 1
    }
    // union of positions covered by grams with count >= 2, each word once
    val covered = new Array[Boolean](len)
    u = 0
    while (u + n <= len) {
      if (counts(gramKey(toks, u, n)) >= 2) {
        var j = 0
        while (j < n) { covered(u + j) = true; j += 1 }
      }
      u += 1
    }
    var cc = 0L
    i = 0
    while (i < len) { if (covered(i)) cc += codePoints(toks(i)); i += 1 }
    cc.toDouble / total.toDouble
  }
}
