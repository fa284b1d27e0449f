package graft.stages

import graft.functions.Tokenize.isWordCp
import graft.synth.Corpus

/** Single-pass scalar implementation of the N3 heuristic metrics, used
  * inside the fused `mapPartitions` scorer.
  *
  * Why not the Column version in the hot path: Catalyst higher-order
  * functions (`filter`/`aggregate`/`transform`) are CodegenFallback, so the
  * heuristic Project runs interpreted and re-tokenizes the text once per
  * metric (~7 splits/doc). This computes all five metrics in one tokenizer
  * pass; [[Heuristics]] remains the declarative equivalent (cross-validated
  * in HeuristicsParitySpec) for SQL-surface use.
  *
  * Semantics are identical to [[Heuristics]] on NFC text with ASCII
  * whitespace: tokens split on java-regex `\s` (ASCII), word lengths in
  * code points, stopword match on the `(?U)\W`-trimmed lowercased token,
  * duplicate lines on raw line strings with blank (space-only) lines
  * excluded.
  */
object HeuristicsScalar {

  final case class Metrics(
      docLenWords: Int,
      meanWordLen: Double,
      symbolWordRatio: Double,
      stopwordFrac: Double,
      dupLineFrac: Double
  )

  private val stopwords: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](256)
    Corpus.roStopwords.foreach(s.add)
    s
  }

  private val symbolChars: Array[Boolean] = {
    val a = new Array[Boolean](128)
    "#@$%^&*()_+=[]{}|<>~".foreach(c => a(c) = true)
    a
  }

  // ASCII \s of java.util.regex: [ \t\n\x0B\f\r]
  @inline private def isSpaceAscii(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Lowercased (?U)\W-edge-trimmed token. The trim walks code points
    * with [[graft.functions.Tokenize.isWordCp]], the one `(?U)\w`
    * predicate (TokenizeParitySpec pins it against the regex).
    */
  def normForStopword(s: String, from: Int, until: Int): String = {
    var a = from
    while (a < until && !isWordCp(s.codePointAt(a)))
      a += Character.charCount(s.codePointAt(a))
    var b = until
    while (b > a && !isWordCp(s.codePointBefore(b)))
      b -= Character.charCount(s.codePointBefore(b))
    if (a >= b) return ""
    val sb = new java.lang.StringBuilder(b - a)
    var i = a
    while (i < b) { sb.append(Character.toLowerCase(s.charAt(i))); i += 1 }
    sb.toString
  }

  def compute(text: String): Metrics = {
    if (text == null || text.isEmpty) return Metrics(0, 0.0, 0.0, 0.0, 0.0)
    val n = text.length
    // word pass: count + total length + stopword hits; symbols counted inline
    var words = 0
    var totalWordLen = 0L
    var stopHits = 0
    var symbols = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (isSpaceAscii(c)) i += 1
      else {
        val start = i
        // word length in code points, as Spark's `length`: a surrogate
        // pair counts once
        var pairs = 0
        while (i < n && !isSpaceAscii(text.charAt(i))) {
          val cc = text.charAt(i)
          if (cc < 128) { if (symbolChars(cc)) symbols += 1 }
          else if (Character.isLowSurrogate(cc) && i > start &&
              Character.isHighSurrogate(text.charAt(i - 1))) pairs += 1
          i += 1
        }
        words += 1
        totalWordLen += (i - start - pairs)
        if (stopwords.contains(normForStopword(text, start, i))) stopHits += 1
      }
    }
    // duplicate-line fraction over non-blank (space-trimmed) raw lines
    var lineCount = 0
    var dupCount = 0
    var seen: java.util.HashSet[String] = null
    var lineStart = 0
    var j = 0
    while (j <= n) {
      if (j == n || text.charAt(j) == '\n') {
        // Spark's trim() strips only ' ': a line is blank iff all spaces
        var k = lineStart
        var blank = true
        while (blank && k < j) { if (text.charAt(k) != ' ') blank = false; k += 1 }
        if (!blank) {
          if (seen == null) seen = new java.util.HashSet[String]()
          lineCount += 1
          if (!seen.add(text.substring(lineStart, j))) dupCount += 1
        }
        lineStart = j + 1
      }
      j += 1
    }
    if (words == 0) Metrics(0, 0.0, 0.0, 0.0,
      if (lineCount == 0) 0.0 else dupCount.toDouble / lineCount)
    else Metrics(
      words,
      totalWordLen.toDouble / words,
      symbols.toDouble / words,
      stopHits.toDouble / words,
      if (lineCount == 0) 0.0 else dupCount.toDouble / lineCount)
  }
}
