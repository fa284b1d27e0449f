package graft.stages

import graft.functions.Tokenize.isAsciiSpace
import graft.stages.CharTable.isWordCp
import graft.synth.{Corpus, Det}

/** Single-pass scalar implementation of the N3 heuristic metrics, used
  * inside the fused `mapPartitions` scorer.
  *
  * Why not a Column version in the hot path: Catalyst higher-order
  * functions (`filter`/`aggregate`/`transform`) are CodegenFallback, so the
  * heuristic Project would run interpreted and re-tokenize the text once per
  * metric (~7 splits/doc). This computes all five metrics in one walk over
  * the text. The declarative Column twin, `graft.stages.Heuristics`, lives
  * in test scope as the reference of HeuristicsParitySpec.
  *
  * Semantics are identical to that twin on NFC text with ASCII
  * whitespace: tokens split on java-regex `\s` (ASCII), word lengths in
  * code points, stopword match on the `(?U)\W`-trimmed lowercased token,
  * duplicate lines on raw line strings with blank (space-only) lines
  * excluded.
  *
  * Allocation-free per doc (bar the returned `Metrics`): stopwords are
  * looked up straight from a char range of the text ([[isStopword]]), and
  * duplicate lines are found by a 64-bit range hash in a reused per-thread
  * table with an exact `regionMatches` on a hash hit. Per-char predicates
  * go through [[CharTable]].
  */
object HeuristicsScalar {

  final case class Metrics(
      docLenWords: Int,
      meanWordLen: Double,
      symbolWordRatio: Double,
      stopwordFrac: Double,
      dupLineFrac: Double
  )

  private val stopwords = new WordTable(Corpus.roStopwords)

  private val symbolChars: Array[Boolean] = {
    val a = new Array[Boolean](128)
    "#@$%^&*()_+=[]{}|<>~".foreach(c => a(c) = true)
    a
  }

  /** True iff `s[from, until)`, trimmed of `(?U)\W` edges and lowercased
    * per char with `Character.toLowerCase(char)`, is a stopword. The trim
    * walks code points with [[graft.functions.Tokenize.isWordCp]], the one
    * `(?U)\w` predicate (TokenizeParitySpec pins it against the regex);
    * the lookup is [[WordTable.find]].
    */
  def isStopword(s: String, from: Int, until: Int): Boolean = {
    var a = from
    while (a < until && !isWordCp(s.codePointAt(a)))
      a += Character.charCount(s.codePointAt(a))
    var b = until
    while (b > a && !isWordCp(s.codePointBefore(b)))
      b -= Character.charCount(s.codePointBefore(b))
    stopwords.find(s, a, b) >= 0
  }

  private final val FnvBasis = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** The distinct non-blank lines of one doc, as (64-bit hash, start,
    * length) ranges of its text: open addressing at most half full. A slot
    * is live iff it carries the current generation, so starting a doc
    * costs one increment, not a clear.
    */
  private final class LineSet {
    private var hashes = new Array[Long](256)
    private var starts = new Array[Int](256)
    private var lens = new Array[Int](256)
    private var gens = new Array[Int](256)
    private var gen = 1
    private var size = 0

    def clear(): Unit = {
      gen += 1
      if (gen == 0) { java.util.Arrays.fill(gens, 0); gen = 1 }
      size = 0
    }

    /** True iff `text[start, start + len)` (hash `h`) was added since the
      * last `clear`; adds it otherwise.
      */
    def addIsDup(text: String, h: Long, start: Int, len: Int): Boolean = {
      val mask = gens.length - 1
      var s = Det.mix64(h).toInt & mask
      while (gens(s) == gen) {
        if (hashes(s) == h && lens(s) == len &&
            text.regionMatches(starts(s), text, start, len)) return true
        s = (s + 1) & mask
      }
      hashes(s) = h; starts(s) = start; lens(s) = len; gens(s) = gen
      size += 1
      if (2 * size > mask) grow()
      false
    }

    private def grow(): Unit = {
      val oh = hashes
      val os = starts
      val ol = lens
      val og = gens
      val cap = 2 * og.length
      hashes = new Array[Long](cap); starts = new Array[Int](cap)
      lens = new Array[Int](cap); gens = new Array[Int](cap)
      var i = 0
      while (i < og.length) {
        if (og(i) == gen) {
          var s = Det.mix64(oh(i)).toInt & (cap - 1)
          while (gens(s) == gen) s = (s + 1) & (cap - 1)
          hashes(s) = oh(i); starts(s) = os(i); lens(s) = ol(i); gens(s) = gen
        }
        i += 1
      }
    }
  }

  // executor task threads each get their own
  private val lineSet = new ThreadLocal[LineSet] {
    override def initialValue(): LineSet = new LineSet
  }

  /** One walk over the text: words (count, code-point length, symbols,
    * stopword hits) and lines (non-blank count, duplicates) together.
    */
  def compute(text: String): Metrics = {
    if (text == null || text.isEmpty) return Metrics(0, 0.0, 0.0, 0.0, 0.0)
    val n = text.length
    val seen = lineSet.get()
    seen.clear()
    var words = 0
    var totalWordLen = 0L
    var stopHits = 0
    var symbols = 0
    var lineCount = 0
    var dupCount = 0
    var lineStart = 0
    var lineHash = FnvBasis
    // Spark's trim() strips only ' ': a line is blank iff all spaces
    var blank = true
    var i = 0
    while (i <= n) {
      val c = if (i < n) text.charAt(i) else '\n'
      if (c == '\n') {
        if (!blank) {
          lineCount += 1
          if (seen.addIsDup(text, lineHash, lineStart, i - lineStart)) dupCount += 1
        }
        lineStart = i + 1
        lineHash = FnvBasis
        blank = true
        i += 1
      } else if (isAsciiSpace(c)) {
        if (c != ' ') blank = false
        lineHash = (lineHash ^ c) * FnvPrime
        i += 1
      } else {
        blank = false
        val start = i
        // word length in code points, as Spark's `length`: a surrogate
        // pair counts once
        var pairs = 0
        while (i < n && !isAsciiSpace(text.charAt(i))) {
          val cc = text.charAt(i)
          lineHash = (lineHash ^ cc) * FnvPrime
          if (cc < 128) { if (symbolChars(cc)) symbols += 1 }
          else if (Character.isLowSurrogate(cc) && i > start &&
              Character.isHighSurrogate(text.charAt(i - 1))) pairs += 1
          i += 1
        }
        words += 1
        totalWordLen += (i - start - pairs)
        if (isStopword(text, start, i)) stopHits += 1
      }
    }
    val dupLineFrac = if (lineCount == 0) 0.0 else dupCount.toDouble / lineCount
    if (words == 0) Metrics(0, 0.0, 0.0, 0.0, dupLineFrac)
    else Metrics(
      words,
      totalWordLen.toDouble / words,
      symbols.toDouble / words,
      stopHits.toDouble / words,
      dupLineFrac)
  }
}
