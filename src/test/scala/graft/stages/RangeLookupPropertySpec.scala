package graft.stages

import java.util.Locale

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tokenize.isWordCp
import graft.synth.Corpus

/** The range lookups of the fused scorer against the allocating
  * definitions they replace: [[HeuristicsScalar.isStopword]] against
  * `stopwords.contains(normForStopword(…))`, [[PerplexityModel.tokenId]]
  * against `wordId(normToken(…))`, and [[HeuristicsScalar.compute]]
  * against a split-and-set reference. The generated text mixes the chars
  * where per-char lowering and `toLowerCase(Locale.ROOT)` part (`İ`, `Σ`,
  * surrogate pairs) with the ones where the whitespace, letter and `(?U)\w`
  * predicates part (ZWNJ/ZWJ, `Ⅰ`, U+001C-U+001F, U+2028, NBSP).
  */
class RangeLookupPropertySpec extends AnyFunSuite {

  /** Lowercased (?U)\W-edge-trimmed token: the trim walks code points
    * with [[graft.functions.Tokenize.isWordCp]], the lowering is per char.
    */
  private def normForStopword(s: String, from: Int, until: Int): String = {
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

  private val stopwords: Set[String] = Corpus.roStopwords.toSet

  /** Words that only `toLowerCase(Locale.ROOT)` produces (`i̇`, final
    * `ς`, a Deseret small letter inside a word) next to their per-char
    * twins: in the vocabulary of the second model, each fallback decides
    * an id.
    */
  private val trapWords = Seq("in", "i\u0307n", "a\u03C3", "a\u03C2", "\u03C3a",
    "a\uD801\uDC00a", "a\uD801\uDC28a")

  /** The committed model, and one with [[trapWords]] added. */
  private val models: Seq[PerplexityModel] = {
    val v = Corpus.roVocab ++ trapWords
    val base = PerplexityModel.default
    Seq(base, new PerplexityModel(v, new Array[Long]((v.length * v.length + 63) / 64),
      base.uniLogProb, base.chainLogProb, base.backoffLogProb, base.oovLogProb))
  }

  private def refId(lm: PerplexityModel, s: String, from: Int, until: Int): Int = {
    val n = lm.normToken(s.substring(from, until))
    if (n.isEmpty) PerplexityModel.NoToken else lm.wordId(n)
  }

  /** Case variants of each char, the trap chars among them (U+DC00 is the
    * low half of the Deseret capital of U+10428).
    */
  private val variants: Map[Char, String] =
    Map('i' -> "iIİı", 's' -> "sSΣ", 'a' -> "aAΣ", 'σ' -> "σΣ", 'ς' -> "ςΣ",
      '\uDC28' -> "\uDC28\uDC00").withDefault(c => s"$c${c.toUpper}")

  private val word: Gen[String] = for {
    w <- Gen.oneOf(Corpus.roVocab.toSeq ++ trapWords)
    cased <- Gen.sequence[List[Char], Char](w.map(c => Gen.oneOf(variants(c).toSeq)))
  } yield cased.mkString

  private val odd: Gen[String] = Gen.oneOf(
    "İ", "Σ", "σ", "ς", "ı", "\uD835\uDC00", "\uD801\uDC00", "\uD801\uDC28", "🙂",
    "\uD83D", "\uDE42", "\u200C", "\u200D", "Ⅰ", "\u001C", "\u001D", "\u001E",
    "\u001F", "\u2028", "\u00A0", "\u0301", "\u0307", "\u203F", ".", ",", "(", ")",
    "-", "_", "#", "1", "٣")

  private val token: Gen[String] = Gen.choose(1, 4).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(3 -> word, 2 -> odd)).map(_.mkString))

  private val separator: Gen[String] =
    Gen.oneOf(" ", " ", " ", "  ", "\t", "\r", "\u000B", "\f", "\u00A0", "\u2028",
      "\u001C", "\u001F", "")

  private val line: Gen[String] = Gen.frequency(
    8 -> Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.zip(token, separator)).map(_.map { case (t, s) => t + s }.mkString)),
    1 -> Gen.oneOf("", " ", "   ", "\t", " \r"))

  /** Lines joined by '\n'; about a third repeat an earlier line, and up to
    * 300 lines grow the per-thread line table past its first size.
    */
  private val doc: Gen[String] = for {
    n <- Gen.frequency(6 -> Gen.choose(0, 12), 1 -> Gen.choose(100, 300))
    fresh <- Gen.listOfN(n, line)
    picks <- Gen.listOfN(n, Gen.choose(0, 2))
  } yield fresh.zip(picks).zipWithIndex.map { case ((l, p), k) =>
    if (p == 0 && k > 0) fresh(k / 2) else l }.mkString("\n")

  private def check(prop: Prop, n: Int): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(Seed(20261019L)),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }

  private def underLocales(body: => Unit): Unit = {
    val default = Locale.getDefault
    try Seq(Locale.ROOT, Locale.forLanguageTag("tr-TR")).foreach { l =>
      Locale.setDefault(l); body
    } finally Locale.setDefault(default)
  }

  test("range stopword hit and vocab id equal the allocating definitions (also under tr-TR)") {
    val prop = Prop.forAllNoShrink(token, token, token) { (pre, t, post) =>
      val s = pre + t + post
      val (from, until) = (pre.length, pre.length + t.length)
      val sw = HeuristicsScalar.isStopword(s, from, until)
      val swRef = stopwords.contains(normForStopword(s, from, until))
      val ids = models.map(_.tokenId(s, from, until))
      val idsRef = models.map(refId(_, s, from, until))
      (sw == swRef && ids == idsRef) :|
        s"token=${t.map(c => f"U+${c.toInt}%04X").mkString(" ")} in ${s.length} chars: " +
          s"stopword $sw/$swRef, ids $ids/$idsRef"
    }
    underLocales(check(prop, 3000))
  }

  test("compute and perplexity equal split-and-set references on generated docs") {
    val lm = PerplexityModel.default
    def heuristicsRef(t: String): HeuristicsScalar.Metrics = {
      val words = t.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
      val lines = t.split("\n", -1).filter(_.exists(_ != ' '))
      val dups = lines.length - lines.distinct.length
      val dupFrac = if (lines.isEmpty) 0.0 else dups.toDouble / lines.length
      if (words.isEmpty) HeuristicsScalar.Metrics(0, 0.0, 0.0, 0.0, dupFrac)
      else HeuristicsScalar.Metrics(words.length,
        words.map(w => w.codePointCount(0, w.length).toLong).sum.toDouble / words.length,
        t.count("#@$%^&*()_+=[]{}|<>~".contains(_)).toDouble / words.length,
        words.count(w => stopwords.contains(normForStopword(w, 0, w.length))).toDouble / words.length,
        dupFrac)
    }
    def perplexityRef(t: String): Double = {
      val tokens = Seq.newBuilder[String]
      var start = 0
      (0 to t.length).foreach { i =>
        if (i == t.length || Character.isWhitespace(t.charAt(i))) {
          if (i > start) tokens += t.substring(start, i)
          start = i + 1
        }
      }
      val ids = tokens.result().map(lm.normToken).filter(_.nonEmpty).take(2048).map(lm.wordId)
      var sum = 0.0f
      var prev = -1
      ids.foreach { id =>
        sum += (if (id < 0) lm.oovLogProb else if (prev < 0) lm.uniLogProb
          else if (lm.hasBigram(prev, id)) lm.chainLogProb else lm.backoffLogProb)
        prev = id
      }
      if (ids.isEmpty) math.exp(-lm.oovLogProb) else math.exp(-(sum / ids.length))
    }
    val prop = Prop.forAllNoShrink(doc) { t =>
      val (h, hRef) = (HeuristicsScalar.compute(t), heuristicsRef(t))
      val (p, pRef) = (lm.perplexity(t), perplexityRef(t))
      (h == hRef && p == pRef) :| s"doc of ${t.length} chars: $h / $hRef, ppl $p / $pRef"
    }
    underLocales(check(prop, 600))
  }

  test("per-char lowering equals toLowerCase(Locale.ROOT) on every BMP char but U+0130; " +
    "U+03A3 depends on context") {
    val differ = (0 to 0xFFFF).filterNot(c => Character.isSurrogate(c.toChar)).filter { c =>
      val ch = c.toChar
      String.valueOf(ch).toLowerCase(Locale.ROOT) != String.valueOf(Character.toLowerCase(ch))
    }
    assert(differ == Seq(0x130))
    assert("A\u03A3".toLowerCase(Locale.ROOT) == "a\u03C2")
    assert(Character.toLowerCase('\u03A3') == '\u03C3')
  }
}
