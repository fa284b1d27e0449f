package graft.stages

import java.util.Locale

import graft.stages.CharTable.{isLetter, isWhitespace}
import graft.synth.Corpus

/** N2 — KenLM-style n-gram (bigram + unigram backoff) language model with
  * quantized log-probs, stored as flat arrays for cheap broadcast:
  * a word→id open-addressing hash table and a V×V bigram-membership bitset
  * (~8 KiB). Perplexity = exp(−mean log p), accumulated per-row in Float in
  * a fixed order ⇒ partition-invariant (FIXTURES.md §5 determinism).
  *
  * The token walk allocates nothing: each whitespace token is trimmed and
  * looked up straight from its char range of the text ([[tokenId]]), and
  * the per-char predicates come from [[CharTable]]. Those tables live in
  * objects, so the broadcast payload is the model's own fields and nothing
  * more.
  *
  * Replaces the reference's continuous quality `score` consumed by the
  * threshold filter (`small_model_inference/small_model_inference.py:40-95`,
  * filter at `small_model_inference/filter.py:22`) with a deterministic
  * from-scratch scorer, per the north rule.
  */
final class PerplexityModel(
    val vocab: Array[String],
    val bigramBits: Array[Long],
    val uniLogProb: Float,
    val chainLogProb: Float,
    val backoffLogProb: Float,
    val oovLogProb: Float
) extends Serializable {
  private val V = vocab.length
  private val words = new WordTable(vocab)

  /** Id of the vocabulary word equal to `w`, or −1. */
  def wordId(w: String): Int = {
    val id = words.find(w, 0, w.length)
    // find lowers per char: a `w` with a char it changes is no lowercase word
    if (id >= 0 && vocab(id) == w) id else -1
  }

  def hasBigram(w1: Int, w2: Int): Boolean = {
    val bit = w1 * V + w2
    (bigramBits(bit >>> 6) & (1L << (bit & 63))) != 0
  }

  /** Strip non-letter edges + lowercase — the LM's token normalization.
    * `Locale.ROOT`: under a default locale such as tr-TR, "I" would fold to
    * the dotless "ı" and capitalised words would fall out of vocabulary.
    */
  def normToken(raw: String): String = {
    var a = 0
    var b = raw.length
    while (a < b && !isLetter(raw.charAt(a))) a += 1
    while (b > a && !isLetter(raw.charAt(b - 1))) b -= 1
    if (a == 0 && b == raw.length) raw.toLowerCase(Locale.ROOT)
    else raw.substring(a, b).toLowerCase(Locale.ROOT)
  }

  /** `wordId(normToken(text.substring(from, until)))`, read straight from
    * the text, or [[PerplexityModel.NoToken]] when the trim leaves nothing.
    * The trimmed range is looked up in the word table lowered per char,
    * which equals `toLowerCase(Locale.ROOT)` except on `İ` (two chars),
    * `Σ` (final sigma depends on context) and surrogates (lowered by code
    * point); a range holding any of these takes `normToken` + `wordId`.
    */
  def tokenId(text: String, from: Int, until: Int): Int = {
    var a = from
    var b = until
    while (a < b && !isLetter(text.charAt(a))) a += 1
    while (b > a && !isLetter(text.charAt(b - 1))) b -= 1
    if (a == b) return PerplexityModel.NoToken
    var i = a
    while (i < b) {
      val c = text.charAt(i)
      if (c == '\u0130' || c == '\u03A3' || Character.isSurrogate(c))
        return wordId(normToken(text.substring(from, until)))
      i += 1
    }
    words.find(text, a, b)
  }

  /** Perplexity over the first [[PerplexityModel.MaxTokens]] whitespace
    * tokens; empty/whitespace text gets the OOV worst case (mirrors C6:
    * degenerate inputs stay in-band, never throw).
    */
  def perplexity(text: String): Double = {
    if (text == null) return math.exp(-oovLogProb)
    var sum = 0.0f
    var n = 0
    var prev = -1
    var i = 0
    val len = text.length
    while (i < len && n < PerplexityModel.MaxTokens) {
      while (i < len && isWhitespace(text.charAt(i))) i += 1
      val start = i
      while (i < len && !isWhitespace(text.charAt(i))) i += 1
      if (i > start) {
        val id = tokenId(text, start, i)
        if (id != PerplexityModel.NoToken) {
          val lp =
            if (id < 0) oovLogProb
            else if (prev < 0) uniLogProb
            else if (hasBigram(prev, id)) chainLogProb
            else backoffLogProb
          sum += lp
          n += 1
          prev = id
        }
      }
    }
    if (n == 0) math.exp(-oovLogProb) else math.exp(-(sum / n))
  }
}

object PerplexityModel {
  /** [[PerplexityModel.tokenId]] of a range with no letter: not a token. */
  final val NoToken = -2

  /** Tokens [[PerplexityModel.perplexity]] scores; the rest of a longer
    * text is not read.
    */
  final val MaxTokens = 2048

  /** The committed model derived from the corpus bigram chain. */
  lazy val default: PerplexityModel = {
    val v = Corpus.roVocab
    val bits = new Array[Long]((v.length * v.length + 63) / 64)
    var i = 0
    while (i < v.length) {
      val succ = Corpus.successors(i)
      var j = 0
      while (j < succ.length) {
        val bit = i * v.length + succ(j)
        bits(bit >>> 6) |= 1L << (bit & 63)
        j += 1
      }
      i += 1
    }
    new PerplexityModel(v, bits, Corpus.uniLogProb, Corpus.chainLogProb,
      Corpus.backoffLogProb, Corpus.oovLogProb)
  }
}
