package graft.stages

import java.util.Locale

import graft.functions.ArrayMath
import graft.synth.{Corpus, Det}

/** N1 — fastText-style language-ID model: hashed character n-gram (2..4)
  * features → linear score → sigmoid softmax over {ron, other}.
  *
  * The weight vector is a deterministic, quantized constant built from
  * committed marker lexicons (Romanian diacritics/suffixes/stopwords
  * positive; English/Hungarian markers negative) — no training run, no I/O,
  * identical on every JVM (FIXTURES.md §5). It is broadcast by the pipeline
  * (flat Float array, ~1 MiB at 2^18 buckets) and dereferenced once per
  * partition inside the fused `mapPartitions` scorer.
  *
  * Reference dataflow analogue: upstream fastText `language_score`/
  * `top_langs` consumption (`fineweb/fineweb2_download.py:21-23`) and the
  * JQL embed+head scoring shape (`ro_vs_eng/fineweb2_jql.py:13-23`).
  */
object LangIdModel extends Serializable {
  val Bits = 18
  val NumBuckets: Int = 1 << Bits
  private val Mask = NumBuckets - 1
  /** Quantization step for weights — scores become partition-invariant. */
  private val Q = 1.0f / 64.0f
  private val HashSalt = 0x9e3779b97f4a7c15L

  /** Romanian marker n-gram sources: diacritics, characteristic suffixes,
    * function words (padded with spaces so word-boundary grams fire).
    */
  private val roMarkers: Array[String] =
    Array("ă", "â", "î", "ș", "ț", "ul ", "ului ", "ție", "ează", "ește",
      "ilor ", "ăți", "ână", "știi", " să ", " și ", " în ", " cu ", " la ",
      " de ", " pe ", " este ", " sunt ", " care ", " pentru ", " din ",
      " două ", "oară", "esc ", "ică ") ++
      Corpus.roStopwords.map(w => " " + w + " ")

  private val enMarkers: Array[String] =
    Array(" the ", " of ", " and ", " to ", " is ", " that ", " with ",
      " for ", " this ", " have ", "ing ", "tion ", " th", "wh", " w",
      "ck", "gh", "sh ", "oo", "ee") ++
      Corpus.enWords.take(40).map(w => " " + w + " ")

  private val huMarkers: Array[String] =
    Array(" az ", " és ", " hogy ", " nem ", " egy ", " meg ", "gy", "sz",
      "ö", "ü", "ő", "ű", " el ", " volt ") ++
      Corpus.huWords.take(25).map(w => " " + w + " ")

  private val otherMarkers: Array[String] = enMarkers ++ huMarkers

  def bucket(s: CharSequence, from: Int, until: Int): Int =
    (Det.hashString(s, from, until, HashSalt) & Mask).toInt

  private def addNgrams(w: Array[Float], s: String, delta: Float): Unit = {
    val padded = s
    var n = Grams.MinN
    while (n <= Grams.MaxN) {
      var i = 0
      while (i + n <= padded.length) {
        w(bucket(padded, i, i + n)) += delta
        i += 1
      }
      n += 1
    }
  }

  /** A quantized weight vector: each (markers, delta) part's n-grams are
    * added in the given order, then every weight is rounded to the `Q`
    * grid.
    */
  private def buildWeights(parts: (Array[String], Float)*): Array[Float] = {
    val w = new Array[Float](NumBuckets)
    for ((markers, delta) <- parts) markers.foreach(m => addNgrams(w, m, delta))
    var i = 0
    while (i < w.length) { w(i) = math.round(w(i) / Q) * Q; i += 1 }
    w
  }

  /** The committed quantized weight vector. Built once per JVM. */
  lazy val weights: Array[Float] =
    buildWeights(roMarkers -> 1.0f, otherMarkers -> -1.2f)

  /** Max chars of text scored per doc — bounds cost on pathological pages
    * (mirrors the reference's context caps, e.g. 2048 tokens at
    * `ro_vs_eng/inference_dataset.py:124`).
    */
  val MaxChars = 4000

  /** Linear score: mean hashed-n-gram weight over the (padded, lowercased)
    * prefix. Pure per-row Float math in a fixed order ⇒ deterministic.
    * Tokenization is the shared [[Grams]] stream.
    */
  def rawScore(text: String, w: Array[Float]): Float = {
    var sum = 0.0f
    val count =
      Grams.foreachBucket(text, MaxChars, HashSalt, Mask.toLong)(sum += w(_))
    if (count == 0) 0.0f else sum / count
  }

  /** Sigmoid with a fixed gain; conf of the "ron" class. */
  def confidence(raw: Float): Double = 1.0 / (1.0 + math.exp(-18.0 * raw))

  def predict(text: String, w: Array[Float]): (String, Double) = {
    val conf = confidence(rawScore(text, w))
    if (conf >= 0.5) ("ron", conf) else ("other", 1.0 - conf)
  }

  // --- multi-language top_langs (reference metadata field:
  //     `fineweb/fineweb2_download.py:23`, a JSON map of fastText
  //     "<lang>_<Script>_score" → probability; dataset_upload.py:31 keeps it
  //     as a string) — one per-language marker weight vector over the same
  //     hashed bucket space, softmax over the mean scores -----------------

  /** Languages with committed marker lexicons, fineweb2 label format. */
  val MultiLangs: Array[String] = Array("ron_Latn", "eng_Latn", "hun_Latn")

  /** One quantized weight vector per language in [[MultiLangs]] order. */
  lazy val multiWeights: Array[Array[Float]] =
    Array(roMarkers, enMarkers, huMarkers).map(m => buildWeights(m -> 1.0f))

  private val MultiGain = 60.0

  /** Per-language probabilities, ONE pass over the n-gram stream (all
    * language accumulators advance together), softmax over mean marker
    * scores. Returns (label, prob) sorted prob-desc, label tiebreak.
    */
  def topLangs(text: String,
      lw: Array[Array[Float]] = multiWeights): Seq[(String, Double)] = {
    val sums = new Array[Double](lw.length)
    val count = Grams.foreachBucket(text, MaxChars, HashSalt, Mask.toLong) { b =>
      var l = 0
      while (l < lw.length) { sums(l) += lw(l)(b); l += 1 }
    }
    val logits = sums.map(s => if (count == 0) 0.0 else MultiGain * s / count)
    MultiLangs.zip(ArrayMath.softmax(logits))
      .sortBy { case (l, p) => (-p, l) }.toSeq
  }

  /** fineweb2-style JSON string, entries prob-desc, 4 decimals:
    * `{"ron_Latn_score": 0.9731, ...}`. Formatted in `Locale.ROOT`: a
    * default locale with a decimal comma would emit invalid JSON.
    */
  def topLangsJson(tl: Seq[(String, Double)]): String =
    tl.map { case (l, p) => "\"%s_score\": %.4f".formatLocal(Locale.ROOT, l, p) }
      .mkString("{", ", ", "}")
}
