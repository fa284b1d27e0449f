package graft.stages

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Repetition, Tokenize}
import graft.synth.Corpus

/** Every per-document scorer is linear time on adversarial input: the
  * [[LinearTimeBound]] on the shapes that break a careless scorer (one
  * huge line, many duplicate or distinct lines, surrogates only, stopwords
  * only), and on word arrays whose n-grams all share one `String.hashCode`.
  */
class ScorerLinearitySpec extends LinearTimeBound {
  private def fill(unit: String)(len: Int): String = unit * (len / unit.length)

  /** Text shapes, each a function of its length in chars. */
  private val shapes: Seq[(String, Int => String)] = Seq(
    ("one line, no spaces", fill("abcdefghijklmnopqrstuvwxyz")),
    ("duplicate 10-char lines (10^5 at 1 MB)", fill("linie dup\n")),
    ("distinct 10-char lines (10^5 at 1 MB)",
      len => (0 until len / 10).map(i => f"l$i%08d\n").mkString),
    ("surrogate pairs only", fill("𝐀😀𐐀")),
    ("stopwords only", fill(Corpus.roStopwords.mkString("", " ", " "))))

  private val lm = PerplexityModel.default
  private val scorers: Seq[(String, String => Any)] = Seq(
    ("HeuristicsScalar.compute", HeuristicsScalar.compute),
    ("LangIdModel.predict", LangIdModel.predict(_, LangIdModel.weights)),
    ("PerplexityModel.perplexity", lm.perplexity),
    ("Tokenize.wordsWs", t => Tokenize.wordsWs(UTF8String.fromString(t))))

  for ((scorer, run) <- scorers)
    test(s"$scorer is linear on adversarial text shapes") {
      shapes.foreach { case (shape, make) =>
        assertLinear(s"$scorer, $shape", make(SmallLen), make(BigLen))(run)
      }
    }

  /** The word array of a text of about `len` bytes: m distinct tokens of
    * 16 `Aa`/`BB` blocks (33 bytes a token with its space), then the same
    * m again. Every token, and so every n-gram key, has one
    * `String.hashCode`.
    */
  private def collidingTokens(len: Int): GenericArrayData = {
    val m = len / 33 / 2
    val toks = Array.tabulate(m) { i =>
      (0 until 16).map(b => if ((i >> b & 1) == 0) "Aa" else "BB").mkString
    }
    assert(toks.map(_.hashCode).distinct.length == 1)
    new GenericArrayData((toks ++ toks).map(UTF8String.fromString).toArray[Any])
  }

  test("Repetition.topNgramFrac and dupNgramFrac are linear on colliding n-grams, n = 1..3") {
    val (small, big) = (collidingTokens(SmallLen), collidingTokens(BigLen))
    val m = big.numElements() / 2
    for (n <- 1 to 3) {
      // every gram inside a half occurs twice: top covers two of them and
      // the duplicates cover every word
      assert(math.abs(Repetition.topNgramFrac(big, n) - n.toDouble / m) < 1e-12)
      assert(Repetition.dupNgramFrac(big, n) == 1.0)
      assertLinear(s"topNgramFrac n=$n", small, big)(Repetition.topNgramFrac(_, n))
      assertLinear(s"dupNgramFrac n=$n", small, big)(Repetition.dupNgramFrac(_, n))
    }
  }
}
