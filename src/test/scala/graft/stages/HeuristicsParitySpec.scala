package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.synth.SynthPages

/** The declarative (Column) and scalar (mapPartitions) heuristic
  * implementations must agree exactly on the synthetic corpus — the pipeline
  * uses the scalar one for speed; the Column one is its declarative
  * test-scope reference.
  */
class HeuristicsParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Column and scalar heuristics agree on 1500 synthetic pages") {
    import spark.implicits._
    val texts = (0L until 1500L).map(SynthPages.gen(_).text)
    val colRows = Heuristics.withHeuristics(texts.toDF("text"))
      .select("doc_len_words", "mean_word_len", "symbol_word_ratio",
        "stopword_frac", "dup_line_frac")
      .collect()
    texts.zip(colRows).zipWithIndex.foreach { case ((t, r), idx) =>
      val m = HeuristicsScalar.compute(t)
      assert(r.getInt(0) == m.docLenWords, s"doc_len @$idx")
      assert(r.getDouble(1) == m.meanWordLen, s"mean_word_len @$idx")
      assert(r.getDouble(2) == m.symbolWordRatio, s"symbol_ratio @$idx")
      assert(r.getDouble(3) == m.stopwordFrac, s"stopword_frac @$idx")
      assert(r.getDouble(4) == m.dupLineFrac, s"dup_line_frac @$idx")
    }
  }

  test("edge cases agree: empty, whitespace, symbols, dup lines, tabs") {
    import spark.implicits._
    val cases = Seq("", " ", "  \t \n ", "###", "a\nb\na\n\na",
      "x " + " " + " y", "ș,i și. (și)", "linie\nlinie\nlinie",
      "cuvânt\tcuvânt  cuvânt\n cuvânt",
      // edge characters (?U)\w keeps but a per-char letter/digit/mark test
      // trims: connector punctuation, ZWJ, a letter number, and a
      // supplementary-plane letter (one code point, two chars: also a
      // word-length case)
      "și\u203F", "și\u200D", "\u2160și", "\uD835\uDC1Aîn")
    val colRows = Heuristics.withHeuristics(cases.toDF("text"))
      .select("doc_len_words", "mean_word_len", "symbol_word_ratio",
        "stopword_frac", "dup_line_frac").collect()
    cases.zip(colRows).foreach { case (t, r) =>
      val m = HeuristicsScalar.compute(t)
      assert((r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)) ==
        ((m.docLenWords, m.meanWordLen, m.symbolWordRatio, m.stopwordFrac,
          m.dupLineFrac)), s"mismatch on ${t.replace("\n", "\\n")}")
    }
  }
}
