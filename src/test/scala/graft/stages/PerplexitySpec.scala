package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.synth.{Corpus, SynthPages}

/** N2 perplexity fixtures (FIXTURES.md `ppl` family). */
class PerplexitySpec extends AnyFunSuite {
  private val lm = PerplexityModel.default

  test("fluent chain text scores far below shuffled text") {
    val fluent = SynthPages.fluentRo(42L, 10L, 150, 6)
    val shuffled = SynthPages.wordsFrom(Corpus.roVocab, 42L, 10L, "shuf", 150, 6)
    val pf = lm.perplexity(fluent)
    val ps = lm.perplexity(shuffled)
    assert(pf < 100.0, s"fluent ppl $pf")
    assert(ps > 300.0, s"shuffled ppl $ps")
    assert(ps > pf * 5)
  }

  test("out-of-vocabulary (foreign) text scores worst") {
    val en = SynthPages.wordsFrom(Corpus.enWords, 42L, 11L, "en", 100, 4)
    assert(lm.perplexity(en) > 10000.0)
  }

  test("empty/whitespace/null text gets the in-band worst case, never throws") {
    val worst = math.exp(-Corpus.oovLogProb)
    assert(lm.perplexity("") == worst)
    assert(lm.perplexity("   \n ") == worst)
    assert(lm.perplexity(null) == worst)
  }

  test("token normalization strips punctuation edges") {
    assert(lm.wordId(lm.normToken("(Școală),")) == lm.wordId("școală"))
  }

  test("case folding ignores the JVM default locale (tr-TR dotless i)") {
    val text = SynthPages.fluentRo(42L, 13L, 80, 4)
      .split(" ").map(_.capitalize).mkString(" ") + " Iarnă Internet"
    val expect = lm.perplexity(text)
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      assert(lm.wordId(lm.normToken("Iarnă")) == lm.wordId("iarnă"))
      assert(lm.wordId("iarnă") >= 0)
      assert(lm.perplexity(text) == expect)
    } finally java.util.Locale.setDefault(default)
  }

  test("perplexity is insensitive to token count cap ordering (deterministic)") {
    val text = SynthPages.fluentRo(42L, 12L, 500, 10)
    assert(lm.perplexity(text) == lm.perplexity(text))
  }

  test("bigram membership matches the committed chain") {
    val w1 = 17
    val succ = Corpus.successors(w1)
    succ.foreach(w2 => assert(lm.hasBigram(w1, w2)))
    val non = (0 until Corpus.V).filterNot(succ.contains)
    assert(non.count(w2 => lm.hasBigram(w1, w2)) == 0)
  }
}
