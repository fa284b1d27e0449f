package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.synth.SynthPages

/** N1 langid fixtures (FIXTURES.md `langid` family). */
class LangIdSpec extends AnyFunSuite {
  private val w = LangIdModel.weights

  test("clear Romanian text is ron with high confidence") {
    val text = SynthPages.fluentRo(42L, 1L, 120, 6)
    val (pred, conf) = LangIdModel.predict(text, w)
    assert(pred == "ron")
    assert(conf > 0.9)
  }

  test("clear English text is other") {
    val text = SynthPages.wordsFrom(graft.synth.Corpus.enWords, 42L, 2L, "en", 120, 6)
    val (pred, conf) = LangIdModel.predict(text, w)
    assert(pred == "other")
    assert(conf > 0.9)
  }

  test("clear Hungarian text is other") {
    val text = SynthPages.wordsFrom(graft.synth.Corpus.huWords, 42L, 3L, "hu", 120, 6)
    val (pred, _) = LangIdModel.predict(text, w)
    assert(pred == "other")
  }

  test("diacritic-stripped Romanian still classifies as ron") {
    // FIXTURES.md langid family: web text often loses diacritics; the
    // ASCII stopword/suffix markers must carry the classification
    val stripped = "scoala si universitatea din orasul nostru sunt pentru " +
      "toti copiii care vor sa invete carte si stiinta in fiecare zi de la " +
      "profesori buni"
    val (pred, conf) = LangIdModel.predict(stripped, w)
    assert(pred == "ron" && conf > 0.9)
  }

  test("empty and very short text never throws") {
    assert(LangIdModel.predict("", w)._2 >= 0.0)
    assert(LangIdModel.predict("a", w)._2 >= 0.0)
    assert(LangIdModel.predict(null, w)._2 >= 0.0)
  }

  test("prediction ignores the upstream lang tag (scores text only)") {
    // synthetic pages sometimes carry a wrong tag; langid must classify by
    // text — English-family pages stay "other" whatever the tag says
    val misTagged = (0L until 3000L).map(SynthPages.gen(_))
      .filter(p => SynthPages.familyOf(42L, p.url.substring(
        p.url.lastIndexOf('/') + 1).toLong) == 1)
    assert(misTagged.nonEmpty)
    misTagged.foreach { p =>
      assert(LangIdModel.predict(p.text, w)._1 == "other", p.text.take(60))
    }
  }

  test("weights are quantized (partition-invariance prerequisite)") {
    assert(w.forall(x => (x * 64.0f) == math.round(x * 64.0f).toFloat))
  }

  test("top_langs ranks the true language first on all three marker sets") {
    val ro = "aceasta este o pagină în limba română despre știință și " +
      "cultură care vorbește pentru toți copiii din orașul nostru"
    val en = "this is the english text about science and culture that " +
      "speaks for all the children of our town with many common words"
    val hu = "ez egy magyar nyelvű szöveg a tudományról és a kultúráról " +
      "hogy nem csak egy ember volt itt"
    assert(LangIdModel.topLangs(ro).head._1 == "ron_Latn")
    assert(LangIdModel.topLangs(en).head._1 == "eng_Latn")
    assert(LangIdModel.topLangs(hu).head._1 == "hun_Latn")
  }

  test("top_langs is a simplex, sorted desc, stable JSON format") {
    val tl = LangIdModel.topLangs("orice text de probă pentru structura hărții")
    assert(math.abs(tl.map(_._2).sum - 1.0) < 1e-9)
    assert(tl.sliding(2).forall { case Seq(a, b) => a._2 >= b._2; case _ => true })
    val json = LangIdModel.topLangsJson(tl)
    assert(json.startsWith("{\"") && json.endsWith("}"))
    assert(json.contains("_score\": 0."))
    // family consistency on the synthetic corpus: English pages rank eng
    val engPages = (0L until 1000L).map(SynthPages.gen(_))
      .filter(p => SynthPages.familyOf(42L, p.url.substring(
        p.url.lastIndexOf('/') + 1).toLong) == 1)
    assert(engPages.nonEmpty)
    engPages.foreach { p =>
      assert(LangIdModel.topLangs(p.text).head._1 == "eng_Latn", p.text.take(60))
    }
  }

  test("top_langs JSON uses a decimal point under any JVM default locale") {
    val tl = LangIdModel.topLangs("orice text de probă pentru structura hărții")
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      val entry = "\"[a-z]{3}_Latn_score\": [01]\\.\\d{4}"
      val json = LangIdModel.topLangsJson(tl)
      assert(json.matches(s"\\{$entry(, $entry){2}\\}"), json)
    } finally java.util.Locale.setDefault(default)
  }
}
