package graft.pipeline

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Thresholds
import graft.stages.{LangIdModel, PerplexityModel}
import graft.synth.{Corpus, SynthPages}

/** End-to-end golden comparison (reference test pattern:
  * `small_model_inference/test.py:1-47`): pipeline keep/drop vs labels from
  * an INDEPENDENT scalar re-implementation of the heuristics, scrub counts
  * and decision (plain string ops, java.util.regex — no Spark, no shared
  * Column code). Target: F1 ≥ 0.99 (BASELINE.md engine targets) and
  * byte-identical scrubbed text per url.
  */
class PipelineGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val N = 2500L

  // ---- independent scalar reimplementation -------------------------------
  private val stop = Corpus.roStopwords.toSet
  private def scalarHeuristics(text: String): (Int, Double, Double, Double, Double) = {
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
    if (words.isEmpty) return (0, 0.0, 0.0, 0.0, 0.0)
    val n = words.length
    val mwl = words.map(_.length).sum.toDouble / n
    val sym = text.count(c => "#@$%^&*()_+=[]{}|<>~".indexOf(c) >= 0)
    val symRatio = sym.toDouble / n
    val sw = words.count(w =>
      stop.contains(w.toLowerCase.replaceAll("(?U)^\\W+|\\W+$", "")))
    val swFrac = sw.toDouble / n
    val lines = text.split("\n").filter(_.trim.nonEmpty)
    val dup = if (lines.isEmpty) 0.0
      else (lines.length - lines.distinct.length).toDouble / lines.length
    (n, mwl, symRatio, swFrac, dup)
  }

  private val emailP = Pattern.compile(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}")
  private val phoneP = Pattern.compile(
    "(?<![\\d+])(\\+40[ .-]?7\\d{2}[ .-]?\\d{3}[ .-]?\\d{3}|07\\d{8})(?!\\d)")
  private val slurP = Pattern.compile(
    "(?iu)\\b(" + Corpus.toxicLexicon.mkString("|") + ")\\b")
  private def countMatches(p: Pattern, s: String): Int = {
    val m = p.matcher(s)
    var c = 0
    while (m.find()) c += 1
    c
  }
  /** Independent CNP scan: regex digit runs + recomputed checksum. */
  private def scalarCnps(s: String): List[(Int, Int)] = {
    val m = Pattern.compile("\\d+").matcher(s)
    val out = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
    while (m.find()) {
      val run = m.group()
      if (run.length == 13 && run.head >= '1' && run.head <= '8') {
        val w = "279146358279".map(_ - '0')
        val sum = run.take(12).zip(w).map { case (c, k) => (c - '0') * k }.sum
        val ck = if (sum % 11 == 10) 1 else sum % 11
        if (run.last - '0' == ck) out += ((m.start, m.end))
      }
    }
    out.toList
  }
  private def scalarScrub(s: String): String = {
    var out = emailP.matcher(s).replaceAll("<EMAIL>")
    out = phoneP.matcher(out).replaceAll("<PHONE>")
    out = slurP.matcher(out).replaceAll("<SLUR>")
    val spans = scalarCnps(out)
    if (spans.isEmpty) out
    else {
      val sb = new java.lang.StringBuilder
      var last = 0
      spans.foreach { case (a, b) =>
        sb.append(out, last, a).append("<CNP>"); last = b
      }
      sb.append(out, last, out.length).toString
    }
  }

  private def goldenKeep(text: String, th: Thresholds): Boolean = {
    val (n, mwl, sym, sw, dup) = scalarHeuristics(text)
    val (pred, conf) = LangIdModel.predict(text, LangIdModel.weights)
    val ronConf = if (pred == "ron") conf else 1.0 - conf
    val ppl = PerplexityModel.default.perplexity(text)
    val nSlurs = countMatches(slurP, text)
    pred == "ron" && ronConf >= th.minLangConf && ppl <= th.maxPpl &&
      n >= th.minWords && n <= th.maxWords &&
      mwl >= th.minMeanWordLen && mwl <= th.maxMeanWordLen &&
      sym <= th.maxSymbolWordRatio && sw >= th.minStopwordFrac &&
      dup <= th.maxDupLineFrac && nSlurs <= th.maxSlurs
  }

  // ---- the golden comparison ----------------------------------------------
  test("pipeline keep/drop F1 >= 0.99 vs independent scalar golden labels") {
    val th = Thresholds.default
    val ann = QualityPipeline.annotate(SynthPages.pages(spark, N))
      .collect().map(a => a.url -> a).toMap
    assert(ann.size == N)

    var tp = 0; var fp = 0; var fn = 0; var agree = 0
    (0L until N).foreach { id =>
      val p = SynthPages.gen(id)
      val golden = goldenKeep(p.text, th)
      val got = ann(p.url).keep
      if (golden && got) tp += 1
      else if (!golden && got) fp += 1
      else if (golden && !got) fn += 1
      if (golden == got) agree += 1
    }
    val precision = tp.toDouble / math.max(1, tp + fp)
    val recall = tp.toDouble / math.max(1, tp + fn)
    val f1 = 2 * precision * recall / math.max(1e-9, precision + recall)
    info(f"keep-class F1 = $f1%.4f (agreement ${agree.toDouble / N}%.4f, tp=$tp fp=$fp fn=$fn)")
    assert(f1 >= 0.99, s"F1 $f1 below target")
  }

  test("scrubbed text is byte-identical to the independent scalar scrub") {
    val ann = QualityPipeline.annotate(SynthPages.pages(spark, 800L))
      .collect().map(a => a.url -> a.scrubbed_text).toMap
    (0L until 800L).foreach { id =>
      val p = SynthPages.gen(id)
      val expected = scalarScrub(p.text)
      val got = ann(p.url)
      assert(got.getBytes("UTF-8").sameElements(expected.getBytes("UTF-8")),
        s"byte mismatch for ${p.url}")
    }
  }

  test("decisions and scores are partition-invariant (local determinism)") {
    import org.apache.spark.sql.functions.col
    val a1 = QualityPipeline.annotate(SynthPages.pages(spark, 1000L, partitions = 1))
      .select("url", "lang_pred", "lang_conf", "ppl", "keep")
      .orderBy(col("url")).collect()
    val a16 = QualityPipeline.annotate(SynthPages.pages(spark, 1000L, partitions = 16))
      .select("url", "lang_pred", "lang_conf", "ppl", "keep")
      .orderBy(col("url")).collect()
    assert(a1.sameElements(a16))
  }

  test("filter monotonicity: stricter ppl threshold keeps a subset") {
    val loose = Thresholds.default.copy(maxPpl = 1000.0)
    val strict = Thresholds.default.copy(maxPpl = 50.0)
    val ann = QualityPipeline.annotate(SynthPages.pages(spark, 600L)).collect()
    def kept(th: Thresholds): Set[String] = ann.filter(a =>
      QualityPipeline.decide(th, a.lang_pred, a.lang_conf, a.ppl,
        a.doc_len_words, a.mean_word_len, a.symbol_word_ratio,
        a.stopword_frac, a.dup_line_frac, a.n_slurs)).map(_.url).toSet
    assert(kept(Thresholds.default) == ann.filter(_.keep).map(_.url).toSet)
    val keptLoose = kept(loose)
    val keptStrict = kept(strict)
    assert(keptStrict.subsetOf(keptLoose))
    assert(keptStrict.size < keptLoose.size)
  }

  test("flagship entry returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
