package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.synth.SynthPages

/** The r6 native tokenizer Expressions must reproduce their HOF reference
  * chains BYTE-IDENTICALLY — downstream shingle hashes, minhash/simhash
  * signatures, repetition metrics and vocab grams all key on these token
  * arrays, and the committed goldens/oracle rows would move on any drift.
  */
class TokenizeParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nasty = Seq(
    "", " ", "  \t \n\f\r ", "...", "-", "—", "(și)", "ș,i și. (și)",
    "  leading and trailing  ", "tab\tsep", "ACASĂ Țară Înalt",
    "mixed ÎNCEPUT... sfârșit!!!", "__under__ _x_ 1_2",
    "digits 123 ,,456,, 7.8", "zwnj a‌b ‌ ‍",
    "combining á ́x́", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝟙𝟚𝟛 !𝔴!",
    "emoji 🙂 !🙂! mix🙂ed", "İstanbul STRASSE ß ẞ",
    "interior-hyphen co-op 'quote' \"dquote\"", "a", "!", "!a!", "!!",
    "multi\n\nline \n text\r\nwindows")

  private val corpus = (0L until 400L).map(SynthPages.gen(_).text)

  test("isWordCp equals java-regex (?U)\\w per code point (BMP + sample)") {
    val p = Pattern.compile("(?U)\\w")
    def regexSays(cp: Int): Boolean =
      p.matcher(new String(Character.toChars(cp))).matches()
    (0 to 0xFFFF).foreach { cp =>
      if (!Character.isSurrogate(cp.toChar))
        assert(Tokenize.isWordCp(cp) == regexSays(cp), f"BMP U+$cp%04X")
    }
    // deterministic supplementary-plane sample
    (0x10000 to 0x10FFFF by 257).foreach { cp =>
      assert(Tokenize.isWordCp(cp) == regexSays(cp), f"SMP U+$cp%04X")
    }
  }

  test("words_ws ≡ HOF filter(split) on synthetic corpus + nasty strings") {
    import spark.implicits._
    val df = (corpus ++ nasty).toDF("text")
    val rows = df.select(
      Tokenize.words_ws(col("text")).as("native"),
      graft.stages.Heuristics.wordsColHof(col("text")).as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"row $i")
    }
  }

  test("norm_tokens ≡ HOF lower/split/trim chain on corpus + nasty strings") {
    import spark.implicits._
    val df = (corpus ++ nasty).toDF("text")
    val rows = df.select(
      Tokenize.norm_tokens(col("text")).as("native"),
      NativeRef.normTokensHof(col("text")).as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"row $i")
    }
  }

  test("norm_tokens case folding ignores the JVM default locale (tr-TR)") {
    val default = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      val toks = Tokenize.normTokens(UTF8String.fromString("IARNĂ Iarnă"))
      assert(toks.toSeq[UTF8String](StringType).map(_.toString) ==
        Seq("iarnă", "iarnă"))
    } finally java.util.Locale.setDefault(default)
  }

  test("null text: both tokenizers yield null") {
    import spark.implicits._
    val df = Seq[Option[String]](None).toDF("text")
    val r = df.select(
      Tokenize.words_ws(col("text")),
      Tokenize.norm_tokens(col("text"))).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
