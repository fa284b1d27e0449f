package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** N3 heuristics on hand-computed docs (FIXTURES.md `heuristics` family). */
class HeuristicsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The five metrics of the Column twin, asserted equal to the production
    * scalar engine's.
    */
  private def metrics(text: String): (Int, Double, Double, Double, Double) = {
    import spark.implicits._
    val df = Seq(text).toDF("text")
    val r = Heuristics.withHeuristics(df)
      .select("doc_len_words", "mean_word_len", "symbol_word_ratio",
        "stopword_frac", "dup_line_frac")
      .head()
    val col = (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    val m = HeuristicsScalar.compute(text)
    assert(col == ((m.docLenWords, m.meanWordLen, m.symbolWordRatio,
      m.stopwordFrac, m.dupLineFrac)), s"scalar differs on ${text.replace("\n", "\\n")}")
    col
  }

  test("doc_len_words and mean_word_len on a hand-computed doc") {
    val (n, mwl, _, _, _) = metrics("ab cde f\nghij")
    assert(n == 4)
    assert(math.abs(mwl - (2 + 3 + 1 + 4) / 4.0) < 1e-12)
  }

  test("empty and whitespace-only text is all zeros") {
    assert(metrics("") == ((0, 0.0, 0.0, 0.0, 0.0)))
    assert(metrics("   \n  \t ") == ((0, 0.0, 0.0, 0.0, 0.0)))
  }

  test("symbol_word_ratio counts symbol chars per word") {
    val (_, _, ratio, _, _) = metrics("ab# cd@e fg hi")
    assert(math.abs(ratio - 2.0 / 4.0) < 1e-12)
  }

  test("stopword_frac matches Romanian stopword membership (case/punct-insensitive)") {
    // "și" and "De" are stopwords (2 of 4 words); trailing punctuation trimmed
    val (_, _, _, frac, _) = metrics("și De, carte universitate")
    assert(math.abs(frac - 0.5) < 1e-12)
  }

  test("dup_line_frac counts repeated non-blank lines") {
    val (_, _, _, _, dup) = metrics("unu doi\ntrei\nunu doi\n\nunu doi")
    // 4 non-blank lines, 2 distinct → 2/4 duplicated
    assert(math.abs(dup - 0.5) < 1e-12)
  }

  test("dup_line_frac is 0 for all-distinct lines") {
    val (_, _, _, _, dup) = metrics("a\nb\nc")
    assert(dup == 0.0)
  }

  private def lineShape(text: String): (Double, Double, Double) = {
    import spark.implicits._
    import graft.functions.LineShape._
    val t = org.apache.spark.sql.functions.col("text")
    val r = Seq(text).toDF("text")
      .select(bullet_line_frac(t), ellipsis_line_frac(t),
        alpha_word_frac(graft.functions.Tokenize.words_ws(t)))
      .head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }

  test("bullet_line_frac: first non-space char against the marker set") {
    // 4 non-blank lines: "- a" and "  • b" are bullets, "c-d" is not
    val (b, _, _) = lineShape("- a\n  • b\nc-d\nplain\n\n")
    assert(math.abs(b - 2.0 / 4.0) < 1e-12)
  }

  test("ellipsis_line_frac: trailing-space-tolerant ... and … endings") {
    val (_, e, _) = lineShape("citește mai mult...\nfull stop.\nteaser…  \n")
    assert(math.abs(e - 2.0 / 3.0) < 1e-12)
  }

  test("alpha_word_frac: words with no letter drag the fraction") {
    // words: [pagina] [42] [din] [100] → 2/4
    val (_, _, a) = lineShape("pagina 42 din 100")
    assert(math.abs(a - 0.5) < 1e-12)
    // diacritics count as letters
    val (_, _, a2) = lineShape("știință 123")
    assert(math.abs(a2 - 0.5) < 1e-12)
  }

  test("line-shape metrics on empty text are zeros") {
    assert(lineShape("") == ((0.0, 0.0, 0.0)))
  }
}
