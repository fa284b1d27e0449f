package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Token counting: whitespace (`size(words_ws)`, the `\s+`-split,
  * empties-dropped contract TokenizeParitySpec pins) and the BPE-ish
  * pretokenizer variant, pinned against hand-counted expectations (the
  * oracle checks corpus-level aggregates; these pin the per-string
  * semantics); and the analysis-time input checks of the native functions.
  */
class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._

  private def countBpe(s: String): Int = {
    import spark.implicits._
    Seq(s).toDF("text")
      .select(TextFunctions.tokenCountBpe(col("text")).as("n"))
      .head().getInt(0)
  }

  private def countWs(s: String): Int = {
    import spark.implicits._
    Seq(s).toDF("text")
      .select(size(Tokenize.words_ws(col("text"))).as("n"))
      .head().getInt(0)
  }

  test("BPE-ish pretokenizer: letters, digits, punctuation split as GPT-2 does") {
    // "Ana are 12 mere!" → [Ana][ are][ 12][ mere][!]
    assert(countBpe("Ana are 12 mere!") == 5)
    // contraction suffix: "n'are" → [n]['][are]? No — 'a… only [sdmt]|ll|ve|re
    // match the suffix alternative: "don't" → [don]['t] = 2
    assert(countBpe("don't") == 2)
    // "we've they'll" → [we]['ve][ they]['ll] = 4
    assert(countBpe("we've they'll") == 4)
    // diacritics are \p{L}: "înțelegere școlară" → [înțelegere][ școlară] = 2
    assert(countBpe("înțelegere școlară") == 2)
    // mixed digit/letter boundary: "abc123" → [abc][123] = 2
    assert(countBpe("abc123") == 2)
    // punctuation run counts once: "wow!!!" → [wow][!!!] = 2
    assert(countBpe("wow!!!") == 2)
    // residual whitespace (trailing) is one token: "a  " → [a][  ] = 2
    assert(countBpe("a  ") == 2)
    assert(countBpe("") == 0)
  }

  test("whitespace token count ignores runs and leading/trailing space") {
    assert(countWs("ana  are\tmere") == 3)
    assert(countWs("  a b  ") == 2)
    assert(countWs("") == 0)
  }

  test("BPE-ish count ≥ whitespace count on natural text (finer splits)") {
    val texts = Seq("Ana are mere și pere.", "don't stop!",
      "preț: 12,50 lei (redus)")
    texts.foreach { t =>
      assert(countBpe(t) >= countWs(t), s"'$t'")
    }
  }

  test("wrong input types fail analysis with an error naming the function") {
    import org.apache.spark.sql.AnalysisException
    import TextFunctions.{doc_fingerprint, minhash_signature, shingle_hashes,
      simhash64}
    val typed = spark.range(1).select(lit("a b").as("s"), lit(1).as("i"),
      array(lit("a"), lit("b"), lit("c")).as("toks"),
      array(lit(1L), lit(2L)).as("sh"))
    // wrong input types, and int constants outside the declared range
    // (minhash k indexes a 64-entry table; an n-gram needs n >= 1)
    Seq("simhash64" -> simhash64(col("s")),
        "shingle_hashes" -> shingle_hashes(col("s"), 3),
        "minhash_signature" -> minhash_signature(col("s"), 16),
        "doc_fingerprint" -> doc_fingerprint(col("i")),
        "ngram_strings" -> Repetition.ngram_strings(col("s"), 2),
        "top_ngram_char_frac" -> Repetition.top_ngram_char_frac(col("s"), 2),
        "dup_ngram_char_frac" -> Repetition.dup_ngram_char_frac(col("s"), 2),
        "ngram_strings" -> Repetition.ngram_strings(col("toks"), 0),
        "shingle_hashes" -> shingle_hashes(col("toks"), 0),
        "minhash_signature" -> minhash_signature(col("sh"), 65),
        "minhash_signature" -> minhash_signature(col("sh"), 0),
        "minhash_signature" ->
          minhash_signature(shingle_hashes(col("toks"), 2), 65))
      .foreach { case (name, c) =>
        val e = intercept[AnalysisException](typed.select(c))
        assert(e.getMessage.contains(s"$name requires"), e.getMessage)
      }
    assert(intercept[AnalysisException](
        typed.select(minhash_signature(col("sh"), 65)))
      .getMessage.contains("k in [1, 64], got 65"))
  }
}
