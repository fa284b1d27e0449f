package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Per-string semantics of the Gopher repetition signals (the oracle checks
  * corpus-level parity vs DuckDB; these pin hand-computed values, the
  * tie-break rule, overlap handling, and code-point counting).
  */
class RepetitionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fracs(text: String, n: Int): (Double, Double) = {
    import spark.implicits._
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val row = Seq(text).toDF("text")
      .select(
        Repetition.top_ngram_char_frac(words, n).as("top"),
        Repetition.dup_ngram_char_frac(words, n).as("dup"))
      .head()
    (row.getDouble(0), row.getDouble(1))
  }

  test("repeated bigram: top covers count×gramChars, dup covers the union") {
    // grams of "a b a b": [a b](u0), [b a](u1), [a b](u2) → top cnt=2 gl=2
    // → cov 4 of 4 chars; dup covers positions 0..3 → 1.0
    val (top, dup) = fracs("a b a b", 2)
    assert(top == 1.0)
    assert(dup == 1.0)
  }

  test("no duplicate gram → dup = 0, top = single occurrence") {
    // "ab cd ef": grams [ab cd], [cd ef] each once → top = 4/6, dup = 0
    val (top, dup) = fracs("ab cd ef", 2)
    assert(math.abs(top - 4.0 / 6.0) < 1e-12)
    assert(dup == 0.0)
  }

  test("tie-break: count first, then gram char length, then first position") {
    // "aa b c d aa" (7 word chars): all bigrams unique; [aa b] and [d aa]
    // tie on gl=3 → earlier first-occurrence wins (same value either way:
    // 3/7) — and the rule must NOT pick a shorter gram.
    val (top, _) = fracs("aa b c d aa", 2)
    assert(math.abs(top - 3.0 / 7.0) < 1e-12)
    // count beats length: "aa bbbb x y x y" (10 word chars) → [x y] ×2
    // (cov 4) beats the longer once-only [aa bbbb] (cov 6): 4/10.
    val (top2, _) = fracs("aa bbbb x y x y", 2)
    assert(math.abs(top2 - 4.0 / 10.0) < 1e-12)
  }

  test("overlapping duplicate grams count each character once") {
    // "x x x x": [x x] ×3, overlapping — covered = 4 positions, not 6
    val (_, dup) = fracs("x x x x", 2)
    assert(dup == 1.0)
    // "p q p q p z": [p q]×2, [q p]×2 cover positions 0..4; z uncovered
    val (_, dup2) = fracs("p q p q p z", 2)
    assert(math.abs(dup2 - 5.0 / 6.0) < 1e-12)
  }

  test("short doc (< n tokens) and empty text → 0.0") {
    assert(fracs("hello", 2) == ((0.0, 0.0)))
    assert(fracs("", 2) == ((0.0, 0.0)))
    assert(fracs("   ", 3) == ((0.0, 0.0)))
  }

  test("characters are code points (diacritics count once)") {
    // "șș a șș a": [șș a] ×2 → cov 2×3=6 of 6 code points → 1.0
    val (top, dup) = fracs("șș a șș a", 2)
    assert(top == 1.0)
    assert(dup == 1.0)
  }

  test("interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val toks = new GenericArrayData(
      "a b a b c".split(" ").map(UTF8String.fromString(_)).toArray[Any])
    val text = UTF8String.fromString("- Ana are  Mere...\n  • 12 34\naici")
    val words = Tokenize.wordsWs(text)
    val shingles = TextFunctions.shingles(words, 2)
    val probs = new GenericArrayData(Array[Any](0.5, -1.0, 0.5))
    // every declared native function: (declaration, input, int constants,
    // its static method on that input)
    val cases: Seq[(NativeFn, Any, Seq[Int], Any)] = Seq(
      (LineShape.BulletLineFrac, text, Nil, LineShape.bulletLineFrac(text)),
      (LineShape.EllipsisLineFrac, text, Nil,
        LineShape.ellipsisLineFrac(text)),
      (LineShape.AlphaWordFrac, words, Nil, LineShape.alphaWordFrac(words)),
      (Tokenize.WordsWs, text, Nil, words),
      (Tokenize.NormTokens, text, Nil, Tokenize.normTokens(text)),
      (TextFunctions.DocFingerprint, text, Nil,
        TextFunctions.fingerprint(text)),
      (TextFunctions.SimHash64, words, Nil,
        TextFunctions.simhashTokens(words)),
      (TextFunctions.ShingleHashes, words, Seq(2), shingles),
      (TextFunctions.MinHashSignature, shingles, Seq(8),
        TextFunctions.minhashSigK(shingles, 8)),
      (Repetition.NgramStrings, toks, Seq(2),
        Repetition.ngramStringsData(toks, 2)),
      (Repetition.TopNgramFrac, toks, Seq(2), Repetition.topNgramFrac(toks, 2)),
      (Repetition.DupNgramFrac, toks, Seq(2), Repetition.dupNgramFrac(toks, 2)),
      (ArrayMath.SoftmaxArr, probs, Nil, ArrayMath.softmaxArr(probs)),
      (ArrayMath.NegIndexedSorted, probs, Nil,
        ArrayMath.negIndexedSorted(probs)),
      (ArrayMath.SortByXxHash, words, Nil, ArrayMath.sortByXxHash(words)))
    assert(cases.map(_._1.name).distinct.size == 15)
    cases.foreach { case (fn, in, ints, expected) =>
      val e = fn.expr(BoundReference(0, fn.input, nullable = true), ints)
      val row = InternalRow(in)
      def scala(v: Any) = convertToScala(v, e.dataType)
      // interpreted: reflection on the same static method
      assert(scala(e.eval(row)) == scala(expected), fn.name)
      // generated: the one static call by name, no reflection
      val code = e.genCode(new CodegenContext).code.toString
      assert(code.contains(s"${fn.owner}.${fn.method}("), fn.name)
      assert(!code.contains("invoke("), fn.name)
      val generated = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
      assert(scala(generated.get(0, e.dataType)) == scala(expected), fn.name)
    }
    // and the DataFrame path (whole-stage codegen) agrees with the scalar
    val (top, dup) = fracs("a b a b c", 2)
    assert(top == Repetition.topNgramFrac(toks, 2))
    assert(dup == Repetition.dupNgramFrac(toks, 2))
  }

  test("n = 3 window arithmetic (rolling char length) is exact") {
    // "ab c d ab c z" (8 word chars): 3-grams [ab c d](u0), [c d ab](u1),
    // [d ab c](u2), [ab c z](u3) — all unique → top = 4/8; dup = 0
    val (top, dup) = fracs("ab c d ab c z", 3)
    assert(math.abs(top - 4.0 / 8.0) < 1e-12)
    assert(dup == 0.0)
    // "ab c d ab c d" (8 word chars): [ab c d] ×2 → top 2×4 = 8/8; the
    // duplicated gram's occurrences cover every position → dup 1.0
    val (topDup, dupDup) = fracs("ab c d ab c d", 3)
    assert(topDup == 1.0)
    assert(dupDup == 1.0)
  }
}
