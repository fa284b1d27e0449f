package graft.analytics

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Vocabulary top-k: hand-counted grams, deterministic tie order, and the
  * TakeOrderedAndProject plan shape (per-partition top-k, no global sort).
  */
class VocabSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def top(texts: Seq[String], n: Int, k: Int): Seq[(String, Long)] = {
    import spark.implicits._
    Vocab.topNgrams(texts.toDF("text"), "text", n, k)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  test("bigram counts and (count DESC, gram ASC) tie order") {
    val out = top(Seq("a b a b c", "a b x"), 2, 3)
    // grams: doc1 [a b][b a][a b][b c], doc2 [a b][b x]
    assert(out == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("unigrams, and docs shorter than n contribute nothing") {
    val out = top(Seq("x y x", "solo", ""), 1, 2)
    assert(out == Seq(("x", 2L), ("solo", 1L)))
    // no doc has 3 tokens in a row twice
    assert(top(Seq("ab", ""), 3, 5).isEmpty)
  }

  test("the k-cut is deterministic under ties (total order before limit)") {
    // grams "d c" and "b a" both count 1 → lexicographic order decides
    val out = top(Seq("d c", "b a"), 2, 2).map(_._1)
    assert(out == Seq("b a", "d c"))
  }

  test("plan: partial aggregate + TakeOrderedAndProject, no global sort") {
    import spark.implicits._
    val plan = Vocab.topNgrams(
      (0 until 100).map(i => s"w$i w${i % 5} w${i % 3}").toDF("text"),
      "text", 2, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k, got:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1 &&
      plan.contains("Exchange hashpartitioning(gram"),
      s"expected one gram exchange, got:\n$plan")
  }
}
