package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Benchmark decontamination against a scalar string-gram oracle, plus the
  * plan pins the operator's scale story depends on: the ONE legitimate
  * broadcast is the eval-set gram frame (a dimension table by construction);
  * the corpus-scale sides — the exploded corpus grams and the flagged-id
  * anti join — must never broadcast, on the initial OR the AQE-final plan.
  */
class DecontaminateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // scalar oracle: distinct word-n-gram sets on STRINGS (the operator works
  // on 64-bit gram hashes; equal strings hash equal)
  private def gramSet(t: String, n: Int): Set[String] =
    t.split(" ").toSeq.sliding(n).filter(_.size == n)
      .map(_.mkString(" ")).toSet

  private val benchRows = Seq(
    100L -> "alpha beta gamma delta epsilon",
    101L -> "one two three four")
  private val corpusRows = Seq(
    1L -> "alpha beta gamma delta epsilon", // exact eval copy: all grams hit
    2L -> "zeta alpha beta gamma eta theta", // one shared gram
    3L -> "totally different words here now", // clean
    4L -> "one two three four five six", // overlaps second eval doc
    5L -> "ab cd") // < n tokens: no grams, must survive silently

  private def corpus = df(corpusRows: _*)
  private def bench = df(benchRows: _*)

  test("gramHits matches the scalar string-gram oracle") {
    val n = 3
    val benchSet = benchRows.map(r => gramSet(r._2, n))
      .foldLeft(Set.empty[String])(_ ++ _)
    val expected = corpusRows.flatMap { case (id, t) =>
      val gs = gramSet(t, n)
      val hits = gs.intersect(benchSet).size
      if (gs.nonEmpty && hits > 0)
        Some((id, gs.size.toLong, hits.toLong,
          BigDecimal(hits.toDouble / gs.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.sortBy(_._1)
    val got = Decontaminate.gramHits(corpus, bench, "doc_id", "text", n = n)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getDouble(3)))
      .toSeq
    assert(got == expected, s"got $got expected $expected")
    assert(!got.exists(_._1 == 3L), "clean doc must not appear")
    assert(!got.exists(_._1 == 5L), "below-n-token doc must not appear")
  }

  test("decontaminate drops exactly the >=minHits docs, keeps the schema") {
    val survivors1 = Decontaminate.decontaminate(
        corpus, bench, "doc_id", "text", n = 3, minHits = 1)
      .orderBy("doc_id").collect()
    assert(survivors1.map(_.getLong(0)).toSeq == Seq(3L, 5L))
    assert(survivors1.head.schema.fieldNames.toSeq == Seq("doc_id", "text"),
      "survivors must pass through with the input schema")
    // minHits = 3 keeps the one-gram overlapper (doc 2)
    val survivors3 = Decontaminate.decontaminate(
        corpus, bench, "doc_id", "text", n = 3, minHits = 3)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(survivors3 == Seq(2L, 3L, 4L, 5L))
  }

  test("grams of tokens with one String.hashCode are distinct grams") {
    assert("Aa".hashCode == "BB".hashCode)
    val hits = Decontaminate.gramHits(df(1L -> "Aa Aa Aa"), df(100L -> "BB BB BB"),
      "doc_id", "text", n = 3)
    assert(hits.count() == 0L, hits.collect().mkString(", "))
  }

  test("empty eval set: no hits, decontaminate is the identity") {
    val empty = df()
    assert(Decontaminate.gramHits(corpus, empty, "doc_id", "text", n = 3)
      .count() == 0L)
    assert(Decontaminate.decontaminate(corpus, empty, "doc_id", "text", n = 3)
      .count() == corpus.count())
  }

  test("plan pins: bench grams are the ONLY broadcast; the corpus and the " +
      "flagged-id anti join never broadcast (initial + AQE-final plans)") {
    def plans(d: org.apache.spark.sql.DataFrame): Seq[String] = {
      // the finalized AdaptiveSparkPlan prints BOTH the final and the
      // initial plan — keep only the section being pinned
      def finalSection(p: String): String = p.split("== Initial Plan ==")(0)
      val initial = d.queryExecution.executedPlan.toString
      d.collect()
      Seq(initial, d.queryExecution.executedPlan.toString).map(finalSection)
    }
    // default path: exactly one BroadcastExchange per plan, feeding the
    // gram join; the left-anti flag join must stay sort-merge
    for (p <- plans(Decontaminate.decontaminate(
        corpus, bench, "doc_id", "text", n = 3))) {
      assert("BroadcastExchange".r.findAllIn(p).size == 1,
        s"expected exactly the bench-gram broadcast:\n$p")
      assert(!p.contains("BroadcastHashJoin LeftAnti") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"flagged-id anti join must not broadcast:\n$p")
    }
  }

  test("degenerate dials fail loudly") {
    intercept[IllegalArgumentException] {
      Decontaminate.gramHits(corpus, bench, "doc_id", "text", n = 0)
    }
    intercept[IllegalArgumentException] {
      Decontaminate.decontaminate(corpus, bench, "doc_id", "text",
        minHits = 0)
    }
  }
}
