package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftshim.Injected
import org.scalatest.funsuite.AnyFunSuite

import graft.synth.SynthPages

/** SQL surface of the native expressions. */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registered SQL functions evaluate the native expressions") {
    GraftFunctions.registerAll(spark)
    val cnp = SynthPages.makeCnp(42L, 1L, valid = true)
    val row = spark.sql(
      s"""SELECT scrub_cnp('cnp $cnp aici') AS s,
         |       count_cnp('cnp $cnp aici') AS c,
         |       doc_fingerprint('Ana are  mere') AS f1,
         |       doc_fingerprint('ana are mere') AS f2,
         |       simhash64(array('unu','doi')) AS sh,
         |       size(shingle_hashes(array('a','b','c','d'), 3)) AS ns,
         |       size(minhash_signature(shingle_hashes(array('a','b','c','d'), 3), 16)) AS nm
         |""".stripMargin).head()
    assert(row.getAs[String]("s") == "cnp <CNP> aici")
    assert(row.getAs[Int]("c") == 1)
    assert(row.getAs[Long]("f1") == row.getAs[Long]("f2"))
    assert(row.getAs[Long]("sh") != 0L)
    assert(row.getAs[Int]("ns") == 2)
    assert(row.getAs[Int]("nm") == 16)
  }

  test("wrong input types fail analysis with an error naming the function") {
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.functions.col
    import graft.functions.{Repetition, TextFunctions}
    GraftFunctions.registerAll(spark)
    spark.sql("SELECT 'a b' AS s, 1 AS i, array('a', 'b', 'c') AS toks, " +
      "array(1L, 2L) AS sh").createOrReplaceTempView("typed")
    // wrong input types, and int constants outside the declared range
    // (minhash k indexes a 64-entry table; an n-gram needs n >= 1)
    Seq("simhash64(s)", "shingle_hashes(s, 3)", "minhash_signature(s, 16)",
        "doc_fingerprint(i)", "scrub_cnp(i)", "count_cnp(i)",
        "shingle_hashes(toks, 0)", "minhash_signature(sh, 65)",
        "minhash_signature(sh, 0)",
        "minhash_signature(shingle_hashes(toks, 2), 65)").foreach { call =>
      val name = call.takeWhile(_ != '(')
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call FROM typed"))
      assert(e.getMessage.contains(s"$name requires"), e.getMessage)
    }
    assert(intercept[AnalysisException](
        spark.sql("SELECT minhash_signature(sh, 65) FROM typed"))
      .getMessage.contains("k in [1, 64], got 65"))
    val typed = spark.table("typed")
    Seq("ngram_strings" -> Repetition.ngram_strings(col("s"), 2),
        "top_ngram_char_frac" -> Repetition.top_ngram_char_frac(col("s"), 2),
        "dup_ngram_char_frac" -> Repetition.dup_ngram_char_frac(col("s"), 2),
        "ngram_strings" -> Repetition.ngram_strings(col("toks"), 0),
        "shingle_hashes" -> TextFunctions.shingle_hashes(col("toks"), 0),
        "minhash_signature" -> TextFunctions.minhash_signature(col("sh"), 65),
        "minhash_signature" -> TextFunctions.minhash_signature(col("sh"), 0))
      .foreach { case (name, c) =>
        val e = intercept[AnalysisException](typed.select(c))
        assert(e.getMessage.contains(s"$name requires"), e.getMessage)
      }
    // malformed SQL arguments: a constant that is not an int, a column
    // where a constant belongs, a null constant, a wrong argument count
    Seq("shingle_hashes(toks, '2')" -> "INVALID_PARAMETER_VALUE.INTEGER",
        "shingle_hashes(toks, i)" -> "NON_FOLDABLE_ARGUMENT",
        "shingle_hashes(toks, CAST(NULL AS INT))" ->
          "INVALID_PARAMETER_VALUE.INTEGER",
        "shingle_hashes(toks)" -> "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        "shingle_hashes(toks, 2, 3)" -> "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        "simhash64(toks, 2)" -> "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        "cosine_sim(array(1D))" -> "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        "hyperplane_bucket(array(1D), 2, i)" -> "NON_FOLDABLE_ARGUMENT",
        "hyperplane_bucket(array(1D), 2.5, 1)" ->
          "INVALID_PARAMETER_VALUE.INTEGER").foreach { case (call, cond) =>
      val name = call.takeWhile(_ != '(')
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call FROM typed"))
      assert(e.getCondition == cond && e.getMessage.contains(s"`$name`"),
        s"$call: ${e.getMessage}")
    }
  }

  test("extension class injects the same functions at session build") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = Injected.functions(ext)
    val fresh = spark.newSession()
    val builtin = fresh.sessionState.functionRegistry.listFunction().toSet
    GraftFunctions.registerAll(fresh)
    val registered =
      fresh.sessionState.functionRegistry.listFunction().toSet -- builtin
    assert(injected.listFunction().toSet == registered)
    assert(registered.map(_.funcName) == GraftFunctions.all.map(_._1).toSet)
    val countCnp = injected.lookupFunction(FunctionIdentifier("count_cnp"),
      Seq(Literal("no digits")))
    assert(countCnp.eval() == 0)
  }
}
