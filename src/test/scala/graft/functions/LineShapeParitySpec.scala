package graft.functions

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.stages.Heuristics
import graft.synth.SynthPages

/** The r6 native line-shape Expressions must equal the HOF chains exactly
  * (q_line_quality is oracle-checked at 3 SFs on these very columns).
  */
class LineShapeParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nasty = Seq(
    "", " ", "\n", "\n\n\n", "   \n   ",
    "- bullet\n• bullet2\n ▪x\nplain", "* star\n‣tri\nno",
    "teaser...\nhard stop.\nsoft…", "dots... mid\nend... ", "…", "...",
    "- \n-", "   - indented bullet", "multi  space   line  ",
    "12 34\nab cd\n#$ %^", "ă î â\nș ț", "x…\ny… \nz ...  ",
    "one-line no newline", "-")

  private val corpus = (0L until 300L).map { i =>
    // the q_line_quality replace chain shape: inject bullets/ellipses
    SynthPages.gen(i).text
      .replace(" table ", "\n- table ")
      .replace(" fast ", "...\n fast ")
  }

  test("native line-shape metrics ≡ HOF on derived corpus + nasty strings") {
    import spark.implicits._
    val df = (corpus ++ nasty).toDF("text")
    val w = Tokenize.words_ws(col("text"))
    val rows = df.select(
      LineShape.bullet_line_frac(col("text")).as("b_n"),
      Heuristics.bulletLineFracHof(col("text")).as("b_h"),
      LineShape.ellipsis_line_frac(col("text")).as("e_n"),
      Heuristics.ellipsisLineFracHof(col("text")).as("e_h"),
      LineShape.alpha_word_frac(w).as("a_n"),
      Heuristics.alphaWordFracHof(Heuristics.wordsColHof(col("text"))).as("a_h")
    ).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(0) == r.getDouble(1), s"bullet @$i")
      assert(r.getDouble(2) == r.getDouble(3), s"ellipsis @$i")
      assert(r.getDouble(4) == r.getDouble(5), s"alpha @$i")
    }
  }

  test("null text propagates null through all three natives") {
    import spark.implicits._
    val df = Seq[Option[String]](None).toDF("text")
    val r = df.select(
      LineShape.bullet_line_frac(col("text")),
      LineShape.ellipsis_line_frac(col("text")),
      LineShape.alpha_word_frac(Tokenize.words_ws(col("text")))).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}
