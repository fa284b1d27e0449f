package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Repetition.ngram_strings
import graft.functions.Tokenize.words_ws

/** Corpus-wide vocabulary statistics — the derivation step behind the
  * stopword/marker lists the quality stages consume as constants (e.g.
  * `Corpus.roStopwords`, the langid marker grams): most-frequent word
  * n-grams over a document corpus.
  *
  * Scale shape: one explode → partial map-side combine → ONE gram-key
  * exchange → final aggregate, then `orderBy(...).limit(k)` which Catalyst
  * plans as `TakeOrderedAndProject` — each task keeps only its local top-k
  * and the driver merges k·tasks rows; no global sort, no full collect.
  * Ties break (count DESC, gram ASC); both engines compare strings as
  * UTF-8 bytes, so the tie order is engine-neutral.
  */
object Vocab {

  /** The n-gram strings of a text column (words joined by a single space;
    * words are whitespace-split so the join is unambiguous) — a native
    * codegen Expression: the HOF spelling was CodegenFallback and made
    * this the slowest query on the bench (3.7 s → sub-second at sf0.1).
    */
  def ngramStrings(textCol: Column, n: Int): Column =
    ngram_strings(words_ws(textCol), n)

  /** Top-k most frequent word n-grams with their counts: (gram, cnt). */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(explode(ngramStrings(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }
}
