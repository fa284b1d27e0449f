package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Tokenize
import graft.synth.Corpus

/** N3 — Gopher/C4-style heuristic quality metrics as pure Catalyst columns:
  * the declarative twin of [[HeuristicsScalar]] (HeuristicsSpec,
  * HeuristicsParitySpec) and the home of the `*Hof` references of
  * TokenizeParitySpec and LineShapeParitySpec. Test scope: production runs
  * [[HeuristicsScalar]] and the native functions.
  *
  * Higher-order array functions over `split(text)`. Dataflow analogue in
  * the reference: the learned quality gates consumed by threshold filters
  * (`small_model_inference/filter.py:22`, `ro_vs_eng/filter_jql.py:27`);
  * metric definitions follow Gopher (Rae et al. 2021) / C4 (Raffel et al.
  * 2020) as mandated by the north rule.
  */
object Heuristics {

  /** HOF reference of [[Tokenize.words_ws]] (parity tests only): the
    * whitespace tokenization of a text column (empty/blank text → empty
    * array; `split` leaves empty leading tokens, so filter them out).
    * THE cross-engine tokenization contract ("\s+ split, empties
    * dropped"), stated declaratively; the native function runs it in
    * codegen, and TokenizeParitySpec pins byte-identical outputs.
    */
  private[graft] def wordsColHof(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  def docLenWords(words: Column): Column = size(words)

  def meanWordLen(words: Column): Column =
    when(size(words) === 0, lit(0.0)).otherwise(
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        size(words))

  /** Symbol characters per word (Gopher's symbol-to-word ratio; symbol set
    * covers the classic #/…/currency/markup noise).
    */
  def symbolWordRatio(text: Column, words: Column): Column =
    when(size(words) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^#@$%^&*()_+=\\[\\]{}|<>~]", ""))
        .cast("double") / size(words))

  private val stopwordSet: Column =
    typedlit(Corpus.roStopwords.toSeq)

  /** Fraction of words that are Romanian stopwords (C4-style natural-text
    * signal). Comparison is on the lowercased, punctuation-trimmed token.
    */
  def stopwordFrac(words: Column): Column =
    when(size(words) === 0, lit(0.0)).otherwise(
      size(filter(words, w =>
        array_contains(stopwordSet,
          lower(regexp_replace(w, "(?U)^\\W+|\\W+$", "")))
      )).cast("double") / size(words))

  /** Fraction of non-blank lines that are duplicates of an earlier line. */
  def dupLineFrac(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    when(size(lines) === 0, lit(0.0)).otherwise(
      (size(lines) - size(array_distinct(lines))).cast("double") / size(lines))
  }

  /** Non-blank lines of a text column (Spark `trim` strips spaces only —
    * mirrored by DuckDB's default `trim`).
    */
  private def nonBlankLines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  /** HOF reference of [[graft.functions.LineShape.bullet_line_frac]]
    * (parity tests only): the fraction of non-blank lines whose first
    * non-space character is a bullet marker (Gopher's "lines starting with
    * a bullet point" rule; marker set: •, ‣, ▪, -, *).
    */
  private[graft] def bulletLineFracHof(text: Column): Column = {
    val lines = nonBlankLines(text)
    when(size(lines) === 0, lit(0.0)).otherwise(
      size(filter(lines, l =>
        substring(ltrim(l), 1, 1).isin("•", "‣", "▪", "-", "*")))
        .cast("double") / size(lines))
  }

  /** HOF reference of [[graft.functions.LineShape.ellipsis_line_frac]]
    * (parity tests only): the fraction of non-blank lines ending in an
    * ellipsis ("..." or "…") — Gopher's truncated-line signal for scraped
    * link farms / teasers.
    */
  private[graft] def ellipsisLineFracHof(text: Column): Column = {
    val lines = nonBlankLines(text)
    when(size(lines) === 0, lit(0.0)).otherwise(
      size(filter(lines, l => {
        val r = rtrim(l)
        r.endsWith("...") || r.endsWith("…")
      })).cast("double") / size(lines))
  }

  /** HOF reference of [[graft.functions.LineShape.alpha_word_frac]]
    * (parity tests only): the fraction of words containing at least one
    * letter (Gopher requires ≥ 0.8 — filters tables of numbers, markup
    * soup, hash dumps).
    */
  private[graft] def alphaWordFracHof(words: Column): Column =
    when(size(words) === 0, lit(0.0)).otherwise(
      size(filter(words, w => w.rlike("\\p{L}")))
        .cast("double") / size(words))

  /** Appends the five heuristic columns to a DataFrame with a `text` column.
    * One pass over `text`; all expressions codegen.
    */
  def withHeuristics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val w = Tokenize.words_ws(t)
    df.withColumns(Map(
      "doc_len_words" -> docLenWords(w),
      "mean_word_len" -> meanWordLen(w),
      "symbol_word_ratio" -> symbolWordRatio(t, w),
      "stopword_frac" -> stopwordFrac(w),
      "dup_line_frac" -> dupLineFrac(t)
    ))
  }
}
