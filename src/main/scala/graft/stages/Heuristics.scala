package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.synth.Corpus

/** N3 — Gopher/C4-style heuristic quality metrics as pure Catalyst columns.
  *
  * Stays entirely inside whole-stage codegen (no UDF, no mapPartitions):
  * higher-order array functions over `split(text)`. Dataflow analogue in the
  * reference: the learned quality gates consumed by threshold filters
  * (`small_model_inference/filter.py:22`, `ro_vs_eng/filter_jql.py:27`);
  * metric definitions follow Gopher (Rae et al. 2021) / C4 (Raffel et al.
  * 2020) as mandated by the north rule.
  */
object Heuristics {

  /** Whitespace tokenization of a text column (empty/blank text → empty
    * array; `split` leaves empty leading tokens, so filter them out).
    * THE cross-engine tokenization contract ("\s+ split, empties
    * dropped") — since r6 a native codegen Expression
    * ([[graft.functions.Tokenize.words_ws]]): the HOF spelling below ran
    * CodegenFallback-interpreted per token on every repetition/vocab/
    * line-shape query. [[wordsColHof]] stays as the declarative contract
    * statement; TokenizeParitySpec pins byte-identical outputs.
    */
  def wordsCol(text: Column): Column =
    graft.functions.Tokenize.words_ws(text)

  /** HOF reference of [[wordsCol]] (parity tests only). */
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

  /** Fraction of non-blank lines whose first non-space character is a
    * bullet marker (Gopher's "lines starting with a bullet point" rule;
    * marker set: •, ‣, ▪, -, *). Native codegen Expression since r6 (the
    * r5 ADVICE item: the HOF spelling was CodegenFallback on a declared
    * corpus-scale filter stage); [[bulletLineFracHof]] is the parity
    * reference.
    */
  def bulletLineFrac(text: Column): Column =
    graft.functions.LineShape.bullet_line_frac(text)

  private[graft] def bulletLineFracHof(text: Column): Column = {
    val lines = nonBlankLines(text)
    when(size(lines) === 0, lit(0.0)).otherwise(
      size(filter(lines, l =>
        substring(ltrim(l), 1, 1).isin("•", "‣", "▪", "-", "*")))
        .cast("double") / size(lines))
  }

  /** Fraction of non-blank lines ending in an ellipsis ("..." or "…") —
    * Gopher's truncated-line signal for scraped link farms / teasers.
    * Native since r6; [[ellipsisLineFracHof]] is the parity reference.
    */
  def ellipsisLineFrac(text: Column): Column =
    graft.functions.LineShape.ellipsis_line_frac(text)

  private[graft] def ellipsisLineFracHof(text: Column): Column = {
    val lines = nonBlankLines(text)
    when(size(lines) === 0, lit(0.0)).otherwise(
      size(filter(lines, l => {
        val r = rtrim(l)
        r.endsWith("...") || r.endsWith("…")
      })).cast("double") / size(lines))
  }

  /** Fraction of words containing at least one letter (Gopher requires
    * ≥ 0.8 — filters tables of numbers, markup soup, hash dumps).
    * Native since r6; [[alphaWordFracHof]] is the parity reference.
    */
  def alphaWordFrac(words: Column): Column =
    graft.functions.LineShape.alpha_word_frac(words)

  private[graft] def alphaWordFracHof(words: Column): Column =
    when(size(words) === 0, lit(0.0)).otherwise(
      size(filter(words, w => w.rlike("\\p{L}")))
        .cast("double") / size(words))

  /** Appends the five heuristic columns to a DataFrame with a `text` column.
    * One pass over `text`; all expressions codegen.
    */
  def withHeuristics(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val w = wordsCol(t)
    df.withColumns(Map(
      "doc_len_words" -> docLenWords(w),
      "mean_word_len" -> meanWordLen(w),
      "symbol_word_ratio" -> symbolWordRatio(t, w),
      "stopword_frac" -> stopwordFrac(w),
      "dup_line_frac" -> dupLineFrac(t)
    ))
  }
}
