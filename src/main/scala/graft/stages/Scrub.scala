package graft.stages

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.synth.Corpus

/** N4 — PII/toxicity scrub: the regex strings below are the SPEC of the scrub.
  * The production path is the anchored linear-time scanner [[ScrubScalar]]
  * inside the fused scorer; the Column chain here (native `regexp_replace` /
  * `regexp_count` + the checksum-validating CNP expression) has no production
  * caller and stays as the parity oracle (ScrubParitySpec), as does the
  * test-scope `ScrubRegexRef` (ScrubPropertySpec).
  *
  * Reference analogue: adult-content isolation (`full_dataset_analysis/
  * adult.py:8,19` on the taxonomy class at `small_model_inference/
  * taxonomy.py:2`); the concrete regex targets (emails, RO phones, CNP-like
  * 13-digit IDs, toxicity lexicon) come from the north rule.
  *
  * Invariants (tested): non-matching spans are byte-identical (Romanian
  * diacritics untouched, no normalization); scrub is idempotent — the
  * replacement tokens never re-match any pattern.
  */
object Scrub {
  val EmailToken = "<EMAIL>"
  val PhoneToken = "<PHONE>"
  val SlurToken = "<SLUR>"

  /** Conservative email shape: a local-part run, `@`, dot-separated domain
    * labels and an ASCII-letter TLD of at least two letters.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}"

  /** Romanian mobile formats: +40 7xx xxx xxx (space/dot/dash separated) and
    * compact 07xxxxxxxx; digit lookarounds stop partial matches inside longer
    * digit runs (e.g. CNPs, order numbers).
    */
  val phoneRe = "(?<![\\d+])(\\+40[ .-]?7\\d{2}[ .-]?\\d{3}[ .-]?\\d{3}|07\\d{8})(?!\\d)"

  val slurRe: String =
    "(?iu)\\b(" + Corpus.toxicLexicon.mkString("|") + ")\\b"

  def countEmails(t: Column): Column = regexp_count(t, lit(emailRe)).cast("int")
  def countPhones(t: Column): Column = regexp_count(t, lit(phoneRe)).cast("int")
  def countSlurs(t: Column): Column = regexp_count(t, lit(slurRe)).cast("int")
  def countCnps(t: Column): Column = CnpScrubber.count_cnp(t)

  def scrubText(t: Column): Column =
    CnpScrubber.scrub_cnp(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, emailRe, EmailToken),
          phoneRe, PhoneToken),
        slurRe, SlurToken))

  /** Appends pii counts (measured on the ORIGINAL text) + `scrubbed_text`.
    *
    * Bounds: Spark's `regexp_*` run `java.util.regex`, so this inherits both
    * of its exposures on `emailRe`. Time is quadratic in a local-part run
    * that reaches no valid domain (a 10 KB base64-like token before `@x`
    * costs about a second on JDK 17). The `(\.[A-Za-z0-9-]+)*` group
    * recurses once per domain label, so one `a@b.b.…` token of a few
    * thousand labels (3,000 on a default JDK 17 thread stack) throws
    * `StackOverflowError` and fails the task. Keep it off production paths;
    * [[ScrubScalar]] has neither exposure.
    */
  def withScrub(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumns(Map(
      "n_emails" -> countEmails(t),
      "n_phones" -> countPhones(t),
      "n_cnps" -> countCnps(t),
      "n_slurs" -> countSlurs(t),
      "scrubbed_text" -> scrubText(t)
    ))
  }
}
