package graft.stages

import graft.synth.Corpus

/** N4 — PII/toxicity scrub: the regex strings below are the SPEC of the scrub.
  * The production engine is the anchored linear-time scanner [[ScrubScalar]]
  * inside the fused scorer (CNPs: [[CnpScrubber]]); the test-scope regex
  * reference `ScrubRegexRef` runs these strings with `java.util.regex` as
  * the oracle of ScrubParitySpec and ScrubPropertySpec.
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
}
