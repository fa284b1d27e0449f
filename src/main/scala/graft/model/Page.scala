package graft.model

import java.sql.Timestamp

/** Primary input record — the authoritative Common-Crawl-style page shape
  * from BASELINE.json `input_hint`:
  * `(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)`.
  *
  * Mirrors the reference's ingested record (9-field projection at
  * `fineweb/fineweb2_download.py:14-24`).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** Full annotated output row of the quality pipeline (§2.8 N1–N5).
  * One row per input page; `keep` is the pipeline's decision, and
  * `scrubbed_text` satisfies the byte-identity invariant on non-PII spans.
  */
final case class AnnotatedPage(
    url: String,
    warc_ts: Timestamp,
    crawl_snapshot: String,
    lang: String,
    // N1 langid
    lang_pred: String,
    lang_conf: Double,
    // N2 perplexity
    ppl: Double,
    // N3 heuristics
    doc_len_words: Int,
    mean_word_len: Double,
    symbol_word_ratio: Double,
    stopword_frac: Double,
    dup_line_frac: Double,
    // N4 scrub
    scrubbed_text: String,
    n_emails: Int,
    n_phones: Int,
    n_cnps: Int,
    n_slurs: Int,
    // N5 decision
    keep: Boolean
)

/** Decision thresholds for the keep/drop conjunction (N5).
  *
  * Shape mirrors the reference's threshold filters: single-score `>=`
  * comparison (`small_model_inference/filter.py:22`) and conjunctive
  * multi-score thresholds (`ro_vs_eng/filter_jql.py:27`, production values
  * `run.sh:4-6`). Heuristic bounds are Gopher/C4-style, per the north rule.
  */
final case class Thresholds(
    minLangConf: Double = 0.65,
    maxPpl: Double = 300.0,
    minWords: Int = 40,
    maxWords: Int = 200000,
    minMeanWordLen: Double = 2.5,
    maxMeanWordLen: Double = 12.0,
    maxSymbolWordRatio: Double = 0.1,
    minStopwordFrac: Double = 0.03,
    maxDupLineFrac: Double = 0.30,
    maxSlurs: Int = 0
)

object Thresholds {
  val default: Thresholds = Thresholds()
}

/** Closed label taxonomies from `small_model_inference/taxonomy.py:1-86`. */
object Taxonomy {
  val topics: Seq[String] = Seq(
    "Conținut pentru adulți", "Artă și design", "Dezvoltare software",
    "Crime și investigații", "Educație și joburi", "Electronică și hardware",
    "Divertisment", "Viață socială", "Modă și frumusețe",
    "Finanțe și afaceri", "Mâncare și băuturi", "Jocuri", "Sănătate",
    "Istorie și geografie", "Hobby-uri și casă", "Industrial", "Literatură",
    "Politică", "Religie", "Știință, matematică și tehnologie", "Software",
    "Sport și fitness", "Transport", "Turism și călătorii")

  val formats: Seq[String] = Seq(
    "Articol academic", "Cuprins", "Scriere creativă",
    "Pagină de asistență pentru clienți", "Forum de discuții",
    "Întrebări frecvente (FAQs)", "Conținut incomplet",
    "Articol de cunoștințe", "Notificări legale", "Articol de tip listă",
    "Articol de știri", "Scriere non-ficțiune", "Pagină despre organizație",
    "Anunț organizațional", "Pagină personală", "Blog personal",
    "Pagină de produs", "Forum întrebări și răspunsuri", "Spam și reclame",
    "Date structurate", "Scriere tehnică", "Transcriere sau interviu",
    "Tutorial sau ghid", "Recenzii ale utilizatorilor")

  val ageGroups: Seq[String] = Seq(
    "Preșcolar", "Școală primară", "Școală gimnazială", "Liceu", "Licență",
    "Post-universitar")
}

/** The driver-generated testdata contract (TESTDATA.md, seed=42) — the ONE
  * definition of the synthetic tables' closed domains, so a query and its
  * oracle SQL can't drift from each other or from the corpus.
  */
object TestTables {
  /** `documents.source` domain. */
  val documentSources: Seq[String] = (0 until 20).map(i => s"src$i")
}
