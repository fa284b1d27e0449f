package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** X1 — structured-output annotation parser, semantics mirroring the
  * reference's `extract_prediction` (`fineweb/big_inference.py:84-115`):
  *
  *  - split on newlines; strip each line; strip leading `*` runs
  *  - skip blank lines and lines without `:`
  *  - split on the FIRST `:`; strip both sides; strip leading `*` from both
  *  - Romanian key → field via the FIELDS map (`big_inference.py:22-29`)
  *  - `int_score` is converted to int ONLY if all-digits (`:102-103`);
  *    otherwise the raw string value is kept (in-band, C6)
  *  - unknown keys ⇒ problem flag; any missing field ⇒ the `"ERROR"`
  *    sentinel (`:109-112`) — failures stay in-band, rows are never dropped
  */
object Annotations {
  final val Error = "ERROR"

  /** Romanian annotation keys → canonical fields (big_inference.py:22-29). */
  val fields: Map[String, String] = Map(
    "Topic" -> "topic",
    "Subtopic" -> "subtopic",
    "Format" -> "format",
    "Nivel educațional" -> "age_group",
    "Valoare educațională" -> "int_score",
    "Explicație" -> "explanation"
  )
  private val fieldOrder =
    Seq("topic", "subtopic", "format", "age_group", "int_score", "explanation")

  final case class Annotation(
      topic: String,
      subtopic: String,
      format: String,
      age_group: String,
      int_score: String, // digits, or the raw value, or "ERROR" — in-band
      explanation: String,
      problem: Boolean
  )

  private def stripStars(s0: String): String = {
    var s = s0
    while (s.nonEmpty && s.charAt(0) == '*') s = s.substring(1).trim
    s
  }

  def parse(output: String): Annotation = {
    val acc = scala.collection.mutable.Map.empty[String, String]
    var problem = false
    if (output != null) {
      output.split("\n", -1).foreach { raw =>
        val line = stripStars(raw.trim)
        if (line.nonEmpty && line.contains(":")) {
          val Array(k0, v0) = line.split(":", 2)
          val key = stripStars(k0.trim)
          val value = stripStars(v0.trim)
          fields.get(key) match {
            case Some(f) =>
              // int_score: digits-only guard (isdigit); others verbatim
              acc(f) = value
            case None => problem = true
          }
        }
      }
    }
    fieldOrder.foreach { f =>
      if (!acc.contains(f)) { acc(f) = Error; problem = true }
    }
    // normalize int_score: non-digit values stay as-is (reference keeps the
    // raw string when not .isdigit(), big_inference.py:102-106)
    Annotation(acc("topic"), acc("subtopic"), acc("format"), acc("age_group"),
      acc("int_score"), acc("explanation"), problem)
  }

  /** Typed numeric score with the eval penalty convention: unparseable
    * scores contribute a fixed penalty distance of 5
    * (`small_model_inference/test.py:34-37`).
    */
  def intScore(a: Annotation): Option[Int] =
    if (a.int_score.nonEmpty && a.int_score.forall(_.isDigit))
      Some(a.int_score.toInt)
    else None

  /** Column wrapper (one deterministic scalar UDF; used where the full
    * *-stripping/ERROR semantics are required — the declarative subset is
    * covered by regexp_extract in the analytics queries).
    */
  def parse_annotation(c: Column): Column =
    udf((s: String) => parse(s)).apply(c)
}
