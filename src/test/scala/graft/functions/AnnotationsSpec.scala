package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Annotations._

/** X1 parser fixtures (FIXTURES.md `parser` family), mirroring
  * `fineweb/big_inference.py:84-115` semantics incl. `*`-prefixes, first-`:`
  * split, isdigit guard and ERROR sentinels.
  */
class AnnotationsSpec extends AnyFunSuite {

  test("well-formed output parses all six fields") {
    val out = parse(
      """Topic: Educație și joburi
        |Subtopic: universități
        |Format: Articol de cunoștințe
        |Nivel educațional: Liceu
        |Valoare educațională: 4
        |Explicație: text educațional despre universități""".stripMargin)
    assert(out.topic == "Educație și joburi")
    assert(out.subtopic == "universități")
    assert(out.format == "Articol de cunoștințe")
    assert(out.age_group == "Liceu")
    assert(out.int_score == "4")
    assert(intScore(out).contains(4))
    assert(!out.problem)
  }

  test("*-prefixed keys and markdown bullets are stripped") {
    val out = parse(
      """** Topic: Sport și fitness
        |* Subtopic: fotbal
        |*Format: Blog personal
        |* *Nivel educațional: Licență
        |** Valoare educațională: ** 2
        |* Explicație: despre fotbal""".stripMargin)
    assert(out.topic == "Sport și fitness")
    assert(out.subtopic == "fotbal")
    assert(out.format == "Blog personal")
    assert(out.age_group == "Licență")
    assert(out.int_score == "2")
    assert(!out.problem)
  }

  test("missing fields get the ERROR sentinel and the problem flag") {
    val out = parse("Topic: Jocuri\nValoare educațională: 1")
    assert(out.topic == "Jocuri")
    assert(out.subtopic == Error)
    assert(out.format == Error)
    assert(out.explanation == Error)
    assert(out.problem)
  }

  test("value split happens on the FIRST colon only") {
    val out = parse("Explicație: conține: două puncte\n" +
      "Topic: Literatură\nSubtopic: s\nFormat: f\n" +
      "Nivel educațional: Liceu\nValoare educațională: 3")
    assert(out.explanation == "conține: două puncte")
  }

  test("non-digit score stays in-band (isdigit guard)") {
    val out = parse("Valoare educațională: patru\nTopic: t\nSubtopic: s\n" +
      "Format: f\nNivel educațional: n\nExplicație: e")
    assert(out.int_score == "patru")
    assert(intScore(out).isEmpty) // → eval applies the penalty distance 5
  }

  test("unknown keys set the problem flag but don't fail") {
    val out = parse("Cheie necunoscută: ceva\nTopic: t\nSubtopic: s\n" +
      "Format: f\nNivel educațional: n\nValoare educațională: 5\nExplicație: e")
    assert(out.problem)
    assert(out.int_score == "5")
  }

  test("null/empty input is total: all ERROR") {
    val out = parse(null)
    assert(out.topic == Error && out.int_score == Error && out.problem)
    val out2 = parse("")
    assert(out2.topic == Error && out2.problem)
  }

  test("parser is total: never throws, always yields all 6 fields") {
    // property loop over synthetic corpus texts + adversarial mutations
    (0L until 500L).foreach { id =>
      val t = graft.synth.SynthPages.gen(id).text
      Seq(t, "*" + t, t + ":", ":" + t, t.replace(' ', ':'), "***\n::\n*:*")
        .foreach { s =>
          val a = parse(s)
          assert(a.topic != null && a.subtopic != null && a.format != null &&
            a.age_group != null && a.int_score != null && a.explanation != null)
        }
    }
  }

  test("taxonomy enums have the reference class counts") {
    import graft.model.Taxonomy
    assert(Taxonomy.topics.length == 24)
    assert(Taxonomy.formats.length == 24)
    assert(Taxonomy.ageGroups.length == 6)
  }
}
