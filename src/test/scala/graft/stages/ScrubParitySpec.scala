package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.synth.SynthPages

/** The production scrub ([[ScrubScalar]], the anchored scanner) against the
  * regex reference ([[ScrubRegexRef]], the `Scrub` regex strings run with
  * `java.util.regex`): identical scrubbed text and counts.
  */
class ScrubParitySpec extends AnyFunSuite {

  test("regex reference and scalar scrub agree on 1200 synthetic pages") {
    (0L until 1200L).foreach { idx =>
      val t = SynthPages.gen(idx).text
      assert(ScrubScalar(t) == ScrubRegexRef(t), s"page @$idx")
    }
  }

  test("uppercase slur and edge strings agree") {
    val cases = Seq("PROSTULE!", "prostULE", "u l e", "", "@", "07",
      "a@b.ro 0722123456 " + SynthPages.makeCnp(42L, 3L, valid = true),
      // counted on the original text, replaced in sequence: the phone and the
      // slur inside an email are counted, and only <EMAIL> is emitted
      "0722123456@x.ro", "a@prostule.ro",
      SynthPages.makeCnp(42L, 5L, valid = true) + "@x.ro",
      "a@b.ro0722123456", "+40 722 123 4567@x.ro", "a@x.ro0b@y.ro")
    cases.foreach(t => assert(ScrubScalar(t) == ScrubRegexRef(t), s"text=$t"))
  }
}
