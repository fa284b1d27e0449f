package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.synth.SynthPages

/** The Column (regexp expressions) and scalar (fused scorer) scrub engines
  * must produce identical scrubbed text and counts.
  */
class ScrubParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Column and scalar scrub agree on 1200 synthetic pages") {
    import spark.implicits._
    val texts = (0L until 1200L).map(SynthPages.gen(_).text)
    val colRows = Scrub.withScrub(texts.toDF("text"))
      .select("scrubbed_text", "n_emails", "n_phones", "n_cnps", "n_slurs")
      .collect()
    texts.zip(colRows).zipWithIndex.foreach { case ((t, r), idx) =>
      val s = ScrubScalar(t)
      assert(r.getString(0) == s.scrubbed, s"scrubbed_text @$idx")
      assert(r.getInt(1) == s.nEmails && r.getInt(2) == s.nPhones &&
        r.getInt(3) == s.nCnps && r.getInt(4) == s.nSlurs, s"counts @$idx")
    }
  }

  test("uppercase slur and edge strings agree") {
    import spark.implicits._
    val cases = Seq("PROSTULE!", "prostULE", "u l e", "", "@", "07",
      "a@b.ro 0722123456 " + SynthPages.makeCnp(42L, 3L, valid = true),
      // counted on the original text, replaced in sequence: the phone and the
      // slur inside an email are counted, and only <EMAIL> is emitted
      "0722123456@x.ro", "a@prostule.ro",
      SynthPages.makeCnp(42L, 5L, valid = true) + "@x.ro",
      "a@b.ro0722123456", "+40 722 123 4567@x.ro", "a@x.ro0b@y.ro")
    val colRows = Scrub.withScrub(cases.toDF("text"))
      .select("scrubbed_text", "n_emails", "n_phones", "n_cnps", "n_slurs")
      .collect()
    cases.zip(colRows).foreach { case (t, r) =>
      val s = ScrubScalar(t)
      assert(r.getString(0) == s.scrubbed, s"text=$t")
      assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)) ==
        ((s.nEmails, s.nPhones, s.nCnps, s.nSlurs)), s"counts for $t")
    }
  }
}
