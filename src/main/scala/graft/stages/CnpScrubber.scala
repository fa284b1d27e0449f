package graft.stages

import scala.collection.mutable.ArrayBuilder

import graft.synth.Corpus

/** Single-pass CNP (Romanian personal-numeric-code) detector/scrubber.
  *
  * A regex alone cannot express the CNP checksum
  * ([[graft.synth.Corpus.checkDigit]]), and the FIXTURES spec requires
  * invalid-checksum 13-digit lookalikes to pass through byte-identical.
  * One digit-run scan ([[spans]]), O(n) over the string, finds the CNPs
  * that [[ScrubScalar]] counts and replaces with [[Token]] — cheaper than
  * a regex candidate scan + UDF validation at 100 TB.
  */
object CnpScrubber {
  final val Token = "<CNP>"

  /** True iff s[from, from+13) is 13 ASCII digits, lead digit 1-8, the
    * last one the [[graft.synth.Corpus.checkDigit]] of the other twelve.
    */
  def isValidCnp(s: CharSequence, from: Int): Boolean = {
    val lead = s.charAt(from)
    lead >= '1' && lead <= '8' && {
      val ck = Corpus.checkDigit(s, from)
      ck >= 0 && s.charAt(from + 12) - '0' == ck
    }
  }

  /** CNP spans of `s` as start/end pairs, in text order: the maximal runs of
    * `Character.isDigit` chars (read from [[CharTable]]) that are exactly
    * 13 long and pass [[isValidCnp]].
    */
  def spans(s: String): Array[Int] = {
    val sp = new ArrayBuilder.ofInt
    val n = s.length
    var i = 0
    while (i < n) {
      if (CharTable.isDigit(s.charAt(i))) {
        val start = i
        while (i < n && CharTable.isDigit(s.charAt(i))) i += 1
        if (i - start == 13 && isValidCnp(s, start)) sp.addOne(start).addOne(i)
      } else i += 1
    }
    sp.result()
  }
}
