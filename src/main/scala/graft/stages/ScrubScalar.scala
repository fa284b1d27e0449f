package graft.stages

import java.util.regex.{Matcher, Pattern}

import scala.collection.mutable.ArrayBuilder

import graft.synth.Corpus

/** Scalar engine for the N4 scrub, used inside the fused `mapPartitions`
  * scorer: an anchored scanner whose time is linear in the document length.
  * Same semantics as the [[Scrub]] regex strings run with `java.util.regex`
  * (the test-scope `ScrubRegexRef`; cross-validated in ScrubParitySpec and
  * ScrubPropertySpec): counts measured on the ORIGINAL text, replacements
  * applied sequentially email → phone → slur → CNP.
  *
  * No pattern with unbounded repetition runs over document text, because
  * `java.util.regex` backtracks quadratically on long local-part runs and
  * recurses once per repeat (one `a@b.b.…` token of a few thousand labels
  * overflows the stack):
  *  - emails are matched by hand from each `@` (`emailEnd` reproduces the
  *    greedy backtracking of `Scrub.emailRe`'s domain);
  *  - phones and slurs run the compiled `Scrub.phoneRe` / `Scrub.slurRe` with
  *    `lookingAt` on a bounded region at each anchor (`07`/`+40`; an `ule`
  *    hit), with transparent bounds so the lookarounds and `\b` still see
  *    the text around the region;
  *  - CNPs are [[CnpScrubber.spans]], one pass over digit runs.
  * A stage whose input is still the original text replaces the spans found
  * for counting; otherwise it scans its own input again.
  */
object ScrubScalar {

  final case class Result(
      scrubbed: String, nEmails: Int, nPhones: Int, nCnps: Int, nSlurs: Int)

  // The slur anchor: a match of `Scrub.slurRe` spells one lexicon entry, so
  // it ends in that entry's last three letters. Under (?iu) 'u', 'l' and 'e'
  // match only their ASCII cases (ScrubPropertySpec sweeps every code point),
  // so every slur ends at an ASCII-case-insensitive "ule" hit — as long as
  // every entry ends in "ule" (Romanian vocative). Fail loudly at class-init
  // if the lexicon ever diverges, instead of silently missing slurs.
  require(Corpus.toxicLexicon.forall(w => w.regionMatches(true, w.length - 3, "ule", 0, 3)),
    "ScrubScalar anchors slurs on 'ule': every toxicLexicon entry must end in it")

  private val phoneP = Pattern.compile(Scrub.phoneRe)
  private val slurP = Pattern.compile(Scrub.slurRe)

  /** Longest string `Scrub.phoneRe` matches: `+40 7xx xxx xxx`. */
  private val PhoneMaxLen = 15
  /** Every lexicon character matches only BMP characters under (?iu), so a
    * slur spans exactly its entry's length.
    */
  private val SlurMaxLen = Corpus.toxicLexicon.map(_.length).max
  private val SlurMinLen = Corpus.toxicLexicon.map(_.length).min

  /** `s` with each `[start, end)` of `spans` (start/end pairs of
    * non-overlapping matches, in text order) replaced by `token`.
    */
  private[stages] def replace(s: String, spans: Array[Int], token: String): String =
    if (spans.isEmpty) s
    else {
      val sb = new java.lang.StringBuilder(s.length + spans.length / 2 * token.length)
      var copied = 0
      var k = 0
      while (k < spans.length) {
        sb.append(s, copied, spans(k)).append(token)
        copied = spans(k + 1)
        k += 2
      }
      sb.append(s, copied, s.length).toString
    }

  private def isLetter(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  /** `[A-Za-z0-9-]`, a domain-label character. */
  private def isDomain(c: Char): Boolean = isLetter(c) || (c >= '0' && c <= '9') || c == '-'
  /** `[A-Za-z0-9._%+-]`, a local-part character. */
  private def isLocal(c: Char): Boolean =
    isDomain(c) || c == '.' || c == '_' || c == '%' || c == '+'

  /** End of the email whose domain starts at `p` (just after its `@`), or -1.
    * The domain `[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)*\.[A-Za-z]{2,}` reads the
    * dot-separated labels L0.L1…Lm, each a maximal non-empty
    * `[A-Za-z0-9-]` run; the greedy group backtracks to the LAST label Lj,
    * j ≥ 1, that opens with ≥ 2 ASCII letters, and the match ends after
    * those letters.
    */
  private def emailEnd(s: String, p: Int): Int = {
    val n = s.length
    var i = p
    while (i < n && isDomain(s.charAt(i))) i += 1
    if (i == p) return -1
    var end = -1
    while (i + 1 < n && s.charAt(i) == '.' && isDomain(s.charAt(i + 1))) {
      val label = i + 1
      i = label
      while (i < n && isLetter(s.charAt(i))) i += 1
      if (i - label >= 2) end = i
      while (i < n && isDomain(s.charAt(i))) i += 1
    }
    end
  }

  /** `Scrub.emailRe` matches, leftmost first. Every start in the local-part
    * run before an `@` reaches that same `@`, so the match (if any) starts
    * at the run's first character at or after the previous match's end, and
    * a failed `@` is tried once.
    */
  private def emailSpans(s: String): Array[Int] = {
    val sp = new ArrayBuilder.ofInt
    var from = 0
    var at = s.indexOf('@')
    while (at >= 0) {
      var start = at
      while (start > from && isLocal(s.charAt(start - 1))) start -= 1
      val end = if (start < at) emailEnd(s, at + 1) else -1
      if (end >= 0) { sp.addOne(start).addOne(end); from = end }
      at = s.indexOf('@', at + 1)
    }
    sp.result()
  }

  private def windowed(p: Pattern, s: String): Matcher =
    p.matcher(s).useTransparentBounds(true).useAnchoringBounds(false)

  /** Hits of either needle in `s`, in text order. `String.indexOf` does the
    * scanning, so it runs as compiled JDK code even while this class is cold
    * (the first documents of a task).
    */
  private final class Needles(s: String, a: String, b: String) {
    private var ia = s.indexOf(a)
    private var ib = s.indexOf(b)
    /** First hit at or after `from`, or -1. */
    def from(from: Int): Int = {
      if (ia >= 0 && ia < from) ia = s.indexOf(a, from)
      if (ib >= 0 && ib < from) ib = s.indexOf(b, from)
      if (ia < 0) ib else if (ib < 0) ia else math.min(ia, ib)
    }
  }

  /** `Scrub.phoneRe` matches, leftmost first: only `07` and `+40` open one. */
  private def phoneSpans(s: String): Array[Int] = {
    val sp = new ArrayBuilder.ofInt
    var m: Matcher = null
    val n = s.length
    val anchors = new Needles(s, "07", "+40")
    var i = anchors.from(0)
    while (i >= 0) {
      var next = i + 1
      if (m == null) m = windowed(phoneP, s)
      m.region(i, math.min(n, i + PhoneMaxLen))
      if (m.lookingAt()) { sp.addOne(i).addOne(m.end()); next = m.end() }
      i = anchors.from(next)
    }
    sp.result()
  }

  /** `Scrub.slurRe` matches, leftmost first. A slur ending at the `ule` hit
    * whose `l` is at `l` starts in `[l + 2 - SlurMaxLen, l + 2 - SlurMinLen]`;
    * those windows are visited in text order and each start is tried once.
    */
  private def slurSpans(s: String): Array[Int] = {
    val sp = new ArrayBuilder.ofInt
    var m: Matcher = null
    val n = s.length
    var tried = 0 // every start below this was tried or lies inside a match
    val ls = new Needles(s, "l", "L")
    var l = ls.from(1)
    while (l >= 0 && l + 1 < n) {
      if ((s.charAt(l - 1) | 0x20) == 'u' && (s.charAt(l + 1) | 0x20) == 'e') {
        var start = math.max(tried, l + 2 - SlurMaxLen)
        val last = l + 2 - SlurMinLen
        while (start <= last) {
          if (m == null) m = windowed(slurP, s)
          m.region(start, math.min(n, start + SlurMaxLen))
          if (m.lookingAt()) { sp.addOne(start).addOne(m.end()); start = m.end() }
          else start += 1
        }
        tried = start
      }
      l = ls.from(l + 1)
    }
    sp.result()
  }

  def apply(text: String): Result = {
    if (text == null || text.isEmpty) return Result(text, 0, 0, 0, 0)
    val emails = emailSpans(text)
    val phones = phoneSpans(text)
    val slurs = slurSpans(text)
    val cnps = CnpScrubber.spans(text)
    var out = replace(text, emails, Scrub.EmailToken)
    out = replace(out, if (out eq text) phones else phoneSpans(out), Scrub.PhoneToken)
    out = replace(out, if (out eq text) slurs else slurSpans(out), Scrub.SlurToken)
    // replacements never leave a valid 13-digit run the original lacked (the
    // regex oracle in ScrubPropertySpec always runs this pass), so a text
    // without a CNP skips it
    if (cnps.nonEmpty)
      out = replace(out, if (out eq text) cnps else CnpScrubber.spans(out), CnpScrubber.Token)
    Result(out, emails.length / 2, phones.length / 2, cnps.length / 2, slurs.length / 2)
  }
}
