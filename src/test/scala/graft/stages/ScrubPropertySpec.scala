package graft.stages

import java.util.regex.Pattern

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.synth.{Corpus, SynthPages}

/** Regex reference for [[ScrubScalar]] (the oracle of ScrubParitySpec and
  * ScrubPropertySpec): the `Scrub` regex strings run over the whole
  * document with `java.util.regex`, three count loops and three
  * `replaceAll` passes, then the CNP pass ([[cnpScrub]], [[cnpCount]]
  * over [[CnpScrubber.spans]]). It is quadratic on long
  * local-part runs and overflows the stack on long domain-label chains, so
  * it is only fed inputs below those limits.
  */
object ScrubRegexRef {
  private val emailP = Pattern.compile(Scrub.emailRe)
  private val phoneP = Pattern.compile(Scrub.phoneRe)
  private val slurP = Pattern.compile(Scrub.slurRe)

  private def count(p: Pattern, s: String): Int = {
    val m = p.matcher(s)
    var c = 0
    while (m.find()) c += 1
    c
  }

  /** `s` with every CNP replaced by [[CnpScrubber.Token]]; everything
    * else is copied byte-identically.
    */
  def cnpScrub(s: String): String =
    ScrubScalar.replace(s, CnpScrubber.spans(s), CnpScrubber.Token)

  def cnpCount(s: String): Int = CnpScrubber.spans(s).length / 2

  def apply(text: String): ScrubScalar.Result = {
    if (text == null || text.isEmpty) return ScrubScalar.Result(text, 0, 0, 0, 0)
    val afterEmail = emailP.matcher(text).replaceAll(Scrub.EmailToken)
    val afterPhone = phoneP.matcher(afterEmail).replaceAll(Scrub.PhoneToken)
    val afterSlur = slurP.matcher(afterPhone).replaceAll(Scrub.SlurToken)
    ScrubScalar.Result(cnpScrub(afterSlur), count(emailP, text),
      count(phoneP, text), cnpCount(text), count(slurP, text))
  }
}

/** The anchored scanner against the regex reference on generated documents
  * that mix every pattern with the edge cases that decide match order, and
  * the [[LinearTimeBound]] on adversarial shapes the regex cannot survive.
  */
class ScrubPropertySpec extends LinearTimeBound {

  private def digits(n: Int): Gen[String] = Gen.listOfN(n, Gen.numChar).map(_.mkString)
  private def strOf(chars: String, min: Int, max: Int): Gen[String] =
    Gen.choose(min, max).flatMap(Gen.listOfN(_, Gen.oneOf(chars.toSeq)).map(_.mkString))

  private val localChars = "abcXYZ019._%+-"
  private val domainChars = "abroRO07-"

  private val email: Gen[String] = for {
    local <- strOf(localChars, 0, 10)
    labels <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, strOf(domainChars, 0, 5)))
    tld <- Gen.oneOf("ro", "RO", "r", "com", "ro0", "c1", "", "ro-x", "x.ro")
  } yield local + "@" + (labels :+ tld).mkString(".")

  private val phone: Gen[String] = {
    val sep = Gen.oneOf("", "", " ", ".", "-", "  ")
    Gen.oneOf(
      for (a <- sep; b <- sep; c <- sep; d <- digits(2); e <- digits(3); f <- digits(3);
           tail <- Gen.oneOf("", "", "4", "٤"))
        yield s"+40${a}7$d$b$e$c$f$tail",
      for (d <- digits(8); tail <- Gen.oneOf("", "", "9", "７"))
        yield s"07$d$tail",
      Gen.oneOf("+4", "+40", "07", "+40 7", "0712"))
  }

  private val cnp: Gen[String] = for {
    id <- Gen.choose(0L, 100000L)
    valid <- Gen.oneOf(true, false)
  } yield SynthPages.makeCnp(42L, id, valid)

  /** Case variants `(?iu)` folds onto each lexicon letter, non-ASCII ones included. */
  private val variants: Map[Char, String] =
    Map('i' -> "iIİı", 's' -> "sSſ", 'â' -> "âÂ").withDefault(c => s"$c${c.toUpper}")

  private val slur: Gen[String] = for {
    w <- Gen.oneOf(Corpus.toxicLexicon.toSeq)
    cased <- Gen.sequence[List[Char], Char](w.map(c => Gen.oneOf(variants(c).toSeq)))
    trail <- Gen.oneOf("", "", "", "\u0301", "\u0301\u0301", "ule", "0", "_", "ă")
  } yield cased.mkString + trail

  private val words: Gen[String] = Gen.oneOf(
    "școală", "țară", "și", "mule", "ULE", "Ule", "regula", "x.ro", "ro", "a", "b.",
    "@", "@@", "a@x.ro0b@y.ro", "0722123456@x.ro", "a@prostule.ro", "a@b.ro0722123456",
    "+40 722 123 4567@x.ro", "١", "７", "٣٤٥", "🙂", "𝐀", "\uD83D", "\u0301",
    "<EMAIL>", "<PHONE>", "<SLUR>", "<CNP>")

  private val noise: Gen[String] = strOf("aZ09.-_%+@ ulePROST\u0301١７ăâ\n", 0, 40)

  private val longRun: Gen[String] = Gen.oneOf(
    for (n <- Gen.choose(100, 4000); run <- strOf("ABCxyz019+", n, n);
         tail <- Gen.oneOf("@x", "@x.ro", "@", "@x.r")) yield run + tail,
    for (n <- Gen.choose(10, 900); tld <- Gen.oneOf("ro", "c1", ""))
      yield "a@" + "b." * n + tld,
    for (n <- Gen.choose(10, 1000); unit <- Gen.oneOf("ule", "07", "+40 ", "@", "prostule "))
      yield unit * n)

  private val piece: Gen[String] = Gen.frequency(
    4 -> email, 4 -> phone, 3 -> cnp, 4 -> slur, 5 -> words, 4 -> noise, 1 -> longRun)

  private val separator: Gen[String] =
    Gen.frequency(4 -> Gen.const(""), 4 -> Gen.const(" "),
      3 -> Gen.oneOf("\n", ", ", ".", "-", "+", "@", "_", "1", "١", "７", "\u0301", "🙂"))

  private val doc: Gen[String] = for {
    n <- Gen.choose(0, 12)
    parts <- Gen.listOfN(n, Gen.zip(piece, separator))
  } yield parts.map { case (p, s) => p + s }.mkString

  test("anchored scanner matches the regex reference on all five fields (2,000 generated docs)") {
    val prop = Prop.forAllNoShrink(doc) { t =>
      val got = ScrubScalar(t)
      val want = ScrubRegexRef(t)
      (got == want) :| s"text=${t.take(300)} (len ${t.length})\n got=$got\nwant=$want"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(Seed(20261017L)),
      prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("the slur anchor's assumption: under (?iu) 'u', 'l', 'e' match only their ASCII cases " +
    "and every lexicon letter matches only BMP characters") {
    Corpus.toxicLexicon.mkString.distinct.foreach { ch =>
      val m = Pattern.compile("(?iu)" + Pattern.quote(ch.toString)).matcher("")
      var cp = 0
      while (cp <= Character.MAX_CODE_POINT) {
        if (cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE) {
          if (m.reset(new String(Character.toChars(cp))).matches()) {
            assert(Character.isBmpCodePoint(cp), f"'$ch' matches U+$cp%X")
            if ("ule".contains(ch)) assert((cp | 0x20) == ch, f"'$ch' matches U+$cp%X")
          }
        }
        cp += 1
      }
    }
  }

  /** Adversarial shapes: each is quadratic or a stack overflow for the
    * regex, and must stay linear here. `expect` is the count the shape holds.
    */
  private val adversarial: Seq[(String, Int => String, ScrubScalar.Result => Int, Int => Int)] = {
    val b64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+"
    def fill(unit: String)(len: Int): String = unit * (len / unit.length)
    Seq(
      ("base64 run + @x",
        len => { val r = new scala.util.Random(7); Seq.fill(len - 2)(b64(r.nextInt(b64.length))).mkString + "@x" },
        _.nEmails, _ => 0),
      ("a@ + b.×N", len => "a@" + fill("b.")(len - 2), _.nEmails, _ => 0),
      ("@×N", fill("@"), _.nEmails, _ => 0),
      ("07×N", fill("07"), _.nPhones, _ => 0),
      ("+40 ×N", fill("+40 "), _.nPhones, _ => 0),
      ("ule×N", fill("ule"), _.nSlurs, _ => 0),
      ("prostule ×N", fill("prostule "), _.nSlurs, _ / "prostule ".length))
  }

  test("linear time on adversarial shapes: 1 MB < 250 ms, 1 MB / 128 KB time ratio <= 16") {
    adversarial.foreach { case (name, make, field, expect) =>
      val b = make(BigLen)
      assert(field(ScrubScalar(b)) == expect(b.length), s"$name: match count")
      assertLinear(name, make(SmallLen), b)(ScrubScalar(_))
    }
  }
}
