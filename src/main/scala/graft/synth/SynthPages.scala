package graft.synth

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.Page

/** Deterministic synthetic Common-Crawl-style page corpus.
  *
  * Every page is a pure function of (seed, rowId): reruns, partition counts,
  * and parallelism levels all produce byte-identical corpora (FIXTURES.md §5).
  * Families cover each pipeline gate: fluent Romanian (keep), English /
  * Hungarian (langid drop), shuffled & spam (perplexity drop), short /
  * symbol-soup / duplicated-line docs (heuristic drops), toxic docs (scrub +
  * drop), plus orthogonal PII injection (emails, RO phones, valid/invalid
  * CNPs) and zipf-skewed hosts for the salted-repartition path.
  */
object SynthPages {
  import Corpus._

  val DefaultSeed = 42L

  // --- zipf host distribution (s = 1.2 over 1000 hosts) -------------------
  private val NHosts = 1000
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(NHosts)(r => 1.0 / math.pow(r + 1.0, 1.2))
    val total = w.sum
    val cdf = new Array[Double](NHosts)
    var acc = 0.0
    var i = 0
    while (i < NHosts) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(NHosts - 1) = 1.0
    cdf
  }
  def zipfHost(u: Double): Int = {
    val idx = java.util.Arrays.binarySearch(zipfCdf, u)
    if (idx >= 0) idx else math.min(-idx - 1, NHosts - 1)
  }

  // --- crawl snapshots ------------------------------------------------------
  val snapshots: Array[String] =
    Array("CC-MAIN-2024-40", "CC-MAIN-2025-05", "CC-MAIN-2025-14",
      "CC-MAIN-2025-26")
  private val snapshotEpochSec: Array[Long] =
    // 2024-10-01, 2025-01-15, 2025-04-01, 2025-06-15 (UTC midnights)
    Array(1727740800L, 1736899200L, 1743465600L, 1749945600L)

  // --- CNP (Romanian personal numeric code) --------------------------------
  private val cnpWeights = "279146358279".map(_ - '0').toArray
  def cnpChecksum(d12: String): Int = {
    var s = 0
    var i = 0
    while (i < 12) { s += (d12.charAt(i) - '0') * cnpWeights(i); i += 1 }
    val r = s % 11
    if (r == 10) 1 else r
  }
  /** Deterministic 13-digit CNP; valid checksum iff `valid`. */
  def makeCnp(seed: Long, id: Long, valid: Boolean): String = {
    val g = 1 + Det.nextInt(seed, id, "cnp_g", 6) // sex/century 1-6
    val yy = 50 + Det.nextInt(seed, id, "cnp_y", 50)
    val mm = 1 + Det.nextInt(seed, id, "cnp_m", 12)
    val dd = 1 + Det.nextInt(seed, id, "cnp_d", 28)
    val county = 1 + Det.nextInt(seed, id, "cnp_c", 46)
    val seq = 1 + Det.nextInt(seed, id, "cnp_s", 999)
    val d12 = f"$g%d$yy%02d$mm%02d$dd%02d$county%02d$seq%03d"
    val ck = cnpChecksum(d12)
    val ckOut = if (valid) ck else (ck + 1) % 10
    d12 + ckOut.toString
  }

  // --- text families --------------------------------------------------------
  /** Fluent Romanian text following the committed bigram chain. Draw-stream
    * bases are hoisted per (id, field) — `Det.streamInt` re-hashes the
    * field name per draw; `streamIntFrom` yields identical values (r6
    * hot-path: generation sits inside the timed pipeline bench).
    */
  def fluentRo(seed: Long, id: Long, nWords: Int, nLines: Int): String = {
    val sb = new StringBuilder
    var w = Det.nextInt(seed, id, "w0", V)
    val jumpB = Det.streamBase(seed, id, "jump")
    val succB = Det.streamBase(seed, id, "succ")
    val uniB = Det.streamBase(seed, id, "uni")
    val perLine = math.max(1, nWords / math.max(1, nLines))
    var k = 0
    while (k < nWords) {
      if (k > 0) sb.append(if (k % perLine == 0) '\n' else ' ')
      sb.append(roVocab(w))
      val succ = successors(w)
      // 85% follow the chain (low ppl), 15% jump uniformly (backoff mass)
      w = if (Det.streamIntFrom(jumpB, k, 100) < 85)
        succ(Det.streamIntFrom(succB, k, B))
      else Det.streamIntFrom(uniB, k, V)
      k += 1
    }
    sb.toString
  }

  def wordsFrom(vocab: Array[String], seed: Long, id: Long, field: String,
      nWords: Int, nLines: Int): String = {
    val sb = new StringBuilder
    val base = Det.streamBase(seed, id, field)
    val perLine = math.max(1, nWords / math.max(1, nLines))
    var k = 0
    while (k < nWords) {
      if (k > 0) sb.append(if (k % perLine == 0) '\n' else ' ')
      sb.append(vocab(Det.streamIntFrom(base, k, vocab.length)))
      k += 1
    }
    sb.toString
  }

  private val symbols = "@#$%^&*()_+=[]{}|<>~".toCharArray

  /** Family codes (returned by [[familyOf]]):
    * 0 fluent-ro, 1 english, 2 hungarian, 3 spam-repeat, 4 shuffled-ro,
    * 5 too-short, 6 symbol-soup, 7 dup-lines, 8 toxic-ro.
    */
  def familyOf(seed: Long, id: Long): Int = {
    val f = Det.nextInt(seed, id, "family", 1000)
    if (f < 650) 0
    else if (f < 730) 1
    else if (f < 770) 2
    else if (f < 820) 3
    else if (f < 860) 4
    else if (f < 890) 5
    else if (f < 920) 6
    else if (f < 960) 7
    else 8
  }

  def baseText(seed: Long, id: Long): String = {
    val fam = familyOf(seed, id)
    val nWords = 60 + Det.nextInt(seed, id, "len", 240)
    val nLines = 4 + Det.nextInt(seed, id, "lines", 10)
    fam match {
      case 0 => fluentRo(seed, id, nWords, nLines)
      case 1 => wordsFrom(enWords, seed, id, "en", nWords, nLines)
      case 2 => wordsFrom(huWords, seed, id, "hu", nWords, nLines)
      case 3 => // spam: one token repeated (high ppl, high dup lines)
        val tok = roVocab(Det.nextInt(seed, id, "spamtok", V))
        val line = (tok + " ") * 12
        Array.fill(10)(line.trim).mkString("\n")
      case 4 => // shuffled romanian: uniform draws, ignores the chain
        wordsFrom(roVocab, seed, id, "shuf", nWords, nLines)
      case 5 => fluentRo(seed, id, 5 + Det.nextInt(seed, id, "slen", 15), 1)
      case 6 =>
        val sb = new StringBuilder
        val wB = Det.streamBase(seed, id, "sym_w")
        val sB = Det.streamBase(seed, id, "sym_s")
        var k = 0
        while (k < nWords) {
          if (k > 0) sb.append(' ')
          sb.append(roVocab(Det.streamIntFrom(wB, k, V)))
          sb.append(symbols(Det.streamIntFrom(sB, k, symbols.length)))
          k += 1
        }
        sb.toString
      case 7 => // every line duplicated: dup_line_frac 0.5, past the 0.30
        // drop threshold with margin (byte-identical to what the previous
        // `take(lines.length)` form — a no-op take — always produced)
        val base = fluentRo(seed, id, nWords, nLines)
        val lines = base.split('\n')
        (lines ++ lines).mkString("\n")
      case 8 => // fluent + toxic tokens sprinkled
        val base = fluentRo(seed, id, nWords, nLines)
        val tox = toxicLexicon(Det.nextInt(seed, id, "tox", toxicLexicon.length))
        base + " " + tox + " " + base.takeWhile(_ != '\n')
      case _ => throw new IllegalStateException("unreachable family")
    }
  }

  /** PII injection — orthogonal to families; returns text with appended PII
    * sentences (deterministic).
    */
  def injectPii(seed: Long, id: Long, text: String): String = {
    val sb = new StringBuilder(text)
    val r = Det.nextInt(seed, id, "pii", 100)
    if (r < 10)
      sb.append("\ncontact: persoana").append(id % 97)
        .append("@exemplu").append(id % 13).append(".ro")
    if (r >= 8 && r < 15)
      sb.append("\ntelefon: 07").append(f"${Det.nextInt(seed, id, "ph", 100000000)}%08d")
    else if (r >= 15 && r < 18)
      sb.append("\nsunați la +40 7").append(f"${Det.nextInt(seed, id, "ph2", 100)}%02d ")
        .append(f"${Det.nextInt(seed, id, "ph3", 1000)}%03d ")
        .append(f"${Det.nextInt(seed, id, "ph4", 1000)}%03d")
    if (r >= 18 && r < 23)
      sb.append("\ncnp: ").append(makeCnp(seed, id, valid = true))
    else if (r >= 23 && r < 26)
      // invalid checksum — a 13-digit lookalike that must NOT be scrubbed
      sb.append("\nnr comandă: ").append(makeCnp(seed, id, valid = false))
    sb.toString
  }

  /** The full deterministic page for a row id. */
  def gen(id: Long, seed: Long = DefaultSeed): Page = {
    val fam = familyOf(seed, id)
    val text = injectPii(seed, id, baseText(seed, id))
    val host = zipfHost(Det.nextDouble(seed, id, "host"))
    val url = s"https://site$host.example.ro/pagina/$id"
    val snap = Det.nextInt(seed, id, "snap", snapshots.length)
    val ts = new Timestamp(
      (snapshotEpochSec(snap) + Det.nextInt(seed, id, "tsoff", 86400 * 20)) * 1000L)
    val trueLang = fam match {
      case 1 => "eng"; case 2 => "hun"; case _ => "ron"
    }
    // upstream tag is sometimes wrong — langid must not trust it
    val langTags = Array("ron", "eng", "hun", "deu")
    val lang: String =
      if (Det.nextInt(seed, id, "langflip", 100) < 5)
        langTags(Det.nextInt(seed, id, "langpick", 4))
      else trueLang
    val html = ("<html><head><title>pagina " + id +
      "</title></head><body><nav>Acasă | Contact | Despre</nav><p>" + text +
      "</p></body></html>").getBytes("UTF-8")
    Page(url, ts, html, text, lang)
  }

  /** Distributed deterministic corpus of n pages. */
  def pages(spark: SparkSession, n: Long, seed: Long = DefaultSeed,
      partitions: Int = 0): Dataset[Page] = {
    import spark.implicits._
    val rng = if (partitions > 0) spark.range(0, n, 1, partitions)
      else spark.range(n)
    rng.as[Long].map(id => gen(id, seed))
  }
}
