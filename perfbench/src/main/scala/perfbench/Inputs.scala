package perfbench

import java.sql.Timestamp
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.model.Page
import graft.synth.{Corpus, SynthPages}

/** The page inputs of the filter workloads, made from the run's seed
  * twice: in the benchmark's own threads, for the reference scorer pass,
  * and inside Spark, as the parquet that is all the measured pipeline reads.
  */
object Inputs {

  /** `filter_mixed` and its resume probe: the SynthPages family mix. */
  def mixed(seed: Long, id: Long): Page = SynthPages.gen(id, seed)

  private val b64 =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+".toCharArray

  /** `filter_scrub_heavy`: a 16-20 KB page stitched from seeded SynthPages
    * texts, each piece followed by an email, a phone number, a valid CNP
    * and a lexicon word. One page in twenty also ends with a base64-like
    * run of 200-500 chars before a dangling `@x`, the shape on which the
    * email pattern backtracks.
    */
  def scrubHeavy(seed: Long, id: Long): Page = {
    val r = new java.util.SplittableRandom(Rand.mix(seed, id))
    val target = 16000 + r.nextInt(4001)
    val sb = new java.lang.StringBuilder(target + 600)
    var k = 0
    while (sb.length < target) {
      val sub = id * 64 + k
      sb.append(SynthPages.gen(sub, seed).text).append('\n')
      sb.append("contact: persoana").append(sub % 97).append("@exemplu")
        .append(sub % 13).append(".ro\n")
      sb.append("telefon: 07").append(f"${r.nextInt(100000000)}%08d").append('\n')
      sb.append("cnp: ").append(SynthPages.makeCnp(seed, sub, valid = true)).append('\n')
      sb.append(Corpus.toxicLexicon(r.nextInt(Corpus.toxicLexicon.length))).append('\n')
      k += 1
    }
    if (r.nextInt(20) == 0) {
      sb.append("\ndata: ")
      val n = 200 + r.nextInt(301)
      var i = 0
      while (i < n) { sb.append(b64(r.nextInt(b64.length))); i += 1 }
      sb.append("@x\n")
    }
    val text = sb.toString
    val snap = r.nextInt(4)
    val ts = new Timestamp((1727740800L + snap * 4000000L + r.nextInt(86400 * 20)) * 1000L)
    val url = s"https://site${r.nextInt(1000)}.example.ro/lung/$id"
    Page(url, ts, ("<html><body><p>" + text + "</p></body></html>").getBytes("UTF-8"),
      text, "ron")
  }

  /** Generates `n` pages on `threads` threads; returns the pages and the
    * summed per-thread generation time in ns.
    */
  def generate(n: Int, threads: Int, gen: Long => Page): (Array[Page], Long) = {
    val out = new Array[Page](n)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map { t =>
        new Callable[Long] {
          def call(): Long = {
            val t0 = System.nanoTime()
            var i = t
            while (i < n) { out(i) = gen(i.toLong); i += threads }
            System.nanoTime() - t0
          }
        }
      }
      val ns = pool.invokeAll(tasks.asJava).asScala.map(_.get()).sum
      (out, ns)
    } finally pool.shutdown()
  }

  /** Generates the same pages inside Spark, as `files` parquet files
    * under `dir`.
    */
  def write(spark: SparkSession, n: Int, files: Int, dir: String, gen: Long => Page): Unit = {
    import spark.implicits._
    spark.range(0L, n.toLong, 1L, files).as[Long].map(gen)
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  final case class Shape(docs: Long, chars: Long, bytes: Long)

  def shape(pages: Array[Page], dir: String): Shape = {
    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(p => java.nio.file.Files.size(p)).sum
    Shape(pages.length.toLong, pages.iterator.map(_.text.length.toLong).sum, bytes)
  }
}

/** The benchmark's own seeded hash (splitmix64 finalizer), so the inputs
  * it draws itself do not move when the engine's generators change.
  */
object Rand {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix64(mix64(a) ^ b)
  /** Uniform in [0, n) for draw `field` of row `id`. */
  def int(seed: Long, id: Long, field: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(mix(seed, id), field.toLong), n.toLong).toInt
}
