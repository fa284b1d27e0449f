package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}

import graft.model.{Page, Thresholds}
import graft.pipeline.QualityPipeline
import graft.stages.{HeuristicsScalar, LangIdModel, PerplexityModel, ScrubScalar}

/** Order-independent digest of a set of rows: the row count and the
  * wrapping sum of one 64-bit hash per row.
  */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private def head64(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b, 0, 8).getLong

  /** Hash of one filter output row: `(url, keep, md5(scrubbed_text))`. */
  def page(url: String, keep: Boolean, scrubbed: String): Long = {
    val md = md5.get
    val inner = md.digest(scrubbed.getBytes(UTF_8))
    md.update(url.getBytes(UTF_8))
    md.update(if (keep) 1.toByte else 0.toByte)
    md.update(inner)
    head64(md.digest())
  }

  /** Canonical text of a result value: doubles to 9 significant digits
    * (partial aggregates may merge in any order), maps sorted by key.
    */
  def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).toString
    case f: Float => canonical(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp => s"${t.getTime}.${t.getNanos}"
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }

  def row(r: Row): Long = head64(md5.get.digest(canonical(r).getBytes(UTF_8)))

  private def collect(df: DataFrame)(hash: Row => Long): Digest =
    df.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => s += hash(r); n += 1 }
      Iterator((n, s))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect().foldLeft(empty) { case (d, (n, s)) => d + Digest(n, s) }

  /** Digest of the pipeline's output rows, computed where they are produced:
    * the measured sink. Every column stays in the plan, as in a real write.
    */
  def ofPages(df: DataFrame): Digest = {
    val (u, k, s) = (df.schema.fieldIndex("url"), df.schema.fieldIndex("keep"),
      df.schema.fieldIndex("scrubbed_text"))
    collect(df)(r => page(r.getString(u), r.getBoolean(k), r.getString(s)))
  }

  /** Digest of any query result. */
  def ofRows(df: DataFrame): Digest = collect(df)(row)
}

/** The filter workloads' expected output, computed at set-up by calling the
  * scorers and the keep decision directly, one document at a time, on
  * `threads` threads. Each call is timed, which gives the scorer layers'
  * cost outside Spark.
  */
object Reference {

  /** Thread-summed nanoseconds per scorer, over `docs` documents. */
  final case class Layers(docs: Long, scrubNs: Long, heuristicsNs: Long,
      langidNs: Long, perplexityNs: Long, decideNs: Long, scrubMaxNs: Long,
      scrubMatched: Long) {
    def +(o: Layers): Layers = Layers(docs + o.docs, scrubNs + o.scrubNs,
      heuristicsNs + o.heuristicsNs, langidNs + o.langidNs,
      perplexityNs + o.perplexityNs, decideNs + o.decideNs,
      math.max(scrubMaxNs, o.scrubMaxNs), scrubMatched + o.scrubMatched)
  }

  def run(pages: Array[Page], threads: Int): (Digest, Layers) = {
    val w = LangIdModel.weights
    val lm = PerplexityModel.default
    val th = Thresholds.default
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map { t =>
        new Callable[(Digest, Layers)] {
          def call(): (Digest, Layers) = {
            var d = Digest.empty
            var (scrub, heur, lang, ppl, dec, scrubMax, matched) =
              (0L, 0L, 0L, 0L, 0L, 0L, 0L)
            var n = 0L
            var i = t
            while (i < pages.length) {
              val text = pages(i).text
              val t0 = System.nanoTime()
              val s = ScrubScalar(text)
              val t1 = System.nanoTime()
              val h = HeuristicsScalar.compute(text)
              val t2 = System.nanoTime()
              val (pred, conf) = LangIdModel.predict(text, w)
              val t3 = System.nanoTime()
              val p = lm.perplexity(text)
              val t4 = System.nanoTime()
              val ronConf = if (pred == "ron") conf else 1.0 - conf
              val keep = QualityPipeline.decide(th, pred, ronConf, p, h.docLenWords,
                h.meanWordLen, h.symbolWordRatio, h.stopwordFrac, h.dupLineFrac,
                s.nSlurs)
              val t5 = System.nanoTime()
              scrub += t1 - t0; heur += t2 - t1; lang += t3 - t2; ppl += t4 - t3
              dec += t5 - t4; scrubMax = math.max(scrubMax, t1 - t0)
              if (s.nEmails + s.nPhones + s.nCnps + s.nSlurs > 0) matched += 1
              d += Digest(1L, Digest.page(pages(i).url, keep, s.scrubbed))
              n += 1
              i += threads
            }
            (d, Layers(n, scrub, heur, lang, ppl, dec, scrubMax, matched))
          }
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get())
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    } finally pool.shutdown()
  }
}
