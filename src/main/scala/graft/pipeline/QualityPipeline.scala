package graft.pipeline

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.DateType

import graft.model.{AnnotatedPage, Page, Thresholds}
import graft.stages.{HeuristicsScalar, LangIdModel, PerplexityModel, ScrubScalar}

/** Row shape entering the fused scorer (matched by name in `.as[...]`):
  * the pruned page columns plus the derived `crawl_snapshot`. Scrub,
  * heuristics, langid, perplexity and the keep decision all run per row
  * in ONE `mapPartitions` pass. The heuristics' Column twin (test-scope
  * `graft.stages.Heuristics`) is a parity reference only: as Catalyst
  * expressions it re-tokenizes per metric, so the scalar pass reads the
  * text fewer times. [[graft.stages.Scrub]] holds only the regex strings
  * that specify the scrub.
  */
final case class PipeRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    crawl_snapshot: String,
    text: String,
    lang: String
)

/** The flagship quality pipeline (north rule): langid (N1) + perplexity (N2)
  * + Gopher/C4 heuristics (N3) + PII/toxicity scrub (N4) + keep/drop (N5)
  * over Common-Crawl-style pages.
  *
  * Physical shape (PLANS.md, flagship-pipeline section): the column-pruned
  * scan and snapshot projection feed one fused `mapPartitions` scorer
  * (scrub + heuristics + langid + perplexity + decide per row, one
  * broadcast deref per partition), then the only shuffle: the salted
  * repartition before the partitioned write (skewed-host handling).
  */
object QualityPipeline {

  /** Crawl-snapshot label derived from warc_ts (partition key; the
    * reference's natural partition key is the `dump` snapshot name,
    * `fineweb/fineweb2_download.py:19`). Uses the ISO week-YEAR (not the
    * calendar year) so the pair is consistent at year boundaries: Jan 1-3
    * of week 52/53 labels into the OLD year's snapshot, late-Dec dates in
    * week 1 into the NEW year's — never a mixed `2024-53`/`2023-01` label.
    * The week is the UTC one: an implicit timestamp → date cast would take
    * `spark.sql.session.timeZone`, and a page fetched late on a Sunday (UTC)
    * would then land in the next week's snapshot in any zone east of UTC.
    */
  def snapshotCol(warcTs: Column): Column = {
    val day = ColumnShim.column(
      Cast(ColumnShim.expr(warcTs), DateType, Some("UTC")))
    format_string("CC-MAIN-%d-%02d",
      date_part(lit("YEAROFWEEK"), day), weekofyear(day))
  }

  /** Pure-scala keep decision — shared by the distributed scorer and the
    * scalar golden-label generator so decision semantics live in ONE place.
    * Conjunction shape mirrors F1/F2 threshold composition
    * (`small_model_inference/filter.py:22`, `ro_vs_eng/filter_jql.py:27`).
    */
  def decide(th: Thresholds, langPred: String, langConf: Double, ppl: Double,
      docLen: Int, meanWordLen: Double, symbolRatio: Double,
      stopwordFrac: Double, dupLineFrac: Double, nSlurs: Int): Boolean =
    langPred == "ron" && langConf >= th.minLangConf &&
      ppl <= th.maxPpl &&
      docLen >= th.minWords && docLen <= th.maxWords &&
      meanWordLen >= th.minMeanWordLen && meanWordLen <= th.maxMeanWordLen &&
      symbolRatio <= th.maxSymbolWordRatio &&
      stopwordFrac >= th.minStopwordFrac &&
      dupLineFrac <= th.maxDupLineFrac &&
      nSlurs <= th.maxSlurs

  /** Full annotation: Dataset[Page] → Dataset[AnnotatedPage]. No shuffle. */
  def annotate(pages: Dataset[Page]): Dataset[AnnotatedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._

    // column-prune early: html (the heavy binary) never leaves the scan
    val projected = pages.toDF().select(
      col("url"), col("warc_ts"), snapshotCol(col("warc_ts")).as("crawl_snapshot"),
      col("text"), col("lang")).as[PipeRow]

    val bLangW = spark.sparkContext.broadcast(LangIdModel.weights)
    val bLm = spark.sparkContext.broadcast(PerplexityModel.default)
    val th = Thresholds.default

    projected.mapPartitions { iter =>
      val w = bLangW.value // one deref per partition
      val lm = bLm.value
      iter.map { r =>
        val s = ScrubScalar(r.text) // anchored linear-time scrub
        val h = HeuristicsScalar.compute(r.text) // one pass, all 5 metrics
        val (pred, conf) = LangIdModel.predict(r.text, w)
        val ronConf = if (pred == "ron") conf else 1.0 - conf
        val ppl = lm.perplexity(r.text)
        val keep = decide(th, pred, ronConf, ppl, h.docLenWords,
          h.meanWordLen, h.symbolWordRatio, h.stopwordFrac,
          h.dupLineFrac, s.nSlurs)
        AnnotatedPage(r.url, r.warc_ts, r.crawl_snapshot, r.lang,
          pred, ronConf, ppl, h.docLenWords, h.meanWordLen,
          h.symbolWordRatio, h.stopwordFrac, h.dupLineFrac,
          s.scrubbed, s.nEmails, s.nPhones, s.nCnps, s.nSlurs,
          keep)
      }
    }
  }

  /** Salt values per snapshot, and partitions of the pipeline's only
    * shuffle.
    */
  private final val SaltBuckets = 32

  /** The salt-key policy of the pipeline's only shuffle: hash on
    * (`crawl_snapshot`, `pmod(xxhash64(url), SaltBuckets)`), so
    * zipf-skewed hosts spread across `SaltBuckets` writers per snapshot
    * (north rule: "salted repartitioning for skewed hosts").
    * [[writeAnnotated]] and PlanEvidence's flagship section call it. The
    * benchmarks (`graft.Bench` and perfbench's `Workloads`) keep
    * their own copy of this exchange, so the plans they measure stay fixed
    * when it changes.
    */
  def saltedExchange[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(SaltBuckets, col("crawl_snapshot"),
      pmod(xxhash64(col("url")), lit(SaltBuckets)))

  /** Salted, snapshot-partitioned write. At cluster scale the same call
    * writes an Iceberg table (`.writeTo(t).overwritePartitions()`) —
    * parquet here because the sandbox ships no Iceberg runtime.
    */
  def writeAnnotated(ds: Dataset[AnnotatedPage], outPath: String): Unit = {
    saltedExchange(ds)
      .write.mode("overwrite")
      .partitionBy("crawl_snapshot")
      .parquet(outPath)
  }

  /** annotate + salted snapshot-partitioned write, end-to-end. */
  def run(pages: Dataset[Page], outPath: String): Unit =
    writeAnnotated(annotate(pages), outPath)
}
