package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.model.{AnnotatedPage, Page, Thresholds}
import graft.stages.{HeuristicsScalar, LangIdModel, PerplexityModel, ScrubScalar}

/** Row shape entering the fused scorer (matched by name in `.as[...]`):
  * the pruned page columns plus the derived `crawl_snapshot`. Scrub,
  * heuristics, langid, perplexity and the keep decision all run per row
  * in ONE `mapPartitions` pass. The Column twins ([[graft.stages.Heuristics]],
  * [[graft.stages.Scrub]]) are parity references only: as Catalyst
  * expressions they re-tokenize per metric and re-materialize the
  * UTF8String per regexp, so the scalar pass reads the text fewer times.
  */
final case class PipeRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    crawl_snapshot: String,
    text: String,
    lang: String
)

/** C5 — per-stage metric accumulators (reference analogue: per-shard
  * progress prints, `fineweb/big_inference.py:228-232`); checkpointed into
  * the lineage table by `graft.lineage.Lineage`.
  *
  * SEMANTICS: the accumulators are updated inside a `mapPartitions`
  * TRANSFORMATION, so Spark guarantees only at-least-once counting — task
  * retries, speculative execution, or running two actions over the same
  * annotated Dataset inflate the counts. They are progress telemetry, not
  * ledger numbers; the authoritative per-chunk counts are derived from the
  * written output (see [[graft.lineage.ResumableRunner]]).
  */
final class PipelineMetrics(spark: SparkSession) extends Serializable {
  val docsIn: LongAccumulator = spark.sparkContext.longAccumulator("graft.docsIn")
  val docsKept: LongAccumulator = spark.sparkContext.longAccumulator("graft.docsKept")
  val docsPii: LongAccumulator = spark.sparkContext.longAccumulator("graft.docsPii")
  val docsToxic: LongAccumulator = spark.sparkContext.longAccumulator("graft.docsToxic")
}

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
    */
  def snapshotCol(warcTs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    format_string("CC-MAIN-%d-%02d",
      date_part(lit("YEAROFWEEK"), warcTs), weekofyear(warcTs))

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
  def annotate(pages: Dataset[Page], th: Thresholds = Thresholds.default,
      metrics: Option[PipelineMetrics] = None): Dataset[AnnotatedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._

    // column-prune early: html (the heavy binary) never leaves the scan
    val projected = pages.toDF.select(
      col("url"), col("warc_ts"), snapshotCol(col("warc_ts")).as("crawl_snapshot"),
      col("text"), col("lang")).as[PipeRow]

    val bLangW = spark.sparkContext.broadcast(LangIdModel.weights)
    val bLm = spark.sparkContext.broadcast(PerplexityModel.default)

    projected.mapPartitions { iter =>
      val w = bLangW.value // one deref per partition
      val lm = bLm.value
      iter.map { r =>
        val s = ScrubScalar(r.text) // compiled-regex scrub, guarded
        val h = HeuristicsScalar.compute(r.text) // one pass, all 5 metrics
        val (pred, conf) = LangIdModel.predict(r.text, w)
        val ronConf = if (pred == "ron") conf else 1.0 - conf
        val ppl = lm.perplexity(r.text)
        val keep = decide(th, pred, ronConf, ppl, h.docLenWords,
          h.meanWordLen, h.symbolWordRatio, h.stopwordFrac,
          h.dupLineFrac, s.nSlurs)
        metrics.foreach { m =>
          m.docsIn.add(1)
          if (keep) m.docsKept.add(1)
          if (s.nEmails + s.nPhones + s.nCnps > 0) m.docsPii.add(1)
          if (s.nSlurs > 0) m.docsToxic.add(1)
        }
        AnnotatedPage(r.url, r.warc_ts, r.crawl_snapshot, r.lang,
          pred, ronConf, ppl, h.docLenWords, h.meanWordLen,
          h.symbolWordRatio, h.stopwordFrac, h.dupLineFrac,
          s.scrubbed, s.nEmails, s.nPhones, s.nCnps, s.nSlurs,
          keep)
      }
    }
  }

  /** Salted, snapshot-partitioned write — the pipeline's only shuffle.
    * Salting spreads zipf-skewed hosts across `saltBuckets` writers per
    * snapshot (north rule: "salted repartitioning for skewed hosts");
    * at cluster scale the same call writes an Iceberg table
    * (`.writeTo(t).overwritePartitions()`) — parquet here because the
    * sandbox ships no Iceberg runtime.
    */
  def writeAnnotated(ds: Dataset[AnnotatedPage], outPath: String,
      saltBuckets: Int = 32): Unit = {
    ds.repartition(saltBuckets, col("crawl_snapshot"),
        pmod(xxhash64(col("url")), lit(saltBuckets)))
      .write.mode("overwrite")
      .partitionBy("crawl_snapshot")
      .parquet(outPath)
  }

  /** annotate + salted snapshot-partitioned write, end-to-end. */
  def run(pages: Dataset[Page], outPath: String): Unit =
    writeAnnotated(annotate(pages), outPath)
}
