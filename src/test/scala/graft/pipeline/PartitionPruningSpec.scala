package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.synth.SynthPages

/** The 100×-deployment read path: `writeAnnotated` partitions output by
  * `crawl_snapshot` (the reference's natural partition key is the `dump`
  * snapshot name, `fineweb/fineweb2_download.py:19`); a snapshot predicate
  * on the read side must prune PARTITION DIRECTORIES — touching only the
  * matching snapshot's files — not scan-then-filter the whole corpus.
  */
class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("snapshot predicate reaches PartitionFilters and reads strictly " +
      "fewer files than the full corpus") {
    val dir = Files.createTempDirectory("graft_prune").toString
    val annotated = QualityPipeline.annotate(SynthPages.pages(spark, 1500L))
    QualityPipeline.writeAnnotated(annotated, dir, saltBuckets = 4)

    // the synthetic corpus spans 4 crawl snapshots → 4 partition dirs
    val partDirs = Option(new java.io.File(dir).listFiles).get
      .filter(f => f.isDirectory && f.getName.startsWith("crawl_snapshot="))
      .map(_.getName.stripPrefix("crawl_snapshot="))
      .sorted
    assert(partDirs.length >= 2,
      s"fixture must span several snapshots, got ${partDirs.toSeq}")

    def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
      df.collect() // execute so the scan's numFiles metric is populated
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.length == 1, s"expected one file scan, got $scans")
      scans.head
    }

    val pruned = scanOf(spark.read.parquet(dir)
      .filter(col("crawl_snapshot") === partDirs.head)
      .select("url", "keep"))
    val full = scanOf(spark.read.parquet(dir).select("url", "keep"))

    // 1) the predicate lands in PartitionFilters (not a post-scan Filter)
    val pf = pruned.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("crawl_snapshot"),
      s"snapshot predicate missing from PartitionFilters: $pf")
    // 2) and actually prunes: strictly fewer files than the full read
    val prunedFiles = pruned.metrics("numFiles").value
    val totalFiles = full.metrics("numFiles").value
    assert(prunedFiles > 0 && totalFiles > prunedFiles,
      s"no pruning: read $prunedFiles of $totalFiles files")
    // one snapshot out of ≥2: at most half the data's files
    assert(prunedFiles <= totalFiles / 2 + 1,
      s"pruning too weak: $prunedFiles of $totalFiles")
  }

  test("run writes annotate's rows, each under its own snapshot directory") {
    val dir = Files.createTempDirectory("graft_run").toString
    val pages = SynthPages.pages(spark, 400L)
    QualityPipeline.run(pages, dir)

    val expected = QualityPipeline.annotate(pages).collect()
      .map(a => a.url -> ((a.keep, a.scrubbed_text, a.crawl_snapshot))).toMap
    val written = spark.read.parquet(dir)
      .select(col("url"), col("keep"), col("scrubbed_text"),
        col("_metadata.file_path"))
      .collect()
    assert(written.length == expected.size)
    assert(written.map(r => r.getString(0) -> ((r.getBoolean(1),
      r.getString(2)))).toMap ==
      expected.map { case (url, (keep, text, _)) => url -> ((keep, text)) })
    val misplaced = written.filterNot { r =>
      r.getString(3).contains(
        s"/crawl_snapshot=${expected(r.getString(0))._3}/")
    }
    assert(misplaced.length == 0,
      s"${misplaced.length} rows outside their snapshot dir, e.g. " +
        misplaced.headOption.map(_.getString(3)))
  }
}
