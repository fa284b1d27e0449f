package graft.lineage

import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Page
import graft.synth.SynthPages

/** C1 resume semantics (FIXTURES.md `resume` family): kill after K waves,
  * restart, no double-processing, final output == single-run output.
  */
class LineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("killed run resumes at partition granularity; output equals single run") {
    val base = Files.createTempDirectory("graft_lineage").toString
    val pages = SynthPages.pages(spark, 1200L)

    // single uninterrupted run = golden output
    ResumableRunner.run(pages, s"$base/golden", s"$base/lin_golden", "golden",
      numChunks = 8, waveSize = 2)
    val golden = spark.read.parquet(s"$base/golden").drop("chunk_id")
      .orderBy(col("url")).collect()

    // the lineage store as a plain path and as a Hadoop URI
    Seq("path" -> s"$base/lin",
      "uri" -> new java.io.File(s"$base/lin_uri").toURI.toString).foreach {
      case (form, lin) =>
        val out = s"$base/out_$form"
        // killed run: fails after 1 wave (2 of 8 chunks)
        intercept[SimulatedFailure] {
          ResumableRunner.run(pages, out, lin, "run1",
            numChunks = 8, waveSize = 2, failAfterWaves = Some(1))
        }
        val store = new LineageStore(spark, lin)
        val afterKill = store.completedChunks("run1", 8)
        assert(afterKill.size == 2, s"$form: expected 2 completed chunks, got $afterKill")

        // resume: must process exactly the remaining 6, never the completed 2
        val resumed = ResumableRunner.run(pages, out, lin, "run1",
          numChunks = 8, waveSize = 2)
        assert(resumed.size == 6, s"$form: resumed $resumed")
        assert(resumed.toSet.intersect(afterKill).isEmpty, s"$form: chunk double-processed")
        assert(store.completedChunks("run1", 8) == (0 until 8).toSet, form)

        // lineage rows: one per chunk, no duplicates
        val rows = store.all().collect().filter(_.run_id == "run1")
        assert(rows.length == 8, form)
        assert(rows.map(_.chunk_id).distinct.length == 8, form)
        assert(rows.map(_.docs_in).sum == 1200L, form)

        // final output byte-equals the uninterrupted golden run
        val got = spark.read.parquet(out).drop("chunk_id")
          .orderBy(col("url")).collect()
        assert(got.length == 1200 && got.sameElements(golden), form)
    }
  }

  /** `pages` whose `text` passes through a deterministic identity UDF that
    * bumps `seen` once per row it evaluates. Deterministic, so the wave's
    * chunk filter (on `url`) pushes below it: `seen` counts exactly the
    * rows a wave reads and scores.
    */
  private def counted(pages: Dataset[Page], seen: LongAccumulator)
      : Dataset[Page] = {
    import spark.implicits._
    val touch = udf { t: String => seen.add(1L); t }
    pages.withColumn("text", touch(col("text"))).as[Page]
  }

  test("each wave scores ONLY its own chunks (no per-wave full-corpus rescan)") {
    val base = Files.createTempDirectory("graft_lineage3").toString
    val nDocs = 800L
    val pages = SynthPages.pages(spark, nDocs)

    // full run over 4 waves: every doc must be scored exactly once in total —
    // the old shape (annotate before the chunk filter) scored nDocs × waves
    val seen1 = spark.sparkContext.longAccumulator("lineage.seen1")
    ResumableRunner.run(counted(pages, seen1), s"$base/out", s"$base/lin",
      "scan1", numChunks = 8, waveSize = 2)
    assert(seen1.value == nDocs,
      s"scored ${seen1.value} docs across waves, expected $nDocs (one pass)")

    // resume after 1 completed wave: only the REMAINING chunks' docs are
    // scored, not the whole corpus again
    val base2 = Files.createTempDirectory("graft_lineage4").toString
    intercept[SimulatedFailure] {
      ResumableRunner.run(pages, s"$base2/out", s"$base2/lin", "scan2",
        numChunks = 8, waveSize = 2, failAfterWaves = Some(1))
    }
    val store = new LineageStore(spark, s"$base2/lin")
    val doneDocs = store.all().collect()
      .filter(_.run_id == "scan2").map(_.docs_in).sum
    val seen2 = spark.sparkContext.longAccumulator("lineage.seen2")
    ResumableRunner.run(counted(pages, seen2), s"$base2/out", s"$base2/lin",
      "scan2", numChunks = 8, waveSize = 2)
    assert(seen2.value == nDocs - doneDocs,
      s"resume scored ${seen2.value}, expected ${nDocs - doneDocs}")
  }

  test("resuming under a different numChunks is refused before any wave") {
    val base = Files.createTempDirectory("graft_lineage5").toString
    val pages = SynthPages.pages(spark, 400L)
    val (out, lin) = (s"$base/out", s"$base/lin")
    intercept[SimulatedFailure] {
      ResumableRunner.run(pages, out, lin, "rc", numChunks = 8, waveSize = 2,
        failAfterWaves = Some(1))
    }
    // 8-way chunks 0-1 are done; 4-way chunks 2-3 would leave the pages
    // of 8-way chunks 4-5 unwritten
    intercept[IllegalArgumentException] {
      ResumableRunner.run(pages, out, lin, "rc", numChunks = 4, waveSize = 2)
    }
    val store = new LineageStore(spark, lin)
    assert(store.completedChunks("rc", 8) == Set(0, 1))
    assert(store.all().collect().filter(_.run_id == "rc")
      .forall(_.num_chunks == 8))
    // the original count still resumes to completion
    ResumableRunner.run(pages, out, lin, "rc", numChunks = 8, waveSize = 2)
    assert(store.completedChunks("rc", 8) == (0 until 8).toSet)
  }

  test("numChunks = 0 is refused, not reported as an empty success") {
    val base = Files.createTempDirectory("graft_lineage6").toString
    val pages = SynthPages.pages(spark, 10L)
    intercept[IllegalArgumentException] {
      ResumableRunner.run(pages, s"$base/out", s"$base/lin", "z",
        numChunks = 0)
    }
    assert(!new java.io.File(s"$base/lin").exists())
  }

  test("metrics in lineage match the pipeline decisions") {
    val base = Files.createTempDirectory("graft_lineage2").toString
    val pages = SynthPages.pages(spark, 600L)
    ResumableRunner.run(pages, s"$base/out", s"$base/lin", "m1",
      numChunks = 4, waveSize = 4)
    val store = new LineageStore(spark, s"$base/lin")
    val rows = store.all().collect()
    val keptTotal = rows.map(_.docs_kept).sum
    val expected = graft.pipeline.QualityPipeline
      .annotate(pages).filter(_.keep).count()
    assert(keptTotal == expected)
  }
}
