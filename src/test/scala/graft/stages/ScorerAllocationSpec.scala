package graft.stages

import java.lang.management.ManagementFactory

import org.scalatest.funsuite.AnyFunSuite

import graft.synth.SynthPages

/** Heuristics and perplexity read words straight from the text: after
  * warm-up, scoring a `SynthPages` doc allocates less than 1 KiB on the
  * scoring thread (the returned `Metrics` and a boxed result included).
  * The scrub allocates more per doc (span arrays, region matchers, the
  * scrubbed copies); its bound pins today's figure so a change that
  * lowers it has a number to move.
  */
class ScorerAllocationSpec extends AnyFunSuite {
  private val bean =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val docs: Array[String] = Array.tabulate(2000)(i => SynthPages.gen(i.toLong).text)

  private def bytesPerDoc(score: String => Any): Double = {
    def pass(): Unit = { var i = 0; while (i < docs.length) { score(docs(i)); i += 1 } }
    (1 to 10).foreach(_ => pass())
    val before = bean.getCurrentThreadAllocatedBytes
    pass()
    (bean.getCurrentThreadAllocatedBytes - before).toDouble / docs.length
  }

  test("HeuristicsScalar.compute allocates < 1 KiB per doc after warm-up") {
    val b = bytesPerDoc(HeuristicsScalar.compute)
    info(f"heuristics: $b%.1f B/doc")
    assert(b < 1024, f"$b%.1f B/doc")
  }

  test("PerplexityModel.perplexity allocates < 1 KiB per doc after warm-up") {
    val lm = PerplexityModel.default
    val b = bytesPerDoc(lm.perplexity(_))
    info(f"perplexity: $b%.1f B/doc")
    assert(b < 1024, f"$b%.1f B/doc")
  }

  test("ScrubScalar.apply allocates < 4 KiB per doc after warm-up") {
    val b = bytesPerDoc(ScrubScalar.apply)
    info(f"scrub: $b%.1f B/doc")
    assert(b < 4096, f"$b%.1f B/doc")
  }
}
