package graft.tools

import java.nio.file.{Files, Paths}

/** Regenerates the committed golden decision fixture
  * (src/test/resources/golden_decisions.csv): url, keep, md5(scrubbed_text)
  * for the first 2,000 synthetic pages. Committed once; GoldenFixtureSpec
  * pins the pipeline's decision semantics across refactors/rounds — any
  * intentional semantic change must regenerate this file explicitly.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    val spark = ToolFs.session(8, 8)
    val rows = graft.pipeline.QualityPipeline
      .annotate(graft.synth.SynthPages.pages(spark, 2000L))
      .collect()
      .sortBy(_.url)
      .map { a =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(a.scrubbed_text.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        s"${a.url},${a.keep},$md5"
      }
    val out = "url,keep,scrubbed_md5\n" + rows.mkString("\n") + "\n"
    val path = Paths.get("src/test/resources/golden_decisions.csv")
    Files.createDirectories(path.getParent)
    Files.writeString(path, out)
    println(s"wrote ${rows.length} rows to $path")
    spark.stop()
  }
}
