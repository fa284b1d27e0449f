package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Canonical text form of a query result, used by both the golden
  * generator and QueryGoldenSpec: columns sorted by name, every value
  * rendered driver-style (~6 significant digits for floating point), rows
  * sorted lexicographically. Mirrors `tools/check_oracle.py` so a golden
  * match means the same thing as an oracle hash match.
  */
object QueryCanon {
  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case d: java.math.BigDecimal => f"${d.doubleValue()}%.6g"
    case a: scala.collection.Seq[_] => a.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def canonical(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq.sorted
    df.select(cols.head, cols.tail: _*).collect()
      .map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("|"))
      .sorted.toSeq
  }
}

/** Regenerates the committed per-query golden files for every
  * `SparkEntry.queries` entry WITHOUT a DuckDB oracle
  * (src/test/resources/golden_queries/<name>.txt over the sf0.001 fixture
  * tables). Committed once; QueryGoldenSpec diffs each no-oracle query
  * against its golden on every test run, so cross-round drift in the
  * non-SQL-expressible operators (LSH dedup/ANN, simhash, the full parser,
  * the pipeline and multimodal paths) is caught exactly like an oracle
  * mismatch. An intentional semantics change must regenerate explicitly:
  *   sbt "runMain graft.tools.QueryGoldenGen"
  */
object QueryGoldenGen {
  val SfDir = "/root/testdata/sf0.001"

  def noOracleQueries: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq
      .filterNot(graft.SparkEntry.oracleSql.contains).sorted

  def main(args: Array[String]): Unit = {
    val spark = ToolFs.session(8, 8)
    val outDir = Paths.get("src/test/resources/golden_queries")
    Files.createDirectories(outDir)
    noOracleQueries.foreach { name =>
      val lines = QueryCanon.canonical(graft.SparkEntry.queries(name)(spark, SfDir))
      Files.writeString(outDir.resolve(s"$name.txt"),
        lines.mkString("", "\n", "\n"))
      println(s"wrote ${lines.length} rows for $name")
    }
    spark.stop()
  }
}
