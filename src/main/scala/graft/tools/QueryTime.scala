package graft.tools

/** Times individual `SparkEntry.queries` entries with a noop sink,
  * several draws each — the per-query numbers in `graft.Bench` are
  * single draws on a burst-throttled host, so a 2× swing there needs
  * this to tell regression from noise.
  *
  * Usage: runMain graft.tools.QueryTime <sfDir> <draws> <name> [name...]
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val draws = if (args.length > 1) args(1).toInt else 3
    val names = if (args.length > 2) args.drop(2).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolFs.session(ToolFs.cpus, ToolFs.cpus)
    for (n <- names) {
      val q = graft.SparkEntry.queries(n)
      val times = (1 to draws).map { _ =>
        val t0 = System.nanoTime()
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$n%-28s best=${times.min}%6.2fs  " +
        times.map(t => f"$t%.2f").mkString("draws=[", ", ", "]"))
    }
    spark.stop()
  }
}
