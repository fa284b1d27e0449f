package graft.tools

import org.apache.spark.sql.SparkSession

/** What the tool mains share, written once: their session, the plan-text
  * normalizer, and the recursive delete (so hardening lands in one place).
  */
private[tools] object ToolFs {

  /** `SPARK_GRAFT_CPUS` (graft.Bench's width knob), else the host's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every tool runs in: `local[cores]`, `shufflePartitions`
    * shuffle partitions, AQE on, UTC, shuffle files on /dev/shm, no UI,
    * WARN logging.
    */
  def session(cores: Int, shufflePartitions: Long): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Plan text that only changes when the plan does. Lambda identities
    * (`$$Lambda$123/0x7f...@1a2b`) differ per JVM run and become
    * `$$Lambda`. Expression ids (`#N`) and AQE `plan_id=N` come from
    * JVM-global counters, so they depend on everything planned before
    * this plan: each is renumbered densely, in order of first appearance
    * within `plan`.
    */
  def normalizePlan(plan: String): String = {
    def dense(s: String, prefix: String): String = {
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      s"$prefix(\\d+)".r.replaceAllIn(s,
        m => prefix + ids.getOrElseUpdate(m.group(1), ids.size))
    }
    val noLambdas = plan.replaceAll(
      """\$\$\$?Lambda[$]?\d*/0x[0-9a-f]+@[0-9a-f]+""", "\\$\\$Lambda")
    dense(dense(noLambdas, "#"), "plan_id=")
  }

  /** Recursive delete that does NOT follow directory symlinks: both
    * callers remove world-writable /tmp and /dev/shm paths, where a
    * stale or planted symlink would otherwise have its TARGET's contents
    * recursively deleted (`File.isDirectory` is true for a link to a
    * directory). The link itself is deleted, its target untouched.
    */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
