package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.synth.SynthPages

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--trace-dir <dir>]`.
  *
  * Sets up the workload (inputs from the seed, expected outputs), then
  * repeats the workload's operation until `--seconds` have passed and every
  * operation kind has run, checking every output. The last stdout line is
  * the result JSON: the end-to-end metrics untraced, the per-layer metrics
  * traced; the line before it carries the run's details. A traced run
  * alternates untraced and traced operations, so the tracing cost is
  * measured too, and writes its spans to `--trace-dir` at the end.
  * `--workload archive` runs every workload on small inputs, to record a
  * class-data-sharing archive. `run.py` builds the classpath and is the
  * entry point to use.
  */
object Main {

  /** The queries the query workload runs: the dedup leaf that dominates
    * a warm pass of all declared queries, an ANN leaf, and a plain
    * aggregate that is mostly planning and scheduling.
    */
  val coreQueries: Seq[String] = Seq(
    "q_dedup_jaccard_freq", "q_ann_lsh_topk", "q_a1_group_count")

  /** Every workload; `queries_core` is not gated (its run-to-run spread on
    * the 4 vCPU host reached 0.26-0.35 of the median), so traced
    * `filter_scrub_heavy` runs also run it once over for its layers.
    */
  val workloads: Seq[String] = Seq("filter_mixed", "filter_scrub_heavy", "queries_core")

  /** `small` shrinks the inputs for the class-archive run. */
  def workload(name: String, ctx: Ctx, small: Boolean = false): Workload = {
    def n(full: Int, tiny: Int) = if (small) tiny else full
    name match {
      case "filter_mixed" =>
        new FilterWorkload(ctx, n(16000, 400), Inputs.mixed, resumeProbe = true)
      case "filter_scrub_heavy" =>
        new FilterWorkload(ctx, n(320, 16), Inputs.scrubHeavy, resumeProbe = false)
      case "queries_core" =>
        new QueryWorkload(ctx, coreQueries, docs = n(500, 100), vectors = n(500, 100))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  val endToEndUnits: Seq[(String, String)] = Seq(
    "items_per_s" -> "1/s", "op_p50_s" -> "s", "setup_s" -> "s")

  /** Every per-layer metric; a layer the workload does not run reads 0. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "synth.gen_us_per_doc" -> "us",
    "sources.scan_s" -> "s", "sources.write_s" -> "s", "sources.write_bytes" -> "bytes",
    "stages.scrub_us_per_doc" -> "us", "stages.scrub_doc_max_ms" -> "ms",
    "stages.scrub_match_frac" -> "frac", "stages.heuristics_us_per_doc" -> "us",
    "stages.langid_us_per_doc" -> "us", "stages.perplexity_us_per_doc" -> "us",
    "pipeline.annotate_stage_s" -> "s", "pipeline.exchange_stage_s" -> "s",
    "pipeline.executor_cpu_s" -> "s", "pipeline.gc_s" -> "s", "pipeline.task_skew" -> "ratio",
    "pipeline.shuffle_write_bytes" -> "bytes", "pipeline.shuffle_records" -> "count",
    "pipeline.tasks" -> "count",
    "dedup.queries_s" -> "s", "dedup.jobs" -> "count", "dedup.shuffle_bytes" -> "bytes",
    "similarity.queries_s" -> "s", "analytics.queries_s" -> "s",
    "queries.plan_s" -> "s", "queries.exec_s" -> "s", "queries.jobs" -> "count",
    "queries.stages" -> "count", "queries.shuffle_bytes" -> "bytes") ++
    coreQueries.map(q => s"query.${q.stripPrefix("q_")}_s" -> "s") ++ Seq(
    "lineage.waves" -> "count", "lineage.chunks_redone" -> "count", "lineage.wave_s" -> "s",
    "lineage.readback_s" -> "s", "lineage.completed_chunks_s" -> "s",
    "host.envelope_docs_per_s" -> "1/s", "host.peak_rss_mb" -> "MB",
    "trace.overhead_frac" -> "frac")

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      try all.forEach(x => Files.deleteIfExists(x)) finally all.close()
    }
  }

  /** The process's resident-set high-water mark. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Host control: a fixed scorer loop on `threads` threads, no Spark, run
    * before every run. A throttled host shows here, not only in the
    * metrics.
    */
  def envelope(threads: Int): Double = {
    val pages = Array.tabulate(128 * threads)(i => SynthPages.gen((i % 256).toLong))
    def rate(): Double = {
      val t0 = System.nanoTime()
      Reference.run(pages, threads)
      pages.length / Stats.wall(t0)
    }
    rate(); rate() // JIT warm-up
    Stats.median(Seq(rate(), rate(), rate()))
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(name: String, cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Turns the Spark and SQL listeners on and off with the tracer. */
  final class Tracing(spark: SparkSession, val tracer: Tracer) {
    private val sparkEvents = new SparkEvents(tracer)
    private val sqlEvents = new SqlEvents(tracer)
    def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    def apply(on: Boolean): Unit = if (on != tracer.enabled) {
      if (on) {
        spark.sparkContext.addSparkListener(sparkEvents)
        spark.listenerManager.register(sqlEvents)
      } else {
        drain()
        spark.sparkContext.removeSparkListener(sparkEvents)
        spark.listenerManager.unregister(sqlEvents)
      }
      tracer.enabled = on
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    if (name == "archive") archive(work)
    else run(name, arg(args, "--seed").map(_.toLong).getOrElse(1L),
      arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      arg(args, "--trace").contains("1"), work, arg(args, "--trace-dir"))
  }

  /** Loads the classes of every workload, traced, on small inputs: the run
    * that records the class-data-sharing archive.
    */
  def archive(work: String): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    envelope(cpus)
    val spark = session("archive", cpus, work)
    try workloads.foreach { name =>
      val tracing = new Tracing(spark, new Tracer(name))
      tracing(true)
      val wl = workload(name, new Ctx(spark, tracing.tracer, 1L, cpus, s"$work/$name"),
        small = true)
      wl.prepare()
      wl.endToEnd(Seq(tracing.tracer.span("op")(wl.op())))
      tracing(false)
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      traceDir: Option[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // seconds since JVM start at each phase's end, for the info line
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(n: String): Unit = phases(n) = (System.currentTimeMillis() - jvmStart) / 1e3
    phase("main")
    val t0 = System.nanoTime()
    val envelopeRate = envelope(cpus)
    val envelopeS = Stats.wall(t0)
    phase("envelope")
    val spark = session(name, cpus, work)
    phase("session")
    val tracing = new Tracing(spark, new Tracer(s"$name-$seed-${System.currentTimeMillis()}"))
    val tracer = tracing.tracer
    val ctx = new Ctx(spark, tracer, seed, cpus, work)

    var attempted = 0
    var failed = 0
    def count(r: OpResult): OpResult = { attempted += r.attempted; failed += r.failed; r }

    try {
      tracing(trace)
      val wl = workload(name, ctx)
      count(tracer.span("setup")(wl.prepare()))
      phase("prepare")
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - envelopeS

      def tracedOp(w: Workload): OpResult = {
        val r = tracer.span("op") { val r = w.op(); tracing.drain(); r }
        r.copy(span = tracer.snapshot._1.filter(_.name == "op").last.id)
      }
      val ops = mutable.ArrayBuffer.empty[OpResult]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < deadline || !wl.covered(ops.toSeq, trace)) {
        val traced = trace && ops.size % 2 == 1
        tracing(traced)
        ops += count(if (traced) tracedOp(wl) else wl.op())
      }
      phase("measure")
      val probes = if (trace) { tracing(true); wl.probes().map(count) } else Nil
      // the queries' layers: one traced set-up and two rounds, own tables
      val queryLayers = if (!trace || name != "filter_scrub_heavy") Map.empty[String, Double]
      else {
        val q = workload("queries_core", new Ctx(spark, tracer, seed, cpus, s"$work/queries"))
        count(tracer.span("probe.queries")(q.prepare()))
        q.perLayer((1 to 2 * coreQueries.size).map(_ => count(tracedOp(q))), Nil)
      }
      tracing(false)
      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          val e2e = wl.endToEnd(ops.toSeq) ++ Map("setup_s" -> setupS)
          endToEndUnits.map { case (k, u) => (k, e2e(k), u) }
        } else {
          val (tOps, uOps) = ops.toSeq.partition(_.span >= 0)
          // summed over the operation kinds run both ways: traced median
          // over untraced median
          val both = tOps.map(_.key).toSet.intersect(uOps.map(_.key).toSet)
          def wall(xs: Seq[OpResult]) = xs.filter(o => both(o.key)).groupBy(_.key).values
            .map(g => Stats.median(g.map(_.wall))).sum
          val layer = queryLayers ++ wl.perLayer(tOps, probes) ++ Map(
            "host.envelope_docs_per_s" -> envelopeRate, "host.peak_rss_mb" -> peakRssMb,
            "trace.overhead_frac" -> (wall(tOps) / wall(uOps) - 1.0))
          perLayerUnits.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
        }

      val info = mutable.LinkedHashMap[String, Any]("workload" -> name, "seed" -> seed,
        "ops" -> ops.size, "op_walls_s" -> ops.map(_.wall).toSeq,
        "op_median_s" -> ops.groupBy(_.key).map { case (k, g) => k -> Stats.median(g.map(_.wall).toSeq) },
        "host.envelope_docs_per_s" -> envelopeRate, "setup_s" -> setupS,
        "peak_rss_mb" -> peakRssMb, "phases_s" -> phases)
      wl match {
        case p: FilterWorkload => info("input") = Map("docs" -> p.shape.docs,
          "chars" -> p.shape.chars, "bytes" -> p.shape.bytes)
        case _ =>
      }
      traceDir.filter(_ => trace).foreach { d =>
        val f = Paths.get(d, s"${tracer.runId}.json")
        tracer.write(f, info.toMap ++ Map("metrics" -> metrics.map(m => m._1 -> m._2).toMap))
        info("trace_file") = f.toString
      }
      println(Json(info))
      val result = mutable.LinkedHashMap[String, Any](
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
          k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
      println(Json(result))
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }
}
