package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.lineage.{LineageStore, ResumableRunner, SimulatedFailure}
import graft.model.Page
import graft.pipeline.QualityPipeline

/** What one run shares with its workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val cpus: Int, val work: String) {
  def path(name: String): String = s"$work/$name"
}

/** One measured operation: what it ran (`key`), its wall, how many
  * checked results it produced, how many of those were wrong or failed,
  * and the span that holds its trace (-1 when untraced).
  */
final case class OpResult(key: String, wall: Double, attempted: Int, failed: Int,
    span: Int = -1, detail: Map[String, Double] = Map.empty)

trait Workload {
  /** Makes the inputs from the seed and the expected outputs; returns
    * the results it checked.
    */
  def prepare(): OpResult
  /** The next measured operation, output checked. */
  def op(): OpResult
  /** Whether `ops` hold enough samples to report: every operation kind at
    * least once, traced and untraced when `trace`.
    */
  def covered(ops: Seq[OpResult], trace: Boolean): Boolean
  /** Extra traced operations a traced run makes after the measured ones,
    * for layers the measured operation does not reach.
    */
  def probes(): Seq[OpResult] = Nil
  /** End-to-end metric values over the measured operations. */
  def endToEnd(ops: Seq[OpResult]): Map[String, Double]
  /** Per-layer metric values from the traced operations and the probes. */
  def perLayer(traced: Seq[OpResult], probes: Seq[OpResult]): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def wall(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Spark counters of the spans below one traced operation. */
final class OpCounters(val spans: Seq[Span]) {
  val stages: Seq[Span] = spans.filter(_.name == "spark.stage")
  val jobs: Seq[Span] = spans.filter(_.name == "spark.job")
  def sum(k: String, in: Seq[Span] = stages): Double = in.map(_.attr(k)).sum
  def wall(in: Seq[Span]): Double = in.map(_.seconds).sum
  def named(n: String): Seq[Span] = spans.filter(_.name == n)

  /** Stages whose call site passes through a graft frame containing `f`. */
  def site(f: String, in: Seq[Span] = stages): Seq[Span] = in.filter(_.attrs.get("graft_frames") match {
    case Some(xs: Seq[_]) => xs.exists(_.toString.contains(f))
    case _ => false
  })

  /** max/median task time of the stage with the most executor time. */
  def skew: Double = if (stages.isEmpty) 0.0 else {
    val s = stages.maxBy(_.attr("run_s"))
    if (s.attr("task_median_ms") <= 0) 1.0 else s.attr("task_max_ms") / s.attr("task_median_ms")
  }

  def pipeline: Map[String, Double] = Map(
    "pipeline.executor_cpu_s" -> sum("cpu_s"), "pipeline.gc_s" -> sum("gc_s"),
    "pipeline.task_skew" -> skew, "pipeline.shuffle_write_bytes" -> sum("shuffle_write_bytes"),
    "pipeline.shuffle_records" -> sum("shuffle_write_records"), "pipeline.tasks" -> sum("tasks"))
}

object OpCounters {
  /** Per-metric medians of `f` over the traced operations. */
  def median(ops: Seq[OpResult], tracer: Tracer)(
      f: (OpResult, OpCounters) => Map[String, Double]): Map[String, Double] = {
    val per = ops.map(o => f(o, new OpCounters(tracer.descendants(o.span))))
    per.flatMap(_.keys).distinct.map(k => k -> Stats.median(per.map(_.getOrElse(k, 0.0)))).toMap
  }
}

/** annotate → salted repartition (the pipeline's only exchange) → sink,
  * over pages generated from the seed. With `resumeProbe`, a traced run
  * also kills and resumes `ResumableRunner.run` once over the same input.
  */
final class FilterWorkload(ctx: Ctx, docs: Int, gen: (Long, Long) => Page,
    resumeProbe: Boolean) extends Workload {
  import ctx.spark.implicits._
  private val input = ctx.path("input")
  private var expected = Digest.empty
  private var genNs = 0L
  private var layers: Reference.Layers = _
  private var scanS = 0.0
  var shape: Inputs.Shape = _

  def prepare(): OpResult = {
    val t = ctx.tracer
    val (seed, g) = (ctx.seed, gen) // the Spark closure must not capture `this`
    val (pages, ns) = t.span("synth.generate", "docs" -> docs) {
      Inputs.generate(docs, ctx.cpus, id => g(seed, id))
    }
    genNs = ns
    t.span("sources.write_input") {
      Inputs.write(ctx.spark, docs, 4 * ctx.cpus, input, id => g(seed, id))
    }
    shape = Inputs.shape(pages, input)
    val (d, l) = t.span("reference.score", "docs" -> docs) { Reference.run(pages, ctx.cpus) }
    expected = d
    layers = l
    if (t.enabled) {
      val spans = t.snapshot._1
      def last(n: String) = spans.filter(_.name == n).last.id
      Seq("stages.scrub" -> l.scrubNs, "stages.heuristics" -> l.heuristicsNs,
        "stages.langid" -> l.langidNs, "stages.perplexity" -> l.perplexityNs,
        "pipeline.decide" -> l.decideNs).foreach { case (n, v) =>
        t.add(Aggregate(n, last("reference.score"), l.docs, v,
          if (n == "stages.scrub") l.scrubMaxNs else 0L))
      }
      t.add(Aggregate("synth.gen", last("synth.generate"), docs.toLong, ns, 0L))
      // the scan alone: the columns annotate reads, to a noop sink
      val t0 = System.nanoTime()
      t.span("sources.scan") {
        ctx.spark.read.parquet(input).select("url", "warc_ts", "text", "lang")
          .write.format("noop").mode("overwrite").save()
      }
      scanS = Stats.wall(t0)
    }
    // one full, checked pass to warm up: after a pass over a sixteenth of
    // the input the first measured pass still ran ~30% slow
    t.span("warmup")(op())
  }

  private def pages(path: String): Dataset[Page] = ctx.spark.read.parquet(path).as[Page]

  private def pipeline(path: String): Digest = Digest.ofPages(
    QualityPipeline.annotate(pages(path))
      .repartition(32, col("crawl_snapshot"), pmod(xxhash64(col("url")), lit(32))).toDF)

  def op(): OpResult = {
    val t0 = System.nanoTime()
    val got = pipeline(input)
    OpResult("pipeline", Stats.wall(t0), 1, if (got == expected) 0 else 1)
  }

  def covered(ops: Seq[OpResult], trace: Boolean): Boolean =
    ops.size >= (if (trace) 2 else 1)

  /** An item is an input document; an operation is one pass over them. */
  def endToEnd(ops: Seq[OpResult]): Map[String, Double] = Map(
    "items_per_s" -> Stats.median(ops.map(o => docs / o.wall)),
    "op_p50_s" -> Stats.median(ops.map(_.wall)))

  override def probes(): Seq[OpResult] =
    if (!resumeProbe) Nil else Seq(ctx.tracer.span("probe.resume")(resumeCycle()))

  private val chunks = 16
  private val waveSize = 4
  private val killAfter = 2
  private val waves = killAfter + (chunks - killAfter * waveSize + waveSize - 1) / waveSize

  /** `ResumableRunner.run` killed after `killAfter` waves by its failure
    * hook, then resumed to completion; checked for every chunk done exactly
    * once and the same output as the pipeline's.
    */
  private def resumeCycle(): OpResult = {
    val (out, lineage, runId) = (ctx.path("resume_out"), ctx.path("resume_lineage"), "probe")
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val killed = t.span("lineage.killed_attempt") {
      try {
        ResumableRunner.run(pages(input), out, lineage, runId, chunks, waveSize,
          failAfterWaves = Some(killAfter))
        false
      } catch { case _: SimulatedFailure => true }
    }
    val resumed = t.span("lineage.resume") {
      ResumableRunner.run(pages(input), out, lineage, runId, chunks, waveSize)
    }
    val wall = Stats.wall(t0)
    val done = new LineageStore(ctx.spark, lineage).all()
      .filter(col("run_id") === runId).collect().map(_.chunk_id).toSeq.sorted
    val written = ctx.spark.read.parquet(out).cache()
    val ok = killed && done == (0 until chunks) && Digest.ofPages(written) == expected &&
      written.select("url").distinct().count() == docs
    // the write layer alone: the cycle's output, cached, rewritten the way
    // the runner writes it (parquet, partitioned by chunk)
    val w0 = System.nanoTime()
    t.span("sources.rewrite_output") {
      written.write.mode("overwrite").partitionBy("chunk_id").parquet(ctx.path("rewrite"))
    }
    val writeS = Stats.wall(w0)
    written.unpersist()
    OpResult("resume", wall, 1, if (ok) 0 else 1, span = t.current, detail = Map(
      "redone" -> (killAfter * waveSize + resumed.size - chunks).toDouble, "write_s" -> writeS))
  }

  def perLayer(traced: Seq[OpResult], probes: Seq[OpResult]): Map[String, Double] = {
    val tracer = ctx.tracer
    val pipelineLayers = OpCounters.median(traced, tracer) { (_, c) =>
      c.pipeline ++ Map(
        "pipeline.annotate_stage_s" -> c.wall(c.stages.filter(_.attr("shuffle_write_bytes") > 0)),
        "pipeline.exchange_stage_s" -> c.wall(c.stages.filter(_.attr("shuffle_read_bytes") > 0)))
    }
    val resumeLayers = OpCounters.median(probes, tracer) { (o, c) =>
      val runner = c.site("ResumableRunner")
      val lineageIo = c.site("LineageStore", runner).toSet
      Map("sources.write_s" -> o.detail("write_s"),
        "sources.write_bytes" -> c.sum("output_bytes", runner.filterNot(lineageIo)),
        "lineage.waves" -> waves.toDouble,
        "lineage.chunks_redone" -> o.detail("redone"),
        "lineage.wave_s" -> o.wall / waves,
        "lineage.readback_s" -> c.wall(runner.filter(s => !lineageIo(s) && s.attr("output_bytes") == 0)),
        "lineage.completed_chunks_s" -> c.wall(c.site("LineageStore.completedChunks")))
    }
    Map(
      "synth.gen_us_per_doc" -> genNs / 1e3 / docs,
      "sources.scan_s" -> scanS,
      "stages.scrub_us_per_doc" -> layers.scrubNs / 1e3 / layers.docs,
      "stages.scrub_doc_max_ms" -> layers.scrubMaxNs / 1e6,
      "stages.scrub_match_frac" -> layers.scrubMatched.toDouble / layers.docs,
      "stages.heuristics_us_per_doc" -> layers.heuristicsNs / 1e3 / layers.docs,
      "stages.langid_us_per_doc" -> layers.langidNs / 1e3 / layers.docs,
      "stages.perplexity_us_per_doc" -> layers.perplexityNs / 1e3 / layers.docs) ++
      pipelineLayers ++ resumeLayers
  }
}

/** The declared queries named in `names`, run round robin after a warm
  * pass that records every result's digest.
  */
final class QueryWorkload(ctx: Ctx, names: Seq[String], docs: Int, vectors: Int)
    extends Workload {
  private val dir = ctx.path("tables")
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n))
  private var expected = Map.empty[String, Digest]
  private var scanS = 0.0

  def module(q: String): String =
    if (q.startsWith("q_dedup_") || q.startsWith("q_decontam_")) "dedup"
    else if (q.startsWith("q_ann_")) "similarity"
    else "analytics"

  def prepare(): OpResult = {
    val t = ctx.tracer
    t.span("sources.write_tables") { Tables.write(ctx.spark, ctx.seed, dir, docs, vectors) }
    val t0 = System.nanoTime()
    t.span("sources.scan") {
      new java.io.File(dir).list().sorted.foreach(f =>
        ctx.spark.read.parquet(s"$dir/$f").write.format("noop").mode("overwrite").save())
    }
    scanS = Stats.wall(t0)
    t.span("warmup")(warm())
  }

  /** Warm pass: runs every query once and keeps its digest as the
    * expected result of the measured runs.
    */
  private def warm(): OpResult = {
    val t0 = System.nanoTime()
    expected = fns.flatMap { case (n, fn) =>
      try Some(n -> ctx.tracer.span(s"warm.$n") { Digest.ofRows(fn(ctx.spark, dir)) })
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed in the warm pass: $e"); None
      }
    }.toMap
    OpResult("warm", Stats.wall(t0), fns.size, fns.size - expected.size)
  }

  private var next = 0

  /** The next query, round robin. */
  def op(): OpResult = {
    val (n, fn) = fns(next % fns.size)
    next += 1
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val ok = t.span(s"${module(n)}.$n") {
      try {
        val df = t.span("queries.plan") {
          val d = fn(ctx.spark, dir); d.queryExecution.executedPlan; d
        }
        t.span("queries.exec") { expected.get(n).contains(Digest.ofRows(df)) }
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $n failed: $e"); false
      }
    }
    OpResult(n, Stats.wall(t0), 1, if (ok) 0 else 1)
  }

  def covered(ops: Seq[OpResult], trace: Boolean): Boolean = names.forall { n =>
    val runs = ops.filter(_.key == n)
    runs.nonEmpty && (!trace || (runs.exists(_.span >= 0) && runs.exists(_.span < 0)))
  }

  private def perQuery(ops: Seq[OpResult]): Map[String, Double] =
    names.map(n => n -> Stats.median(ops.filter(_.key == n).map(_.wall))).toMap

  /** An item and an operation are one query, at its median wall. */
  def endToEnd(ops: Seq[OpResult]): Map[String, Double] = {
    val q = perQuery(ops)
    Map("items_per_s" -> q.size / q.values.sum, "op_p50_s" -> Stats.median(q.values.toSeq))
  }

  /** Counters are per-query medians over the traced runs, summed over the
    * queries: the cost of one pass.
    */
  def perLayer(traced: Seq[OpResult], probes: Seq[OpResult]): Map[String, Double] = {
    val q = perQuery(traced)
    val counters = names.map { n =>
      OpCounters.median(traced.filter(_.key == n), ctx.tracer) { (_, c) =>
        val dedup = if (module(n) == "dedup") c else new OpCounters(Nil)
        Map("dedup.jobs" -> dedup.jobs.size.toDouble,
          "dedup.shuffle_bytes" -> dedup.sum("shuffle_write_bytes"),
          "queries.plan_s" -> c.wall(c.named("queries.plan")),
          "queries.exec_s" -> c.wall(c.named("queries.exec")),
          "queries.jobs" -> c.jobs.size.toDouble, "queries.stages" -> c.stages.size.toDouble,
          "queries.shuffle_bytes" -> c.sum("shuffle_write_bytes"))
      }
    }
    Map("sources.scan_s" -> scanS) ++
      names.groupBy(module).map { case (m, ns) => s"$m.queries_s" -> ns.map(q).sum } ++
      names.map(n => s"query.${n.stripPrefix("q_")}_s" -> q(n)) ++
      counters.flatMap(_.keys).distinct.map(k => k -> counters.map(_.getOrElse(k, 0.0)).sum)
  }
}
