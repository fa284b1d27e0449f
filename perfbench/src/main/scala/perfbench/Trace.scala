package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of a traced run. Times are nanoseconds since the tracer
  * was created; Spark's millisecond event times are mapped onto the same
  * clock. `parent` is -1 for a root span.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long, attrs: Map[String, Any]) {
  def seconds: Double = (end - start) / 1e9
  def layer: String = name.takeWhile(_ != '.')
  def attr(k: String): Double = attrs.get(k) match {
    case Some(n: Number) => n.doubleValue
    case _ => 0.0
  }
}

/** Per-call timings of a hot function, summed instead of kept as one span
  * per call (a per-document span would cost more than some of the calls
  * it measures). Thread time: calls on parallel threads add up.
  */
final case class Aggregate(name: String, parent: Int, calls: Long,
    totalNs: Long, maxNs: Long)

/** In-memory span recorder for one benchmark run. Spans come from the
  * benchmark's own code (`span`), from Spark's scheduler (jobs and stages,
  * via [[SparkEvents]]) and from the SQL layer (via [[SqlEvents]]). Nothing
  * is written until [[Tracer.write]] at the end of the run. A disabled
  * tracer runs the bodies untouched.
  */
final class Tracer(val runId: String) {
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  @volatile var enabled = false

  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val aggregates = mutable.ArrayBuffer.empty[Aggregate]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def now(): Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochNs

  def newId(): Int = synchronized { nextId += 1; nextId }
  def current: Int = stack.get.headOption.getOrElse(-1)

  /** The innermost open span of the thread that made the tracer. */
  @volatile var mainCurrent: Int = -1
  private val owner = Thread.currentThread()
  private def setStack(s: List[Int]): Unit = {
    stack.set(s)
    if (Thread.currentThread() eq owner) mainCurrent = s.headOption.getOrElse(-1)
  }

  def add(s: Span): Unit = synchronized { spans += s }
  def add(a: Aggregate): Unit = synchronized { aggregates += a }

  /** Runs `body` inside a span named `name`. Spark jobs submitted by this
    * thread inside the body carry the span id as a local property, so the
    * scheduler's job and stage spans hang under it.
    */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      val sc = SparkSession.getActiveSession.map(_.sparkContext)
      val prevProp = sc.map(_.getLocalProperty(Tracer.SpanProperty))
      setStack(id :: stack.get)
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      val t0 = now()
      try body
      finally {
        add(Span(id, parent, name, t0, now(), attrs.toMap))
        setStack(stack.get.tail)
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, prevProp.orNull))
      }
    }

  def snapshot: (Seq[Span], Seq[Aggregate]) = synchronized {
    (spans.toList, aggregates.toList)
  }

  /** All spans below `root` (not including it). */
  def descendants(root: Int): Seq[Span] = {
    val (all, _) = snapshot
    val byParent = all.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val kids = frontier.flatMap(p => byParent.getOrElse(p, Nil))
      out ++= kids
      frontier = kids.map(_.id)
    }
    out.toSeq
  }

  /** Self time per layer (the span name up to its first dot): a span's
    * wall minus the part of it its child spans cover and minus its
    * aggregates' thread time, floored at zero; an aggregate counts whole.
    */
  def layerSelfSeconds: Map[String, Double] = {
    val (all, aggs) = snapshot
    val kids = all.groupBy(_.parent)
    val aggNs = aggs.groupBy(_.parent).map { case (p, as) => p -> as.map(_.totalNs).sum }
    def covered(s: Span): Long = {
      var (total, from, to) = (0L, 0L, 0L)
      kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (a > to) { total += to - from; from = a; to = b } else to = math.max(to, b)
        }
      total + to - from
    }
    val self = mutable.TreeMap.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      self(s.layer) += math.max(0L, s.end - s.start - covered(s) - aggNs.getOrElse(s.id, 0L)) / 1e9
    }
    aggs.foreach(a => self(a.name.takeWhile(_ != '.')) += a.totalNs / 1e9)
    self.toMap
  }

  def write(path: java.nio.file.Path, header: Map[String, Any]): Unit = {
    val (all, aggs) = snapshot
    val sb = new java.lang.StringBuilder
    sb.append('{')
    (header + ("run_id" -> runId)).foreach { case (k, v) =>
      sb.append(Json.str(k)).append(':').append(Json(v)).append(",\n")
    }
    sb.append("\"spans\":[\n")
    sb.append(all.sortBy(s => (s.start, s.id)).map { s =>
      Json(mutable.LinkedHashMap[String, Any]("run_id" -> runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start / 1e6,
        "end_ms" -> s.end / 1e6) ++ s.attrs)
    }.mkString(",\n"))
    sb.append("],\n\"aggregates\":")
    sb.append(Json(aggs.map(a => mutable.LinkedHashMap[String, Any]("name" -> a.name,
      "parent" -> a.parent, "calls" -> a.calls, "total_ms" -> a.totalNs / 1e6,
      "max_ms" -> a.maxNs / 1e6))))
    sb.append(",\n\"layer_self_s\":").append(Json(layerSelfSeconds))
    sb.append("}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark scheduler events as spans: one `spark.job` span per job, under the
  * benchmark span that submitted it, and one `spark.stage` span per stage
  * attempt under its job, carrying the stage's task metrics.
  */
final class SparkEvents(t: Tracer) extends SparkListener {
  private case class JobOpen(spanId: Int, parent: Int, start: Long, stages: Seq[Int])
  private val jobs = mutable.HashMap.empty[Int, JobOpen]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val taskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def parentOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = t.newId()
    jobs(e.jobId) = JobOpen(id, parentOf(e.properties), t.fromEpochMs(e.time),
      e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = id)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      t.add(Span(j.spanId, j.parent, "spark.job", j.start, t.fromEpochMs(e.time),
        Map("job_id" -> e.jobId, "stages" -> j.stages.size,
          "succeeded" -> (e.jobResult == JobSucceeded))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val durs = taskMs.remove((si.stageId, si.attemptNumber())).map(_.sorted)
      .getOrElse(mutable.ArrayBuffer.empty[Long])
    val median = if (durs.isEmpty) 0L else durs(durs.size / 2)
    val max = if (durs.isEmpty) 0L else durs.last
    val start = si.submissionTime.map(t.fromEpochMs).getOrElse(t.now())
    val end = si.completionTime.map(t.fromEpochMs).getOrElse(t.now())
    // graft frames of the call site say which engine function ran the stage
    val frames = si.details.linesIterator.map(_.trim)
      .filter(_.startsWith("graft.")).map(_.takeWhile(_ != '(')).toList.distinct
    val attrs = Map[String, Any](
      "stage_id" -> si.stageId, "site" -> si.name, "graft_frames" -> frames,
      "tasks" -> si.numTasks, "failed" -> si.failureReason.isDefined,
      "run_s" -> m.executorRunTime / 1e3, "cpu_s" -> m.executorCpuTime / 1e9,
      "gc_s" -> m.jvmGCTime / 1e3,
      "task_max_ms" -> max, "task_median_ms" -> median,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "output_records" -> m.outputMetrics.recordsWritten,
      "shuffle_read_bytes" -> (m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead),
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    t.add(Span(t.newId(), stageJob.getOrElse(si.stageId, -1), "spark.stage",
      start, end, attrs))
  }
}

/** SQL executions reported by Spark's `QueryExecutionListener`, as
  * `sql.<action>` spans under the benchmark span open on the main thread
  * when the event is delivered (operations drain the event bus before
  * their span closes).
  */
final class SqlEvents(t: Tracer) extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
    val end = t.now()
    t.add(Span(t.newId(), t.mainCurrent, s"sql.$func", end - ns, end,
      Map("root" -> qe.executedPlan.nodeName, "succeeded" -> ok)))
  }
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, durationNs, ok = true)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, 0L, ok = false)
}
