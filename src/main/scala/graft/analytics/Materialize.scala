package graft.analytics

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** One policy for "materialize this frame eagerly and cut its lineage" —
  * used wherever a frame feeds multiple plan branches whose pruned
  * subtrees defeat ReusedExchange (dedup signature frames, the Align range
  * partitioning), so the expensive construction runs once.
  *
  * Default: eager `localCheckpoint` — blocks live in executor
  * memory-and-disk, are freed by the ContextCleaner when the frame becomes
  * unreachable (no CacheManager registration to leak), and cost no
  * external storage. Caveat: an executor loss fails the query instead of
  * recomputing.
  *
  * Cluster-grade path: set `spark.graft.checkpoint.reliable=true`
  * (case-insensitive) AND `sparkContext.setCheckpointDir(...)` — frames
  * then checkpoint to the reliable store via [[reliable]]. On a
  * preemptible 1000-executor cluster this is the right setting; locally
  * the default is. Reliable checkpoint FILES outlive the frames that wrote
  * them unless `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (Spark's default is false) — long-running reliable-mode jobs should set
  * it, or sweep the checkpoint dir between jobs.
  */
object Materialize {
  // PLANNER CAVEAT (learned at the 2M DEDUP_SCALE run): the checkpointed
  // frame is a LogicalRDD that carries the ORIGIN plan's PRE-execution
  // statistics — for generated or expanded data those undercount by orders
  // of magnitude, and a downstream join against the materialized frame can
  // be statically planned as a broadcast of a huge side (observed: a
  // ~1.6 GB driver collect of a 2M-row shingle-set frame). Operators whose
  // materialized sides are large BY CONSTRUCTION must pin shuffle joins
  // with explicit hints — see graft.dedup.Dedup's object scaladoc and
  // DedupSpec's no-broadcast plan test.
  val ReliableConfKey = "spark.graft.checkpoint.reliable"

  /** Materializes `ds` under the policy above. Persist and checkpoint keep
    * the element type, so typed `Dataset[T]` pipelines (media payloads)
    * share the one policy with DataFrames.
    */
  def apply[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.conf.getOption(ReliableConfKey)
          .exists(_.equalsIgnoreCase("true"))) {
      if (ds.sparkSession.sparkContext.getCheckpointDir.isEmpty)
        throw new IllegalStateException(
          s"$ReliableConfKey=true but no checkpoint directory is set - " +
            "call sparkContext.setCheckpointDir(...) first")
      reliable(ds)
    } else ds.localCheckpoint(true)

  /** [[apply]] variant that PRESERVES the frame's physical partitioning and
    * ordering metadata through the checkpoint. Under AQE the root plan
    * reports `UnknownPartitioning`, so the default path yields a
    * `LogicalRDD` Catalyst re-exchanges for every downstream join/window on
    * the very key the frame is already partitioned by. Disabling AQE for
    * just the materialization ACTION makes the checkpointed `LogicalRDD`
    * carry `hashpartitioning(...)` + the sort order, and downstream
    * consumers keyed on the same columns plan NO re-exchange and NO
    * re-sort (measured: the dedup band-key self-join goes from 2 narrow
    * re-exchanges + sorts to zero). The materialization itself forgoes AQE,
    * which costs nothing for the frames this is used on: their one shuffle
    * feeds a window/aggregate (no join for AQE to skew-split) and the
    * partition count is sized explicitly by the caller's session conf.
    * Caveats: (1) the AQE flag is SESSION state — a concurrent action on
    * the same session during the (short) materialization also runs
    * without AQE; single-action driver flows (all engine operators) are
    * unaffected. (2) DOWNSTREAM joins that consume the preserved
    * partitioning have no shuffle stage on that side, so AQE's
    * OptimizeSkewedJoin cannot split them at runtime — a consumer whose
    * key can be pathologically skewed must bound the skew STRUCTURALLY
    * (the dedup operators' `bucketCap` star/chain guards; a 50k-row hot
    * bucket is quadratic output with or without AQE splits, so the
    * structural cap is the real fix and the lost AQE rescue is moot
    * there — but do not use this variant for joins that rely on skew
    * splitting).
    */
  def partitioned(df: DataFrame): DataFrame =
    withAqeDisabled(df.sparkSession)(apply(df))

  private case class AqeSave(prev: Option[String], depth: Int)
  private val aqeSaves =
    new java.util.HashMap[org.apache.spark.sql.SparkSession, AqeSave]()

  /** Runs `body` with AQE disabled on `spark`, restoring the prior flag
    * afterwards: an explicit setting is set back, an unset flag is unset
    * again (`getOption` would read the default and leave it set
    * explicitly). REENTRANT per session (depth-counted under a lock): with
    * a naive save/set/restore, two overlapping calls interleave as
    * A-saves-true, B-saves-false, A-restores-true, B-restores-false — and
    * AQE stays off for the rest of the session. Here only the FIRST enter
    * saves and only the LAST exit restores, so concurrent or nested
    * materializations on one session leave the flag exactly as found
    * (they still all run without AQE — [[partitioned]]'s documented
    * caveat (1)). The lock guards only the flag bookkeeping, never the
    * materialization action itself.
    */
  private[analytics] def withAqeDisabled[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    aqeSaves.synchronized {
      aqeSaves.get(spark) match {
        case null =>
          aqeSaves.put(spark, AqeSave(spark.conf.getAll.get(key), 1))
          spark.conf.set(key, "false")
        case s => aqeSaves.put(spark, s.copy(depth = s.depth + 1))
      }
    }
    try body
    finally aqeSaves.synchronized {
      val s = aqeSaves.get(spark)
      if (s.depth == 1) {
        aqeSaves.remove(spark)
        s.prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      } else aqeSaves.put(spark, s.copy(depth = s.depth - 1))
    }
  }

  /** Materializes `df` hash-partitioned AND per-partition-sorted on
    * `keys`, preserving both through the checkpoint ([[partitioned]]) —
    * the shape a downstream self-join or window keyed on `keys` consumes
    * with ZERO re-exchange and ZERO re-sort. Use when the frame does not
    * already end in a shuffle on `keys` (then plain [[partitioned]] is
    * enough): the one explicit repartition replaces the per-consumer
    * exchange each plan branch would otherwise run.
    */
  def partitionedBy(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame =
    partitioned(df.repartition(keys: _*).sortWithinPartitions(keys: _*))

  /** Reliable-store materialization. Persists BEFORE checkpointing:
    * `Dataset.checkpoint`'s eager count and the ReliableCheckpointRDD
    * file-write are two jobs, and without the persist the second would
    * recompute the whole plan — doubling the work and double-bumping any
    * accumulators in it. The cache is released as soon as the checkpoint
    * files exist.
    */
  private def reliable[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val c = p.checkpoint(eager = true)
    p.unpersist(blocking = false)
    c
  }
}
