package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** J2 — scale-safe global row numbering for alignment joins
  * (`comparison.py:119-131` pairs two result lists positionally).
  *
  * `row_number() OVER (ORDER BY …)` with no PARTITION BY collapses the
  * whole dataset into ONE task — fine on a fixture, fatal at 10^12 rows.
  * This operator produces the identical contiguous 1-based numbering
  * distributed: range-repartition by the sort key into the session's
  * `spark.sql.shuffle.partitions` (non-overlapping key ranges per
  * partition), rank WITHIN each partition (a distributed window keyed by
  * partition id and tag), then add each partition's cumulative per-tag
  * row offset via a broadcast of the tiny count manifest (partitions ×
  * tags rows). Two passes over the data, no single-partition stage
  * anywhere.
  *
  * Determinism: like any row_number, the numbering is deterministic iff
  * `sortCols` is a total order (ties land in one partition — the
  * RangePartitioner keys equal values together — but tie order within it
  * is unspecified, exactly as with the single-partition window).
  */
object Align {

  /** Global row numbers computed independently WITHIN each value of
    * `tagCol`, in one pass (r6 optimization): when the sides of an
    * alignment join are filters of ONE table (the reference's
    * `comparison.py` pairs two status slices of the same result set),
    * numbering each side separately costs two scans, two eager
    * materializations and two driver censuses. Here the tagged union is
    * range-partitioned by `sortCols` ONCE (tags interleave in the same
    * key ranges — ranges don't need to align with tags for correctness,
    * since ranking partitions by (__pid, tag)); one census counts
    * per-(partition, tag) rows; per-tag cumulative offsets then make the
    * within-(partition, tag) rank globally contiguous per tag — the
    * numbers are IDENTICAL to `row_number() OVER (PARTITION BY tag ORDER
    * BY sortCols)` (AlignSpec pins it). A constant tag numbers the whole
    * frame.
    *
    * EAGER, not lazy: calling this materializes the whole range-partitioned
    * input (localCheckpoint) and collects the per-(partition, tag) row
    * census at CALL time — required so the offsets and the ranking read one
    * frozen partitioning (see the comment below). Do not construct the
    * returned frame speculatively: building it and discarding it (or
    * branching on it lazily) still pays the full materialization.
    */
  def withGlobalRowNumberByTag(df: DataFrame, tagCol: String,
      sortCols: Seq[Column], out: String): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    // The range exchange samples sort-key boundaries per execution: if the
    // census and the ranking each planned their OWN exchange (column pruning
    // makes the two subtrees non-identical, so ReusedExchange does not fire),
    // the two executions could sample DIFFERENT boundaries and the offsets
    // would be added against the wrong partition counts — silently wrong
    // global numbers at scale. So `ranged` is materialized ONCE (eager
    // localCheckpoint, MEMORY_AND_DISK blocks) and both the offsets census
    // and the ranking read the same partitioning. localCheckpoint rather
    // than persist(): cached Datasets register in the CacheManager and leak
    // until an explicit unpersist nobody owns here, while local-checkpoint
    // blocks are freed by the ContextCleaner once the returned DataFrame is
    // unreachable. Caveat (standard for localCheckpoint): an executor loss
    // fails the query instead of recomputing — on a preemptible cluster,
    // set spark.graft.checkpoint.reliable=true (see [[Materialize]]).
    val ranged = df.repartitionByRange(n, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(Materialize.apply)
    // per-(partition, tag) counts → per-tag cumulative offsets, computed
    // driver-side over the tiny (n × tags)-row manifest
    val counts = ranged.groupBy(col("__pid"), col(tagCol))
      .agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getInt(0), r.get(1), r.getLong(2)))
      .sortBy(_._1)
    val offsets = counts.groupBy(_._2).toSeq.flatMap { case (tag, rows) =>
      rows.sortBy(_._1).scanLeft((tag, -1, 0L)) {
        case ((_, _, cum), (pid, _, cnt)) => (tag, pid, cum + cnt)
      }.sliding(2).collect {
        case Array((_, _, off), (t, pid, _)) => (t, pid, off)
      }
    }
    val spark = df.sparkSession
    val offsetRows: java.util.List[org.apache.spark.sql.Row] = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row](offsets.size)
      offsets.foreach { case (tag, pid, off) =>
        l.add(org.apache.spark.sql.Row(tag, pid, off))
      }
      l
    }
    // a LocalRelation: the driver-computed manifest, broadcast
    val offsetsDf = spark.createDataFrame(offsetRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(tagCol,
          df.schema(tagCol).dataType),
        org.apache.spark.sql.types.StructField("__pid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType))))
    val local = Window.partitionBy(col("__pid"), col(tagCol))
      .orderBy(sortCols: _*)
    // null-safe on the tag: a null tag is a tag like any other
    val manifest = broadcast(offsetsDf)
    ranged.join(manifest, ranged(tagCol) <=> manifest(tagCol) &&
        ranged("__pid") === manifest("__pid"))
      .drop(manifest(tagCol)).drop(manifest("__pid"))
      .withColumn(out, row_number().over(local) + col("__off"))
      .drop("__pid", "__off")
  }
}
