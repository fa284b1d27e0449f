package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's production "derive thresholds from the corpus, then
  * filter with them" composition: an exact percentile grid over the score
  * distribution (`ro_vs_eng/quantiles_fetcher.py:56-65`, spelled by
  * q_a4_percentile_grid), one percentile picked as the operating point (the
  * 92nd in `run.sh:4-6`) and fed to the threshold filter
  * (`ro_vs_eng/filter_jql.py:27`) — all in one plan, no driver round-trip.
  *
  * Scale shape: the threshold is ONE aggregation pass (Spark's exact
  * `percentile` is a single shuffle-to-one-reducer per group of a compact
  * digest, fine for a global scalar); the derived 1-row threshold is broadcast into the
  * filter, so the corpus streams through a BroadcastNestedLoopJoin with a
  * pushed predicate — the corpus is scanned exactly twice (once to sort for
  * the percentile, once to filter), never collected.
  */
object DerivedThresholds {

  /** Rows of `df` whose `scoreCol` clears the `pick` percentile of its own
    * distribution; the derived threshold is carried along as `threshold`.
    */
  def filterByDerivedPercentile(df: DataFrame, scoreCol: String,
      grid: Seq[Double], pick: Double): DataFrame = {
    require(grid.contains(pick), s"pick $pick must be a grid point $grid")
    // only the picked point is aggregated: one buffer, one interpolation,
    // identical to the grid's entry for `pick`
    val chosen = df.agg(percentile(col(scoreCol), lit(pick)).as("threshold"))
    df.crossJoin(broadcast(chosen)).filter(col(scoreCol) >= col("threshold"))
  }

  /** The reference's grid: 90.5% to 95% in half-point steps
    * (`quantiles_fetcher.py:61`).
    */
  val ReferenceGrid: Seq[Double] =
    Seq(0.905, 0.91, 0.915, 0.92, 0.925, 0.93, 0.935, 0.94, 0.945, 0.95)
}
