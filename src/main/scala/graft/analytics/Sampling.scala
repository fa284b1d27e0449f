package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling for data mixing — the "take 30% of
  * host A, 5% of host B" selection step of a training-data pipeline, built
  * so the SAME rows are selected on every run, on any cluster, with zero
  * shuffle and zero RNG state.
  *
  * Mechanism: a row's sampling coordinate is the first 15 hex digits of
  * `md5(md5(strata) ++ md5(key)... ++ salt)` (fixed-width component
  * blocks — no separator aliasing) — uniform over [0, 16^15) — and a row
  * is kept
  * when that string is lexicographically below its stratum's threshold.
  * Lexicographic order on equal-length lowercase hex IS numeric order, so
  * the filter is exactly `U(0,1) < rate` with a cryptographic U. Benefits
  * at 10^12 docs:
  *  - a pure per-row filter: embarrassingly parallel, no Exchange, resumes
  *    and retries are trivially consistent (no RNG seed-per-partition drift
  *    that `df.sample` has under task retry);
  *  - re-runs and INCREMENTAL runs agree: a doc's fate depends only on its
  *    key and the salt, so a later backfill selects the same subset;
  *  - the salt versions the sample — bump it to draw an independent one.
  *
  * The reference's corpus assembly takes per-source slices of exactly this
  * shape (sampled subsets per dump in `fineweb2_download.py`); hash-gated
  * selection is the standard deterministic mechanism for it at scale.
  *
  * Rates are inlined as a CASE over the (small) strata map — suitable for
  * up to a few thousand strata; beyond that, broadcast-join a rate
  * dimension instead and compare against its threshold column.
  */
object Sampling {

  /** 15-hex-digit lowercase threshold for a rate in (0,1); "0" never keeps
    * (every 15-hex coordinate compares above it) and "g" always keeps
    * (above every hex digit). The double→hex mapping happens ONCE here and
    * is inlined into both the Spark filter and any SQL oracle, so the two
    * engines can't disagree on rounding.
    */
  def thresholdHex(rate: Double): String = {
    require(!rate.isNaN, "rate must not be NaN")
    if (rate <= 0.0) "0"
    else if (rate >= 1.0) "g"
    else {
      val scaled = (rate * (1L << 60).toDouble).toLong
      f"$scaled%015x"
    }
  }

  /** The row's sampling coordinate: uniform 15-hex string from the strata
    * value, the identifying key columns, and the salt. Each component is
    * md5'd to a fixed 32-hex block BEFORE the outer hash, so values
    * containing any separator character cannot alias across components
    * ((\"a|b\", \"c\") ≠ (\"a\", \"b|c\")); NULL components hash as the empty
    * string — callers with nullable keys that must stay distinct from ''
    * should coalesce to their own sentinel.
    */
  def coordinate(strata: Column, keys: Seq[Column], salt: String): Column = {
    val blocks = (strata +: keys).map(c =>
      md5(coalesce(c.cast("string"), lit("")).cast("binary")))
    substring(md5(concat(blocks :+ lit(salt): _*).cast("binary")), 1, 15)
  }

  /** `CASE WHEN strata = s THEN v ... ELSE default END` with the WHENs in
    * stratum order; the bare `default` when `values` is empty.
    */
  private def stratumCase(strata: Column, values: Map[String, Column],
      default: Column): Column =
    values.toSeq.sortBy(_._1).foldLeft(null: Column) { case (acc, (s, v)) =>
      if (acc == null) when(strata === lit(s), v)
      else acc.when(strata === lit(s), v)
    } match {
      case null => default
      case c    => c.otherwise(default)
    }

  /** Keep a deterministic `rates(stratum)` fraction of each stratum
    * (`defaultRate` for strata not in the map). Pure filter — no shuffle,
    * no RNG, stable across runs/retries/backfills for a fixed salt.
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      keyCols: Seq[String],
      rates: Map[String, Double],
      defaultRate: Double,
      salt: String): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must identify the row")
    val strata = col(strataCol)
    val threshold = stratumCase(strata,
      rates.map { case (s, r) => s -> lit(thresholdHex(r)) },
      lit(thresholdHex(defaultRate)))
    df.filter(coordinate(strata, keyCols.map(col), salt) < threshold)
  }

  /** Per-stratum token-budget selection — the "fill each source's token
    * budget with its best documents" step of data mixing: within each
    * stratum, rows are taken in `orderCols` order (make it total — include
    * a unique key — or the cut is nondeterministic) until the running sum
    * of `tokensCol` exceeds the stratum's budget; the row that exactly
    * exhausts the budget is kept.
    *
    * Scale shape: ONE hash exchange on the stratum key and a per-stratum
    * sort — no global sort, no driver collection. A stratum's rows land on
    * one task, so the unit of skew is the stratum itself: at 10^12 docs
    * keep strata host/source-grained (bounded), not corpus-grained; for a
    * single corpus-wide budget, pre-aggregate per-stratum token sums and
    * allocate the budget proportionally instead of windowing one giant
    * partition.
    *
    * `_cum_tokens` is reserved: an input column of that name is
    * overwritten.
    */
  def budgetSelect(
      df: DataFrame,
      strataCol: String,
      tokensCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long,
      orderCols: Seq[Column]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must define the take order")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(orderCols: _*)
    val strata = col(strataCol)
    val budget = stratumCase(strata,
      budgets.map { case (s, b) => s -> lit(b) }, lit(defaultBudget))
    df.withColumn("_cum_tokens", sum(col(tokensCol)).over(w))
      .filter(col("_cum_tokens") <= budget)
      .drop("_cum_tokens")
  }

  /** The same CASE/filter as ANSI SQL for a DuckDB oracle, built from the
    * same thresholds (single source of truth).
    */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  def whereSql(
      strataCol: String,
      keyCols: Seq[String],
      rates: Map[String, Double],
      defaultRate: Double,
      salt: String): String = {
    val caseArms = rates.toSeq.sortBy(_._1).map { case (s, r) =>
      s"WHEN ${sqlLit(s)} THEN '${thresholdHex(r)}'"
    }.mkString(" ")
    val blocks = (strataCol +: keyCols)
      .map(c => s"md5(coalesce(CAST($c AS VARCHAR), ''))")
      .mkString(" || ")
    s"substr(md5($blocks || ${sqlLit(salt)}), 1, 15) < " +
      s"CASE $strataCol $caseArms ELSE '${thresholdHex(defaultRate)}' END"
  }
}
