package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.shingle_hashes

/** Benchmark decontamination — the training-data hygiene step that removes
  * corpus documents overlapping an evaluation set (GPT-3 appendix C's
  * 13-gram rule; the same n-gram-overlap discipline FineWeb-class pipelines
  * run before training). Not an operator of the reference pipeline — it
  * belongs to the "beyond the reference" training-data family next to the
  * dedup operators whose shingle machinery it shares.
  *
  * Token contract: the same as [[Dedup.jaccardPrefixJoin]] — `split` on a
  * single space (the oracle's `string_split(text, ' ')`), n-grams over the
  * token SEQUENCE, gram identity by the shared 64-bit shingle hash
  * ([[graft.functions.TextFunctions.shingles]], built from 64-bit token
  * hashes — equal gram strings hash equal; distinct-gram counts treat hash
  * collisions as shared grams, a ~k²/2⁶⁵ event on k distinct grams).
  *
  * Caller contract: `idCol` is unique in `docs` (duplicate ids would merge
  * into one report row with an ambiguous `n_grams`) — same contract as
  * `assumeUniqueIds = true` on the jaccard entry points; run [[Dedup
  * .exactDedup]] or a distinct-on-id first if the input can't promise it.
  *
  * Scale shape (the 100-TB asymmetry this operator is built around): the
  * EVAL side is small by construction — benchmarks are thousands of
  * examples, so their distinct gram set is a dimension table — while the
  * corpus side is the 100-TB frame. The eval grams are always broadcast, so
  * the corpus grams NEVER shuffle: the gram join is a map-side
  * BroadcastHashJoin, only HIT rows survive into the per-doc aggregate
  * (partial map-side combine ⇒ the one exchange moves ≤ one row per
  * contaminated doc), and the corpus text is scanned exactly once. No other
  * join here may broadcast: the flagged-id anti join is merge-hinted per
  * the [[Dedup]] join-strategy rule, and both are pinned in
  * DecontaminateSpec.
  */
object Decontaminate {

  /** Distinct hashed word n-grams of `textCol` (empty when < n tokens). */
  private def grams(text: Column, n: Int): Column =
    array_distinct(shingle_hashes(split(text, " "), n))

  /** The eval set's distinct gram frame: one `g` column, deduplicated.
    * Exposed so a pipeline can build it once, persist it, and decontaminate
    * many corpus slices against the same frame.
    */
  def benchGrams(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench.select(explode(grams(col(textCol), n)).as("g")).distinct()

  /** Per-document contamination report: one row per corpus doc sharing at
    * least one n-gram with the eval set — `(id, n_grams, n_hit_grams,
    * hit_frac)` where `n_grams` counts the doc's distinct grams and
    * `n_hit_grams` of them appear anywhere in `bench`. Docs with zero hits
    * (or fewer than `n` tokens) are absent: the report is hit-sized, not
    * corpus-sized, so downstream joins against it stay cheap.
    */
  def gramHits(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, s"n = $n must be >= 1")
    val bg = broadcast(benchGrams(bench, textCol, n))
    docs
      .select(col(idCol).as("id"), grams(col(textCol), n).as("gs"))
      .filter(size(col("gs")) > 0)
      // n_grams rides along the exploded rows so no join back to the corpus
      // is needed for the denominator
      .select(col("id"), size(col("gs")).as("n_grams"),
        explode(col("gs")).as("g"))
      .join(bg, "g")
      .groupBy(col("id"), col("n_grams"))
      .agg(count(lit(1)).as("n_hit_grams"))
      .withColumn("hit_frac", round(col("n_hit_grams") / col("n_grams"), 6))
      .select("id", "n_grams", "n_hit_grams", "hit_frac")
  }

  /** Corpus with contaminated documents REMOVED: every doc sharing at least
    * `minHits` distinct n-grams with the eval set is dropped; all other
    * rows pass through with their full schema. The flagged frame is
    * hit-sized but unbounded in the worst case (a fully contaminated
    * corpus), so the anti join is merge-hinted — never broadcast.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 13, minHits: Int = 1): DataFrame = {
    require(minHits >= 1, s"minHits = $minHits must be >= 1")
    val flagged = gramHits(docs, bench, idCol, textCol, n)
      .filter(col("n_hit_grams") >= minHits)
      .select(col("id"))
    docs.join(flagged.hint("merge"), docs(idCol) === flagged("id"),
      "left_anti")
  }
}
