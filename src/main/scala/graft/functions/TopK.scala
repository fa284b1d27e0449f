package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative softmax + per-row top-k class extraction over an
  * `array<double>` logits/probs column — the Column twin of
  * [[graft.stages.TaskScorer]]'s scalar path, used where the scores are
  * already columns (W1 per-row top-k, reference
  * `small_model_inference.py:84-93`). Since r6 the two per-element-heavy
  * steps (softmax, the (−prob, idx) struct sort) are native codegen
  * Expressions ([[ArrayMath]]) — the HOF spellings were CodegenFallback,
  * interpreted per element; they live on as the test-scope `NativeRef`
  * parity references (bit-identity pinned in ArrayMathParitySpec).
  */
object TopK {

  /** 2k columns `{prefix}_class_j` / `{prefix}_prob_j` (j = 1..k) from a
    * probs array: prob desc, class-index tiebreak — sorted via the native
    * (−prob, idx) struct sort, no shuffle, no UDF.
    */
  def topKClassColumns(probs: Column, labels: Seq[String], k: Int,
      prefix: String): Seq[Column] = {
    val sorted = ArrayMath.neg_indexed_sorted(probs)
    (1 to k).flatMap { j =>
      val e = element_at(sorted, j)
      Seq(
        element_at(typedlit(labels), e.getField("idx") + 1)
          .as(s"${prefix}_class_$j"),
        round(e.getField("negp") * -1.0, 6).as(s"${prefix}_prob_$j"))
    }
  }
}
