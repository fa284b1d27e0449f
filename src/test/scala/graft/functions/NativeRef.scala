package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** References of the native functions in this package, for the parity
  * specs (TokenizeParitySpec, ArrayMathParitySpec, DedupSpec). Test scope:
  * production runs the native functions.
  */
object NativeRef {

  /** HOF reference of [[Tokenize.norm_tokens]], the lowercased word tokens
    * with punctuation-trimmed edges. The HOF ran CodegenFallback-
    * interpreted, one regexp Matcher per token, at the head of every
    * minhash/simhash signature pass; TokenizeParitySpec pins the native
    * function to it.
    */
  def normTokensHof(text: Column): Column =
    filter(
      transform(split(lower(text), "\\s+"),
        w => regexp_replace(w, "(?U)^\\W+|\\W+$", "")),
      w => length(w) > 0)

  /** HOF reference of [[ArrayMath.softmax_arr]], the numerically-stable
    * softmax over an array<double> column.
    */
  def softmaxArrHof(logits: Column): Column = {
    val m = array_max(logits)
    val e = transform(logits, x => exp(x - m))
    val s = aggregate(e, lit(0.0), (acc, v) => acc + v)
    transform(e, x => x / s)
  }

  /** HOF reference of [[ArrayMath.neg_indexed_sorted]], the
    * [[TopK.topKClassColumns]] sort:
    * `array_sort(transform(probs, (p, i) => struct(p * -1.0, i)))` with
    * lexicographic struct ordering.
    */
  def negIndexedSortedHof(probs: Column): Column =
    array_sort(transform(probs,
      (p, i) => struct((p * -1.0).as("negp"), i.as("idx"))))

  /** Hamming distance of two 64-bit simhash signatures, driver-side. */
  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
