package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis primitives for the training-data pipeline: BPE-ish token
  * counting, document fingerprinting (rolling hash), SimHash, and shingle
  * hashing — each as either a codegen'd built-in chain or a [[NativeFn]]
  * (one static call per row in generated code, never a boxed UDF).
  */
object TextFunctions {

  /** GPT-2-style pretokenizer pattern, restricted to constructs both
    * java.util.regex and RE2 (the DuckDB oracle) support (no lookahead):
    * contraction suffixes, space-prefixed letter runs, space-prefixed digit
    * runs, space-prefixed punctuation runs, residual whitespace runs. The
    * token COUNT under this pattern tracks a BPE tokenizer's pre-split
    * count — the budget-estimation proxy for the reference's HF tokenizer
    * (`token_stats.py:11-13`) when the real vocab isn't loadable.
    */
  val BpeIshPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** X7 variant — BPE-ish pretoken count via the codegen'd regexp engine. */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit(BpeIshPattern))

  def doc_fingerprint(c: Column): Column = DocFingerprint(c)

  def simhash64(tokens: Column): Column = SimHash64(tokens)

  def shingle_hashes(tokens: Column, n: Int): Column = ShingleHashes(tokens, n)

  def minhash_signature(shingles: Column, k: Int): Column =
    MinHashSignature(shingles, k)

  private[graft] val DocFingerprint = NativeFn("doc_fingerprint",
    "graft.functions.TextFunctions", "fingerprint", StringType, Some(LongType))
  private[graft] val SimHash64 = NativeFn("simhash64",
    "graft.functions.TextFunctions", "simhashTokens", ArrayType(StringType),
    Some(LongType))
  private[graft] val ShingleHashes = NativeFn("shingle_hashes",
    "graft.functions.TextFunctions", "shingles", ArrayType(StringType),
    Some(ArrayType(LongType, containsNull = false)),
    Seq("n" -> (1 to Int.MaxValue)))
  /** k indexes the [[MinHashMaxK]]-entry affine tables. */
  private[graft] val MinHashSignature = NativeFn("minhash_signature",
    "graft.functions.TextFunctions", "minhashSigK", ArrayType(LongType),
    Some(ArrayType(LongType, containsNull = false)),
    Seq("k" -> (1 to MinHashMaxK)))

  // ---- static helpers (called from generated code) ------------------------

  /** Rolling polynomial hash (base 31, 64-bit wraparound) over the text with
    * whitespace runs collapsed to single spaces and lowercased — so
    * fingerprints are stable under reflow but sensitive to content.
    */
  def fingerprint(s: UTF8String): Long = {
    val str = s.toString
    var h = 1125899906842597L
    var prevSpace = true
    var i = 0
    while (i < str.length) {
      val c0 = str.charAt(i)
      val isSpace = Character.isWhitespace(c0)
      if (!isSpace) {
        h = 31 * h + Character.toLowerCase(c0)
        prevSpace = false
      } else if (!prevSpace) {
        h = 31 * h + ' '
        prevSpace = true
      }
      i += 1
    }
    h
  }

  /** 64-bit SimHash over a token array: per bit, sum +1/−1 votes weighted by
    * token hashes; the sign picks the bit. O(64·n) with no allocation.
    */
  def simhashTokens(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = graft.synth.Det.mix64(
          arr.getUTF8String(i).hashCode.toLong ^ 0xc2b2ae3d27d4eb4fL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Hashes of the n-gram shingles of a token array (MinHash input): each
    * token's UTF-8 bytes hashed to 64 bits with [[ArrayMath.xx64]] (a null
    * token as the empty one), then mixed in gram order.
    */
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](len)
    var i = 0
    while (i < len) {
      th(i) = ArrayMath.xx64(if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i))
      i += 1
    }
    val out = new Array[Any](len - n + 1)
    i = 0
    while (i + n <= len) {
      var h = 0x27d4eb2f165667c5L
      var j = 0
      while (j < n) { h = graft.synth.Det.mix64(h ^ th(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic affine constants for the MinHash family (odd a_j).
    * `final`: a compile-time constant, so the [[MinHashSignature]]
    * declaration above reads 64, not the field's uninitialized 0.
    */
  final val MinHashMaxK = 64
  val minA: Array[Long] =
    Array.tabulate(MinHashMaxK)(j => graft.synth.Det.mix64(0xa5a5a5a5L + j) | 1L)
  val minB: Array[Long] =
    Array.tabulate(MinHashMaxK)(j => graft.synth.Det.mix64(0x5a5a5a5aL - j))

  def minhashSigK(arr: ArrayData, k: Int): ArrayData =
    minhashSig(arr, k, minA, minB)

  /** MinHash signature: min over the affine family (a_j·s + b_j) with 64-bit
    * wraparound (ANSI-safe — Column arithmetic would overflow-check). One
    * pass over the shingles for all k hashes.
    */
  def minhashSig(arr: ArrayData, k: Int, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      var m = Long.MaxValue
      var i = 0
      while (i < n) {
        val h = arr.getLong(i) * a(j) + b(j) // intentional wraparound
        if (h < m) m = h
        i += 1
      }
      out(j) = m
      j += 1
    }
    new GenericArrayData(out)
  }

  def hamming(a: Column, b: Column): Column = {
    // bit_count(a XOR b) — pure built-ins, codegen
    bit_count(a.bitwiseXOR(b))
  }
}
