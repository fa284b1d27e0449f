package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizer Expressions for the two tokenization contracts the
  * engine's hot paths share (r6 optimization: Catalyst higher-order
  * functions are CodegenFallback — the HOF spellings ran interpreted, one
  * lambda-tree evaluation per TOKEN, with a fresh regex Matcher per
  * `regexp_replace` call; these run one static call per ROW inside
  * whole-stage codegen).
  *
  * Each expression is defined as "exactly what the HOF chain computes":
  *  - [[Tokenize.words_ws]] ≡ `filter(split(text, "\\s+"), w => length(w)
  *    > 0)` — THE cross-engine tokenization contract, stated
  *    declaratively by `Heuristics.wordsColHof` (test scope). Java-regex
  *    `\s` is the ASCII set of [[Tokenize.isAsciiSpace]]; those chars are
  *    single-byte in UTF-8 and never occur inside a multi-byte sequence,
  *    so the split runs directly over the UTF-8 bytes with zero decode.
  *  - [[Tokenize.norm_tokens]] ≡ `filter(transform(split(lower(text),
  *    "\\s+"), w => regexp_replace(w, "(?U)^\\W+|\\W+$", "")), w =>
  *    length(w) > 0)` — the `NativeRef.normTokensHof` contract (test scope).
  *    `lower` delegates to the same `UTF8String.toLowerCase` Spark's
  *    `Lower` uses (UTF8_BINARY collation), and the `(?U)\W` edge trim
  *    drops leading/trailing runs of non-word code points, where "word"
  *    is java.util.regex's UNICODE_CHARACTER_CLASS `\w`:
  *    `Alphabetic ∪ {Mn, Me, Mc, Nd, Pc} ∪ Join_Control` —
  *    [[Tokenize.isWordCp]] implements that predicate directly and
  *    TokenizeParitySpec pins it code-point-by-code-point against a real
  *    `Pattern.compile("(?U)\\w")`.
  *
  * The HOF spellings live on as test-scope `*Hof` parity references
  * (`Heuristics`, `NativeRef`); TokenizeParitySpec pins byte-identical outputs over every
  * text fixture family (diacritics, blank runs, punctuation-only tokens,
  * supplementary-plane code points).
  */
object Tokenize {

  def words_ws(text: Column): Column = WordsWs(text)

  def norm_tokens(text: Column): Column = NormTokens(text)

  private[graft] val WordsWs = NativeFn("words_ws", "graft.functions.Tokenize",
    "wordsWs", StringType, Some(ArrayType(StringType, containsNull = false)))
  private[graft] val NormTokens = NativeFn("norm_tokens",
    "graft.functions.Tokenize", "normTokens", StringType,
    Some(ArrayType(StringType, containsNull = false)))

  // ---- static helpers (called from generated code) ------------------------

  /** java-regex default `\s`: the six ASCII whitespace chars. The one
    * spelling of the set; the byte split, the char split and the
    * heuristics' word walk all call it.
    */
  @inline def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isWsByte(b: Byte): Boolean = isAsciiSpace((b & 0xff).toChar)

  /** Maximal runs of non-`\s` bytes as UTF8String slices — exactly the
    * non-empty tokens of `split(text, "\\s+")`.
    */
  def wordsWs(s: UTF8String): ArrayData = {
    val bytes = s.getBytes // copies only when the string is a slice
    val n = bytes.length
    val out = new java.util.ArrayList[Any](16)
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(bytes(i))) i += 1
      val start = i
      while (i < n && !isWsByte(bytes(i))) i += 1
      if (i > start)
        out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }

  /** java.util.regex `\w` under UNICODE_CHARACTER_CLASS, per code point:
    * Alphabetic, the Mn/Me/Mc/Nd/Pc general categories, or Join_Control
    * (ZWNJ/ZWJ). Pinned against `Pattern.compile("(?U)\\w")` in
    * TokenizeParitySpec.
    */
  def isWordCp(cp: Int): Boolean =
    Character.isAlphabetic(cp) || cp == 0x200C || cp == 0x200D || {
      val t = Character.getType(cp)
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.DECIMAL_DIGIT_NUMBER ||
        t == Character.CONNECTOR_PUNCTUATION
    }

  /** lower → ASCII-\s split → `(?U)\W` edge trim → drop empties, one pass.
    * Lowercasing uses `Locale.ROOT`, never the JVM default: under tr-TR the
    * default maps `I` to dotless `ı`, and shingle hashes would follow the
    * host. Under a default without special casing rules (not tr, az or lt)
    * it equals Spark's `Lower`.
    */
  def normTokens(s: UTF8String): ArrayData = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val n = str.length
    val out = new java.util.ArrayList[Any](16)
    var i = 0
    while (i < n) {
      while (i < n && isAsciiSpace(str.charAt(i))) i += 1
      val start = i
      while (i < n && !isAsciiSpace(str.charAt(i))) i += 1
      if (i > start) {
        // (?U)\W+ edge trim on the token [start, i), by code point
        var a = start
        while (a < i && !isWordCp(str.codePointAt(a)))
          a += Character.charCount(str.codePointAt(a))
        var b = i
        while (b > a && !isWordCp(str.codePointBefore(b)))
          b -= Character.charCount(str.codePointBefore(b))
        if (b > a)
          out.add(UTF8String.fromString(str.substring(a, b)))
      }
    }
    new GenericArrayData(out.toArray)
  }
}
