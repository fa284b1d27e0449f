package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Expressions for the Gopher line-shape metrics (r6 optimization +
  * the r5 ADVICE item: the HOF `filter(split(...))` spellings were
  * CodegenFallback on a declared corpus-scale quality-filter stage).
  * Semantics are exactly the HOF chains', which live on as `*Hof` parity
  * references in the test-scope `graft.stages.Heuristics`, pinned in
  * LineShapeParitySpec:
  *
  *  - lines = `split(text, "\n")`, non-blank = `length(trim(l)) > 0`
  *    (Spark `trim` strips SPACES only);
  *  - bullet: first code point of `ltrim(l)` ∈ {•, ‣, ▪, -, *};
  *  - ellipsis: `rtrim(l)` ends with "..." or "…";
  *  - alpha word: token matches `\p{L}` anywhere (java regex `\p{L}` =
  *    `Character.isLetter` general categories);
  *  - each fraction is `count.toDouble / total`, 0.0 when the denominator
  *    is 0, null on null input.
  */
object LineShape {

  def bullet_line_frac(text: Column): Column = BulletLineFrac(text)

  def ellipsis_line_frac(text: Column): Column = EllipsisLineFrac(text)

  def alpha_word_frac(words: Column): Column = AlphaWordFrac(words)

  private[graft] val BulletLineFrac = NativeFn("bullet_line_frac",
    "graft.functions.LineShape", "bulletLineFrac", StringType, Some(DoubleType))
  private[graft] val EllipsisLineFrac = NativeFn("ellipsis_line_frac",
    "graft.functions.LineShape", "ellipsisLineFrac", StringType,
    Some(DoubleType))
  private[graft] val AlphaWordFrac = NativeFn("alpha_word_frac",
    "graft.functions.LineShape", "alphaWordFrac", ArrayType(StringType),
    Some(DoubleType))

  // ---- static helpers (called from generated code) ------------------------

  /** Visits each line [start, end) of `s` (split on '\n', trailing empty
    * line included like `split(text, "\n")` with its -1 limit) and folds
    * (nonBlank, hit) counts via `f`. Blank = all chars are ' '.
    */
  private def foldLines(s: String)(hit: (String, Int, Int) => Boolean): Double = {
    val n = s.length
    var lines = 0
    var hits = 0
    var start = 0
    var j = 0
    while (j <= n) {
      if (j == n || s.charAt(j) == '\n') {
        var k = start
        var blank = true
        while (blank && k < j) { if (s.charAt(k) != ' ') blank = false; k += 1 }
        if (!blank) {
          lines += 1
          if (hit(s, start, j)) hits += 1
        }
        start = j + 1
      }
      j += 1
    }
    if (lines == 0) 0.0 else hits.toDouble / lines
  }

  def bulletLineFrac(u: UTF8String): Double = {
    val s = u.toString
    foldLines(s) { (str, a, b) =>
      var i = a
      while (i < b && str.charAt(i) == ' ') i += 1 // ltrim: spaces only
      i < b && {
        val c = str.charAt(i)
        // first CODE POINT equals a bullet — all bullets are BMP chars, and
        // a high surrogate never equals one, so the char compare suffices
        c == '•' || c == '‣' || c == '▪' || c == '-' || c == '*'
      }
    }
  }

  def ellipsisLineFrac(u: UTF8String): Double = {
    val s = u.toString
    foldLines(s) { (str, a, b0) =>
      var b = b0
      while (b > a && str.charAt(b - 1) == ' ') b -= 1 // rtrim: spaces only
      (b - a >= 3 && str.charAt(b - 1) == '.' && str.charAt(b - 2) == '.' &&
        str.charAt(b - 3) == '.') ||
        (b > a && str.charAt(b - 1) == '…')
    }
  }

  def alphaWordFrac(words: ArrayData): Double = {
    val n = words.numElements()
    if (n == 0) return 0.0
    var hits = 0
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i).toString
        var j = 0
        var found = false
        while (!found && j < w.length) {
          val cp = w.codePointAt(j)
          if (Character.isLetter(cp)) found = true
          else j += Character.charCount(cp)
        }
        if (found) hits += 1
      }
      i += 1
    }
    hits.toDouble / n
  }
}
