package graft.stages

import graft.functions.Tokenize

/** The per-char JDK predicates of the fused scorer, read from one table for
  * chars below U+0800 (Latin, Greek, Cyrillic, Armenian, Hebrew, Arabic):
  * `Character.toLowerCase(char)`, `isWhitespace`, `isLetter`, `isDigit` and
  * [[graft.functions.Tokenize.isWordCp]]. Each entry is built by calling
  * that same function, so the answers are identical by construction
  * (CharTableSpec checks all 65,536 chars); chars at or above U+0800 call
  * the JDK. The JDK's answers go through `CharacterData` lookups per call;
  * a table read is one load.
  *
  * Held in an object, never in a broadcast model, so no payload changes.
  */
object CharTable {
  private final val Limit = 0x800

  private final val Ws = 1
  private final val Letter = 2
  private final val Digit = 4
  private final val Word = 8

  private val lower: Array[Char] = Array.tabulate(Limit)(c => Character.toLowerCase(c.toChar))

  private val flags: Array[Byte] = Array.tabulate(Limit) { i =>
    val c = i.toChar
    ((if (Character.isWhitespace(c)) Ws else 0) |
      (if (Character.isLetter(c)) Letter else 0) |
      (if (Character.isDigit(c)) Digit else 0) |
      (if (Tokenize.isWordCp(i)) Word else 0)).toByte
  }

  @inline def toLowerCase(c: Char): Char =
    if (c < Limit) lower(c) else Character.toLowerCase(c)

  @inline def isWhitespace(c: Char): Boolean =
    if (c < Limit) (flags(c) & Ws) != 0 else Character.isWhitespace(c)

  @inline def isLetter(c: Char): Boolean =
    if (c < Limit) (flags(c) & Letter) != 0 else Character.isLetter(c)

  @inline def isDigit(c: Char): Boolean =
    if (c < Limit) (flags(c) & Digit) != 0 else Character.isDigit(c)

  /** [[graft.functions.Tokenize.isWordCp]] on a code point. */
  @inline def isWordCp(cp: Int): Boolean =
    if (cp < Limit) (flags(cp) & Word) != 0 else Tokenize.isWordCp(cp)
}
