package graft.stages

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tokenize

/** [[CharTable]] answers exactly what the JDK (or `Tokenize.isWordCp`)
  * answers, on every char: the table half and the fall-through half alike.
  */
class CharTableSpec extends AnyFunSuite {

  test("every table predicate equals its JDK or isWordCp call on all 65,536 chars") {
    var i = 0
    while (i <= Char.MaxValue) {
      val c = i.toChar
      assert(CharTable.toLowerCase(c) == Character.toLowerCase(c), f"toLowerCase U+$i%04X")
      assert(CharTable.isWhitespace(c) == Character.isWhitespace(c), f"isWhitespace U+$i%04X")
      assert(CharTable.isLetter(c) == Character.isLetter(c), f"isLetter U+$i%04X")
      assert(CharTable.isDigit(c) == Character.isDigit(c), f"isDigit U+$i%04X")
      assert(CharTable.isWordCp(i) == Tokenize.isWordCp(i), f"isWordCp U+$i%04X")
      i += 1
    }
  }
}
