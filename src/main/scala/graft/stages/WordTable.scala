package graft.stages

import graft.stages.CharTable.toLowerCase

/** The word table of the fused scorer, for the heuristics' stopwords and
  * the perplexity model's vocabulary alike: open addressing (linear probe)
  * keyed by `String.hashCode`, at most 1/4 full, filled in array order so
  * [[find]] returns the index of the first equal word.
  */
final class WordTable(words: Array[String]) extends Serializable {
  private val keys = new Array[String](Integer.highestOneBit(words.length * 4 - 1) << 1)
  private val ids = new Array[Int](keys.length)
  private val maxLen = words.map(_.length).max
  locally {
    var i = 0
    while (i < words.length) {
      var h = words(i).hashCode & (keys.length - 1)
      while (keys(h) != null) h = (h + 1) & (keys.length - 1)
      keys(h) = words(i); ids(h) = i
      i += 1
    }
  }

  /** Index of the word equal to `text[from, until)` lowered per char
    * through [[CharTable]], or −1: the `String.hashCode` formula over the
    * lowered chars, then a char-by-char compare, allocating nothing.
    * Lowering keeps the length, so a range longer than the longest word
    * misses before any char is read.
    */
  def find(text: String, from: Int, until: Int): Int = {
    val len = until - from
    if (len > maxLen) return -1
    var h = 0
    var i = from
    while (i < until) { h = 31 * h + toLowerCase(text.charAt(i)); i += 1 }
    var slot = h & (keys.length - 1)
    while (true) {
      val k = keys(slot)
      if (k == null) return -1
      if (k.length == len) {
        var j = 0
        while (j < len && k.charAt(j) == toLowerCase(text.charAt(from + j))) j += 1
        if (j == len) return ids(slot)
      }
      slot = (slot + 1) & (keys.length - 1)
    }
    -1
  }
}
