package graft.stages

import graft.synth.Det

/** THE character-n-gram tokenization shared by every hashed-feature scorer
  * ([[LangIdModel.rawScore]], [[LangIdModel.topLangs]],
  * [[TaskScorer.scoreDoc]]): lowercase per char
  * (`Character.toLowerCase(char)`, read from [[CharTable]]), fold \n\t to
  * space, cap at maxChars, pad with one space on each side, then visit
  * every n-gram for n = [[MinN]]..[[MaxN]]. One definition — the scorers
  * cannot desynchronize their tokenization (each applies its own hash salt
  * and bucket mask to the visited spans).
  *
  * r6 hot-path shape (bit-identical buckets, identical VISIT ORDER — the
  * per-doc Float accumulation order of the scorers must not move):
  *  - the normalized buffer is a reused per-thread char[] (no
  *    StringBuilder virtual charAt in the hash loop), lowered through
  *    [[CharTable]] (one load per char below U+0800);
  *  - the n-gram hashes share prefix states: `hash(j, n+1)` is one mix64
  *    step on `hash(j, n)`'s state, so a states[] pass per n costs ONE
  *    mix64 per position instead of re-hashing all n chars — 4·L mix64
  *    total for n = 2..4 versus 9·L re-hashed (~2.3× fewer), with the
  *    n-major visit order of the original loop preserved exactly.
  */
object Grams {
  /** The n-gram range every hashed-feature scorer uses. */
  final val MinN = 2
  final val MaxN = 4

  // reused per-thread buffers — executor task threads each get their own;
  // sized for the largest cap in use (LangIdModel.MaxChars = 4000) and
  // grown on demand
  private val charBuf = new ThreadLocal[Array[Char]] {
    override def initialValue(): Array[Char] = new Array[Char](4096)
  }
  private val stateBuf = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](4096)
  }

  private def grow[T](tl: ThreadLocal[Array[T]], cur: Array[T], n: Int)
      (alloc: Int => Array[T]): Array[T] =
    if (cur.length >= n) cur
    else { val a = alloc(math.max(n, cur.length * 2)); tl.set(a); a }

  /** Visits the hashed bucket of every n-gram of the normalized text.
    * Returns the gram count. `f` receives `(hash(span) & mask).toInt`.
    * Buckets and visit order are identical to hashing each span of the
    * normalized, padded buffer with [[Det.hashString]] for n = MinN..MaxN
    * in n-major order (GramsSpec pins it against that buffer built with a
    * `StringBuilder`).
    */
  def foreachBucket(text: String, maxChars: Int, salt: Long, mask: Long)(
      f: Int => Unit): Int = {
    if (text == null || text.isEmpty) return 0
    val len = math.min(text.length, maxChars)
    val L = len + 2
    val buf = grow(charBuf, charBuf.get(), L)(new Array[Char](_))
    buf(0) = ' '
    var i = 0
    while (i < len) {
      val c = text.charAt(i)
      buf(i + 1) = if (c == '\n' || c == '\t') ' ' else CharTable.toLowerCase(c)
      i += 1
    }
    buf(L - 1) = ' '
    // seed state = what Det.hashString folds before the first char
    val seed0 = Det.hashStringSeed(salt)
    val states = grow(stateBuf, stateBuf.get(), L)(new Array[Long](_))
    var count = 0
    // n = MinN pass: hash each span from scratch, remember its end state
    var j = 0
    while (j + MinN <= L) {
      var h = seed0
      var t = 0
      while (t < MinN) { h = Det.mix64(h ^ buf(j + t).toLong); t += 1 }
      states(j) = h
      f((h & mask).toInt)
      count += 1
      j += 1
    }
    // each longer n extends position j's state by ONE trailing char
    var n = MinN + 1
    while (n <= MaxN) {
      j = 0
      while (j + n <= L) {
        val h = Det.mix64(states(j) ^ buf(j + n - 1).toLong)
        states(j) = h
        f((h & mask).toInt)
        count += 1
        j += 1
      }
      n += 1
    }
    count
  }
}
