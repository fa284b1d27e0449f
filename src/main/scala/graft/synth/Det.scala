package graft.synth

/** Deterministic hash-based PRNG primitives (splitmix64 finalizer).
  *
  * Every synthetic value in tests/benchmarks is a pure function of
  * (seed, rowId, fieldName) — no `scala.util.Random`, no wall clock — so
  * fixtures are identical across partition counts and reruns (FIXTURES.md §5).
  */
object Det {
  /** splitmix64 finalizer — avalanches a 64-bit state. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, id: Long, field: String): Long = {
    var h = mix64(seed ^ 0x51afd6ed558ccd6dL)
    h = mix64(h ^ id)
    var i = 0
    while (i < field.length) { h = mix64(h ^ field.charAt(i).toLong); i += 1 }
    h
  }

  /** Stateful-but-deterministic stream: k-th draw for one (id, field). */
  def streamInt(seed: Long, id: Long, field: String, k: Int, n: Int): Int =
    streamIntFrom(hash(seed, id, field), k, n)

  /** k-th draw from a hoisted `base = hash(seed, id, field)` (r6 hot-path:
    * a generator drawing many [[streamInt]] values for one (id, field)
    * hashes the field name once).
    */
  def streamIntFrom(base: Long, k: Int, n: Int): Int =
    (java.lang.Long.remainderUnsigned(
      mix64(base ^ (k.toLong * 0xd1b54a32d192ed03L)),
      n.toLong)).toInt

  /** Uniform int in [0, n). */
  def nextInt(seed: Long, id: Long, field: String, n: Int): Int =
    (java.lang.Long.remainderUnsigned(hash(seed, id, field), n.toLong)).toInt

  /** Uniform double in [0, 1). */
  def nextDouble(seed: Long, id: Long, field: String): Double =
    (hash(seed, id, field) >>> 11).toDouble / (1L << 53).toDouble

  /** CDF of zipf(s) over `n` ranks (rank r weighs 1/(r+1)^s), normalized
    * by a running sum; the last entry is exactly 1.0. Draw a rank with
    * [[zipfRank]].
    */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(n - 1) = 1.0
    cdf
  }

  /** The rank of [[zipfCdf]] `cdf` that a uniform `u` in [0, 1) falls in. */
  def zipfRank(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
  }

  /** The state [[hashString]] starts from before folding any chars —
    * shared with [[graft.stages.Grams]]'s prefix-extension hashing so the
    * two cannot drift.
    */
  def hashStringSeed(salt: Long): Long = mix64(salt ^ 0x27d4eb2f165667c5L)

  /** xxhash-style string hash used for n-gram features (not security). */
  def hashString(s: CharSequence, from: Int, until: Int, salt: Long): Long = {
    var h = hashStringSeed(salt)
    var i = from
    while (i < until) { h = mix64(h ^ s.charAt(i).toLong); i += 1 }
    h
  }
}
