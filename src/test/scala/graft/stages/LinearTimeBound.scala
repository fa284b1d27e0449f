package graft.stages

import org.scalatest.funsuite.AnyFunSuite

/** The linear-time bound of the scorer specs, defined once: a run on a
  * 1 MB input takes < 250 ms and at most 16× the run on a 128 KB input of
  * the same shape (a quadratic run takes 64×). Each size is timed best of
  * 9, the two sizes interleaved so a host slowdown hits both, after 20
  * warm-up runs on the small input.
  */
trait LinearTimeBound extends AnyFunSuite {
  /** The two input sizes, in chars (or bytes for a byte-level input). */
  val SmallLen: Int = 1 << 17
  val BigLen: Int = 1 << 20

  def assertLinear[A](name: String, small: A, big: A)(run: A => Any): Unit = {
    def nanos(a: A): Long = {
      val t0 = System.nanoTime()
      run(a)
      System.nanoTime() - t0
    }
    (1 to 20).foreach(_ => run(small))
    val (ts, tb) = (1 to 9).map(_ => (nanos(small), nanos(big)))
      .reduce((x, y) => (math.min(x._1, y._1), math.min(x._2, y._2)))
    val ratio = tb.toDouble / math.max(ts, 1L)
    info(f"$name: 128 KB ${ts / 1e6}%.2f ms, 1 MB ${tb / 1e6}%.2f ms, ratio $ratio%.1f")
    assert(tb < 250L * 1000 * 1000, f"$name: 1 MB took ${tb / 1e6}%.1f ms")
    assert(ratio <= 16.0, f"$name: 1 MB / 128 KB = $ratio%.1f")
  }
}
