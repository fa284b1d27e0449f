package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The r6 array-math natives must match the HOF chains they replace at
  * the declared-query contract — q_x8_softmax / q_smallmodel_topk /
  * jaccard hash ordering are oracle- or golden-pinned. The comparison-
  * order natives (neg_indexed_sorted, sort_by_xxhash) are pinned
  * BIT-identical. The softmax natives are pinned to a few ulps
  * element-wise AND exactly equal after the queries' `round(_, 6)`:
  * `Math.exp` is JIT-intrinsified, so two call sites of the SAME exp can
  * differ in the last ulp (observed live in this suite), and the summed
  * denominator compounds it — bit-identity across the native/HOF
  * boundary is not a property even the old code had across JIT states,
  * and the oracle contract (round 6, already green against DuckDB's
  * differently-rounded exp) is the real invariant.
  */
class ArrayMathParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Within a few ulps (per-element exp can drift 1 ulp and the summed
    * denominator compounds it) AND equal after the query contract's
    * round(…, 6).
    */
  private def assertExpClose(x: Double, y: Double, where: => String): Unit = {
    if (java.lang.Double.doubleToRawLongBits(x) !=
        java.lang.Double.doubleToRawLongBits(y)) {
      assert(math.abs(x - y) <=
        8 * math.ulp(math.max(math.abs(x), math.abs(y))), s"$where: $x vs $y")
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(r6(x) == r6(y), s"$where after round 6: $x vs $y")
    }
  }

  // deterministic logit-ish arrays: varied magnitudes, exact ties, zeros,
  // negative zero products, single element, empty
  private def arrays: Seq[Seq[Double]] = {
    val det = (0 until 200).map { i =>
      (0 until 3 + i % 7).map { j =>
        ((graft.synth.Det.mix64(i.toLong * 31 + j) % 1000L).toDouble / 53.0)
      }
    }
    det ++ Seq(
      Seq(0.0), Seq(1.0, 1.0, 1.0), Seq(-700.0, 700.0), Seq(5.5),
      Seq(2.0, 2.0, 1.0, 2.0), Seq(0.0, -0.0), Seq.empty[Double])
  }

  test("softmax_arr ≡ HOF softmax chain (≤ 1 ulp, equal at round 6)") {
    import spark.implicits._
    val df = arrays.toDF("a")
    val rows = df.select(
      ArrayMath.softmax_arr(col("a")).as("native"),
      NativeRef.softmaxArrHof(col("a")).as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val n = r.getSeq[Double](0)
      val h = r.getSeq[Double](1)
      assert(n.size == h.size, s"row $i size")
      n.zip(h).zipWithIndex.foreach { case ((x, y), j) =>
        assertExpClose(x, y, s"row $i elem $j")
      }
    }
  }

  test("q_x8 inline spelling ≡ element 1 of softmax_arr " +
      "(≤ 1 ulp, equal at round 6)") {
    import spark.implicits._
    val df = arrays.filter(_.nonEmpty).toDF("a")
    val m = array_max(col("a"))
    val denom = aggregate(transform(col("a"), x => exp(x - m)),
      lit(0.0), (acc, v) => acc + v)
    val rows = df.select(
      element_at(ArrayMath.softmax_arr(col("a")), 1).as("native"),
      (exp(element_at(col("a"), 1) - m) / denom).as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assertExpClose(r.getDouble(0), r.getDouble(1), s"row $i")
    }
  }

  test("neg_indexed_sorted ≡ HOF array_sort(transform(struct)) incl. ties") {
    import spark.implicits._
    val probs = arrays.filter(_.nonEmpty) ++
      Seq(Seq(0.25, 0.25, 0.25, 0.25), Seq(0.5, 0.0, 0.5, 0.0))
    val df = probs.toDF("p")
    val rows = df.select(
      ArrayMath.neg_indexed_sorted(col("p")).as("native"),
      NativeRef.negIndexedSortedHof(col("p")).as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val n = r.getSeq[org.apache.spark.sql.Row](0)
        .map(e => (e.getDouble(0), e.getInt(1)))
      val h = r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getDouble(0), e.getInt(1)))
      assert(n == h, s"row $i")
    }
  }

  test("sort_by_xxhash ≡ HOF transform(array_sort(struct(xxhash64)))") {
    import spark.implicits._
    val toks = Seq(
      Seq("ana", "are", "mere", "și", "pere"),
      Seq("b", "a", "c", "aa", "A", "", "ș", "țară"),
      Seq("dup", "dup", "x"), // equal tokens: equal keys, any placement
      Seq("one"), Seq.empty[String])
    val df = toks.toDF("t")
    val hof = transform(
      array_sort(transform(col("t"),
        w => struct(xxhash64(w).as("h"), w.as("tok")))),
      s => s.getField("tok"))
    val rows = df.select(
      ArrayMath.sort_by_xxhash(col("t")).as("native"),
      hof.as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"row $i")
    }
  }

  test("jaccard_sets ≡ size(array_intersect)/(|A|+|B|-i) algebra, " +
      "bit-identical, long and string elements") {
    import spark.implicits._
    // distinct-element sets with varied overlap, incl. empty and 1-elem
    val longs: Seq[(Seq[Long], Seq[Long])] = (0 until 100).map { i =>
      def set(salt: Long, n: Int) = (0 until n)
        .map(k => graft.synth.Det.mix64(salt * 31 + k) % 40).distinct
        .map(identity)
      (set(i, 3 + i % 20), set(i + 7, 3 + (i * 3) % 20))
    } ++ Seq((Seq.empty[Long], Seq(1L, 2L)), (Seq(5L), Seq(5L)))
    // NOT tested: (empty, empty) — the ANSI algebra THROWS on its 0/0
    // while the native returns NaN; both-empty pairs are unreachable in
    // every call site (sets are filtered size > 0 before pairing), and a
    // total function is the safer behavior for the unreachable case —
    // divergence documented on JaccardSetsExpr.
    val ldf = longs.toDF("a", "b")
    val algebra = {
      val i = size(array_intersect(col("a"), col("b")))
      i.cast("double") / (size(col("a")) + size(col("b")) - i)
    }
    ldf.select(ArrayMath.jaccard_sets(col("a"), col("b")).as("n"),
        algebra.as("h")).collect().zipWithIndex.foreach { case (r, i) =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"long row $i: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    val strs: Seq[(Seq[String], Seq[String])] = (0 until 60).map { i =>
      def set(salt: Int, n: Int) = (0 until n)
        .map(k => s"t${(salt * 31 + k * 7) % 25}").distinct
      (set(i, 2 + i % 15), set(i + 3, 2 + (i * 5) % 15))
    } ++ Seq((Seq("ș", "ana"), Seq("ana", "x")), (Seq("dup"), Seq("dup")),
      // null elements: shared only when present on BOTH sides
      // (array_intersect semantics — pins the hash probe's null flags)
      (Seq("a", null), Seq(null, "b")), (Seq("a", null), Seq("a", "b")))
    val sdf = strs.toDF("a", "b")
    sdf.select(ArrayMath.jaccard_sets(col("a"), col("b")).as("n"),
        algebra.as("h")).collect().zipWithIndex.foreach { case (r, i) =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"str row $i: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("xx64 equals Spark's xxhash64 on strings") {
    import spark.implicits._
    val words = Seq("", "a", "ana", "țară", "🙂", "x" * 100)
    val rows = words.toDF("w")
      .select(xxhash64(col("w"))).collect().map(_.getLong(0))
    words.zip(rows).foreach { case (w, expected) =>
      assert(ArrayMath.xx64(
        org.apache.spark.unsafe.types.UTF8String.fromString(w)) == expected, w)
    }
  }
}
