package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Array-math Expressions for the per-row scoring paths (r6 optimization).
  * Each replaces a Catalyst higher-order-function chain that ran
  * CodegenFallback-interpreted per ELEMENT; accumulation and comparison
  * orders mirror the HOF chains exactly, so results are bit-identical
  * (pinned in ArrayMathParitySpec):
  *
  *  - [[ArrayMath.softmax_arr]] ≡ the test-scope `NativeRef.softmaxArrHof`
  *    chain (`e = transform(x, exp(x − array_max(x)))`, `s = aggregate(e, 0.0,
  *    +)` left fold, `transform(e, _ / s)`), also covering q_x8_softmax's
  *    inline spelling (its p0 is element 1 of this array — the numerator
  *    `exp(x0 − m)` and denominator are the same IEEE ops in the same
  *    order).
  *  - [[ArrayMath.neg_indexed_sorted]] ≡ `array_sort(transform(probs,
  *    (p, i) => struct((p * -1.0) as negp, i as idx)))` — the candidate
  *    frame of [[TopK.topKClassColumns]]. Doubles compare with Spark's
  *    SQL ordering (`a == b` first, so -0.0 ties +0.0 and the idx field
  *    breaks it — java.util.Arrays.sort on boxed comparators would
  *    order -0.0 < 0.0 and diverge).
  *  - [[ArrayMath.sort_by_xxhash]] ≡ `transform(array_sort(transform(
  *    toks, w => struct(xxhash64(w) as h, w as tok))), _.tok)` — the
  *    hash-order prefix-filter ordering of
  *    [[graft.dedup.Dedup.jaccardPrefixJoin]]. Hashes via the same
  *    XXH64 kernel (seed 42) Spark's `xxhash64` uses on strings; ties
  *    break by UTF8String binary compare, exactly the StringType struct
  *    field ordering.
  */
object ArrayMath {

  def softmax_arr(arr: Column): Column = SoftmaxArr(arr)

  def neg_indexed_sorted(probs: Column): Column = NegIndexedSorted(probs)

  def sort_by_xxhash(toks: Column): Column = SortByXxHash(toks)

  private[graft] val SoftmaxArr = NativeFn("softmax_arr",
    "graft.functions.ArrayMath", "softmaxArr", ArrayType(DoubleType),
    Some(ArrayType(DoubleType, containsNull = true)))
  private[graft] val NegIndexedSorted = NativeFn("neg_indexed_sorted",
    "graft.functions.ArrayMath", "negIndexedSorted", ArrayType(DoubleType),
    Some(ArrayType(StructType(Seq(
      StructField("negp", DoubleType, nullable = true),
      StructField("idx", IntegerType, nullable = false))),
      containsNull = false)))
  /** Same tokens, reordered: the result keeps the input's array type. */
  private[graft] val SortByXxHash = NativeFn("sort_by_xxhash",
    "graft.functions.ArrayMath", "sortByXxHash", ArrayType(StringType), None)

  // ---- static helpers (called from generated code) ------------------------

  /** Spark SQL double ordering: `==` first (-0.0 ties +0.0), then
    * `java.lang.Double.compare` (total NaN order) — the comparator struct
    * field sorting uses.
    */
  @inline private def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  def softmaxArr(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var i = 0
    var anyNull = false
    while (i < n && !anyNull) { anyNull = arr.isNullAt(i); i += 1 }
    // HOF semantics: a null element nulls the aggregate sum, so EVERY
    // output element of `transform(e, _ / s)` is null
    if (anyNull || n == 0) new GenericArrayData(new Array[Any](n))
    else new GenericArrayData(softmax(arr.toDoubleArray()))
  }

  /** Numerically stable softmax — the reference's `torch.softmax(dim=1)` —
    * in the HOF chain's operation order: max by `>`, `exp(x − m)`, a left
    * fold of the sum from 0.0, then one division per element. The one
    * definition behind [[softmaxArr]], `TaskScorer.scoreDoc` and
    * `LangIdModel.topLangs`.
    */
  def softmax(x: Array[Double]): Array[Double] = {
    val n = x.length
    var m = x(0)
    var i = 1
    while (i < n) { if (x(i) > m) m = x(i); i += 1 }
    val e = new Array[Double](n)
    var s = 0.0
    i = 0
    while (i < n) {
      e(i) = math.exp(x(i) - m)
      s += e(i) // left fold from 0.0, as aggregate(e, 0.0, +)
      i += 1
    }
    i = 0
    while (i < n) { e(i) /= s; i += 1 }
    e
  }

  def negIndexedSorted(probs: ArrayData): ArrayData = {
    val n = probs.numElements()
    // (negp boxed-or-null, idx) pairs in index order, then Spark-ordered
    val negp = new Array[Any](n)
    var i = 0
    while (i < n) {
      negp(i) =
        if (probs.isNullAt(i)) null
        else java.lang.Double.valueOf(probs.getDouble(i) * -1.0)
      i += 1
    }
    val idx = Array.tabulate(n)(identity)
    // Spark struct ordering, ascending: null field first, then cmpDouble,
    // then the (unique) idx — insertion sort is fine for the ≤ dozens of
    // classes this is used on, and ordering is total so stability is moot
    val boxed = idx.map(java.lang.Integer.valueOf)
    java.util.Arrays.sort(boxed, (x: Integer, y: Integer) => {
      val (a, b) = (negp(x), negp(y))
      val c =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else cmpDouble(a.asInstanceOf[java.lang.Double].doubleValue(),
          b.asInstanceOf[java.lang.Double].doubleValue())
      if (c != 0) c else Integer.compare(x, y)
    })
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val j = boxed(i).intValue()
      out(i) = InternalRow(negp(j), j)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact Jaccard of two DISTINCT-element set arrays (the dedup verify
    * contract — every call site applies `array_distinct`/the shingle-set
    * builders): ≡ `size(array_intersect(a, b)).cast("double") /
    * (size(a) + size(b) − size(array_intersect(a, b)))` — integer counts,
    * so the double is bit-identical. LONG elements: one primitive
    * clone+sort of the SMALLER array + a binary search per element of the
    * larger (no boxing, no per-row OpenHashSet). STRING elements: one
    * open-addressing hash table over the smaller array, probed by the
    * larger — the sorted probe is object-based there and measured slower
    * than even the array_intersect algebra (interleaved A/B recorded in
    * OPTIMIZATION_r06.md, "Verify-join per-pair work"). Null
    * elements count as one shared value when present in BOTH
    * (array_intersect's semantics). Duplicate elements are caller
    * contract-violations (as they are for the size algebra this replaces,
    * whose |A∪B| identity also needs sets).
    */
  def jaccard_sets(a: Column, b: Column): Column =
    ColumnShim.column(
      JaccardSetsExpr(ColumnShim.expr(a), ColumnShim.expr(b)))

  def jaccardLongSets(a: ArrayData, b: ArrayData): Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    val (s, g) = if (na <= nb) (a, b) else (b, a)
    val ns = s.numElements()
    val ng = g.numElements()
    val sv = new Array[Long](ns)
    var sNull = false
    var m = 0
    var i = 0
    while (i < ns) {
      if (s.isNullAt(i)) sNull = true
      else { sv(m) = s.getLong(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(sv, 0, m)
    var hits = 0
    i = 0
    var gNull = false
    while (i < ng) {
      if (g.isNullAt(i)) gNull = true
      else if (java.util.Arrays.binarySearch(sv, 0, m, g.getLong(i)) >= 0)
        hits += 1
      i += 1
    }
    if (sNull && gNull) hits += 1
    hits.toDouble / (na + nb - hits)
  }

  /** String twin of [[jaccardLongSets]]: identical hits count and null
    * semantics, but membership via one open-addressing table built over
    * the smaller array (O(n+m) murmur hashes) instead of a comparator
    * sort + per-element binary search (O((n+m)·log n) boxed
    * UTF8String.compareTo calls). For LONG elements the primitive
    * sort+binsearch wins (no boxing anywhere); for STRING elements both
    * strategies are object-based and the hash probe is the faster one —
    * measured on the sf0.1 verify stage (OPTIMIZATION_r06.md,
    * "Verify-join per-pair work").
    * Duplicate elements collapse in the table exactly as they collide in
    * array_intersect (caller contract is distinct sets either way).
    */
  def jaccardStringSetsHash(a: ArrayData, b: ArrayData): Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    val (s, g) = if (na <= nb) (a, b) else (b, a)
    val ns = s.numElements()
    val ng = g.numElements()
    var cap = 8
    while (cap < (ns << 1)) cap <<= 1
    val table = new Array[UTF8String](cap)
    val mask = cap - 1
    var sNull = false
    var i = 0
    while (i < ns) {
      if (s.isNullAt(i)) sNull = true
      else {
        val v = s.getUTF8String(i)
        var j = v.hashCode & mask
        while (table(j) != null && !table(j).equals(v)) j = (j + 1) & mask
        table(j) = v
      }
      i += 1
    }
    var hits = 0
    var gNull = false
    i = 0
    while (i < ng) {
      if (g.isNullAt(i)) gNull = true
      else {
        val v = g.getUTF8String(i)
        var j = v.hashCode & mask
        while (table(j) != null && !table(j).equals(v)) j = (j + 1) & mask
        if (table(j) != null) hits += 1
      }
      i += 1
    }
    if (sNull && gNull) hits += 1
    hits.toDouble / (na + nb - hits)
  }

  private val XxSeed = 42L // spark.sql.functions.xxhash64's fixed seed

  /** xxhash64(token) exactly as Spark computes it for a StringType input. */
  def xx64(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(s, XxSeed)

  def sortByXxHash(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val ts = new Array[UTF8String](n)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      // xxhash64(null) leaves the seed untouched; null tokens sort by the
      // (null) string with nulls first on the tie — unreachable for the
      // array_distinct(split(...)) inputs this is used on, but total
      ts(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      hs(i) = if (ts(i) == null) XxSeed else xx64(ts(i))
      i += 1
    }
    val idx = Array.tabulate(n)(java.lang.Integer.valueOf)
    java.util.Arrays.sort(idx, (x: Integer, y: Integer) => {
      val c = java.lang.Long.compare(hs(x), hs(y))
      if (c != 0) c
      else {
        val (a, b) = (ts(x), ts(y))
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else a.compareTo(b)
      }
    })
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = ts(idx(i).intValue()); i += 1 }
    new GenericArrayData(out)
  }
}

/** Exact Jaccard over two distinct-element set arrays (long or string
  * elements — the shingle-hash and token-set verify shapes). Null when
  * either side is null (standard null-intolerant binary expression).
  * Two EMPTY sets yield NaN where the ANSI size algebra would have
  * thrown DIVIDE_BY_ZERO — unreachable at every call site (sets are
  * filtered `size > 0` before any pairing), and total-never-throws is
  * the safer contract for the unreachable case.
  *
  * Hand-written, not a [[NativeFn]]: it takes two children and accepts
  * two input types, choosing the static method by element type at plan
  * time; a declaration has one child, one input type and one method.
  */
case class JaccardSetsExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  private def elemType: DataType = left.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sets requires two array<long> or two array<string>, " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (elemType == LongType) ArrayMath.jaccardLongSets(x, y)
    else ArrayMath.jaccardStringSetsHash(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // longs: primitive clone+sort+binsearch (no boxing anywhere).
    // strings: open-addressing hash probe — the comparator-sorted probe
    // lost to BOTH the hash probe and the old array_intersect algebra on
    // the sf0.1 verify stage (OPTIMIZATION_r06.md, interleaved:
    // algebra 0.61-0.64 s, sorted-probe 0.68-0.74 s, hash 0.39-0.43 s).
    val fn =
      if (elemType == LongType) "jaccardLongSets" else "jaccardStringSetsHash"
    defineCodeGen(ctx, ev,
      (c1, c2) => s"graft.functions.ArrayMath.$fn($c1, $c2)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): JaccardSetsExpr = copy(l, r)
  override def prettyName: String = "jaccard_sets"
}
