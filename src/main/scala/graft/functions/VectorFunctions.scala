package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Vector primitives for the similarity/ANN path as native codegen
  * Expressions. The Column-HOF formulations (`aggregate(zip_with(...))`)
  * are CodegenFallback in Catalyst — interpreted, one array traversal per
  * plane — so the hot path uses these instead: one static call per row,
  * single pass (cosine) or one pass per plane over a cached plane matrix
  * (bucket). Accumulation ORDER mirrors the HOF versions exactly, so the
  * doubles are bit-identical (pinned by AnnSpec parity tests).
  */
object VectorFunctions {

  /** Exact cosine similarity of two array<double> columns (native). */
  def cosine_sim(a: Column, b: Column): Column =
    ColumnShim.column(CosineSimExpr(ColumnShim.expr(a), ColumnShim.expr(b)))

  /** Sign-bit hyperplane bucket of an array<double> column (native). */
  def hyperplane_bucket(emb: Column, planes: Int, dim: Int): Column =
    ColumnShim.column(
      HyperplaneBucketExpr(ColumnShim.expr(emb), planes, dim))

  // ---- static helpers (called from generated code) ------------------------

  /** dot/(√Σa²·√Σb²) with the same left-to-right accumulation the HOF
    * version performs, so results are bit-identical to
    * `aggregate(zip_with(...))`. Only called for EQUAL lengths — on a
    * length mismatch the expression returns null (zip_with pads the short
    * array with nulls, so the HOF cosine is null there too; parity holds
    * for every input, not just well-formed ones).
    */
  def cosineSim(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    var sa = 0.0
    i = 0
    while (i < n) { val x = a.getDouble(i); sa += x * x; i += 1 }
    var sb = 0.0
    i = 0
    while (i < n) { val x = b.getDouble(i); sb += x * x; i += 1 }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }

  /** Deterministic ±1 plane matrix, built once per (planes, dim) per JVM. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def planeMatrix(planes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((planes, dim),
      _ => Array.tabulate(planes)(p =>
        graft.similarity.Ann.planeVec(p, dim).toArray))

  /** Per-plane dot accumulated in the same element order as the HOF
    * `aggregate(zip_with(emb, plane, ...))`, sign → bit p. Only called for
    * `emb.numElements == dim` — any other length is null at the expression
    * level (matching the HOF's zip_with-pads-with-null semantics).
    */
  def hyperplaneBucket(emb: ArrayData, planes: Int, dim: Int): Long = {
    val m = planeMatrix(planes, dim)
    var out = 0L
    var p = 0
    while (p < planes) {
      val v = m(p)
      var acc = 0.0
      var d = 0
      while (d < dim) { acc += emb.getDouble(d) * v(d); d += 1 }
      if (acc >= 0.0) out |= (1L << p)
      p += 1
    }
    out
  }
}

/** Both expressions REQUIRE array<double> inputs, enforced at analysis time
  * by `checkInputDataTypes` (without it, callers passing array<int> or
  * array<float> would have ArrayData.getDouble silently misread the buffer
  * and return garbage — callers cast explicitly, which keeps the cast
  * visible in the plan), and return NULL on array-length mismatch, matching
  * the HOF reference semantics (zip_with pads the shorter array with nulls
  * → the HOF aggregate is null).
  *
  * Both stay hand-written, not [[NativeFn]]s: the length check sets the
  * result null inside the generated code, around the static call. A
  * declaration's call can only return a value, so a null result would
  * need a boxed return on every row.
  */
case class CosineSimExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (array<double>, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString}) - cast explicitly")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // null on length mismatch
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null
    else VectorFunctions.cosineSim(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c1, c2) =>
      s"""
         |if ($c1.numElements() != $c2.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorFunctions.cosineSim($c1, $c2);
         |}
       """.stripMargin)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSimExpr = copy(l, r)
  override def prettyName: String = "cosine_sim"
}

/** Null unless the embedding has exactly `dim` elements. (The HOF
  * reference is subtly WORSE there: its `when(dot >= 0, …).otherwise(0)`
  * collapses the null per-plane dot to bit 0, silently bucketing every
  * malformed embedding into bucket 0 together. Null keeps malformed rows
  * out of every bucket join; parity with the HOF is pinned for the
  * dim-length contract, the only shape the operators ever produce.)
  */
case class HyperplaneBucketExpr(child: Expression, planes: Int, dim: Int)
  extends UnaryExpression {
  // sign bits pack into one long and `1L << p` is a mod-64 shift: plane 64
  // would silently alias plane 0's bit, folding unrelated half-spaces into
  // one bucket — a dial typo every caller should hear about at build time
  // (the operators layer tighter bounds on top: lshTopK's probe fan-out
  // ≤ 24, banded near-dup's bands·planes ≤ 63 tag space)
  require(planes >= 1 && planes <= 64,
    s"planes = $planes must be in [1, 64] - sign bits pack into one long")
  require(dim >= 1, s"dim = $dim must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_bucket requires array<double>, got ${t.catalogString}" +
          " - cast explicitly")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null unless length == dim
  override def nullSafeEval(v: Any): Any = {
    val emb = v.asInstanceOf[ArrayData]
    if (emb.numElements() != dim) null
    else VectorFunctions.hyperplaneBucket(emb, planes, dim)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorFunctions.hyperplaneBucket($c, $planes, $dim);
         |}
       """.stripMargin)
  override protected def withNewChildInternal(c: Expression): HyperplaneBucketExpr =
    copy(child = c)
  override def prettyName: String = "hyperplane_bucket"
}
