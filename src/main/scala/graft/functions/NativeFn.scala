package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.DataType

/** Declaration of one native function: the static method
  * `owner.method(input, int...)` that computes it for one row, the input
  * type it accepts and the type it returns.
  *
  * The call is spelled once, here. Generated code calls the method by name
  * (one static call per row, no reflection, no boxing); [[NativeCall]]'s
  * interpreted `eval` calls the same method through reflection, on a
  * `Method` looked up once. The lookup runs when the declaration is built, so a typo
  * in `owner`/`method` or a result type that does not match the method's
  * return type fails at class initialization, not on the first row.
  *
  * @param name    pretty name, e.g. `minhash_signature`; plans print it
  *                and analysis errors name the function by it
  * @param owner   fully qualified object whose static forwarder is called
  * @param input   the one accepted input type (array element nullability
  *                is ignored); anything else fails analysis
  * @param result  the result type; `None` returns the input type unchanged
  * @param intArgs name and allowed range of each trailing int constant the
  *                method takes; a constant outside its range fails analysis
  */
final case class NativeFn(name: String, owner: String, method: String,
    input: DataType, result: Option[DataType],
    intArgs: Seq[(String, Range.Inclusive)] = Nil) {

  /** This function over a Column, with its `intArgs` constants. */
  def apply(child: Column, ints: Int*): Column =
    ColumnShim.column(expr(ColumnShim.expr(child), ints))

  def expr(child: Expression, ints: Seq[Int]): NativeCall = {
    require(ints.length == intArgs.length,
      s"$name takes ${intArgs.length} int constant(s), got ${ints.length}")
    NativeCall(this, child, ints)
  }

  /** The first constant outside its declared range, as a message naming
    * this function and the bound.
    */
  private[functions] def outOfRange(ints: Seq[Int]): Option[String] =
    intArgs.zip(ints).collectFirst { case ((param, range), v)
        if !range.contains(v) =>
      val bound =
        if (range.end == Int.MaxValue) s"$param >= ${range.start}"
        else s"$param in [${range.start}, ${range.end}]"
      s"$name requires $bound, got $v"
    }

  @transient private lazy val target: Method =
    Class.forName(owner).getMethod(method,
      CodeGenerator.javaClass(input) +: intArgs.map(_ => Integer.TYPE): _*)
  require(target.getReturnType ==
    CodeGenerator.javaClass(result.getOrElse(input)),
    s"$owner.$method returns ${target.getReturnType}, $name declares " +
      result.getOrElse(input).catalogString)

  def invoke(v: Any, ints: Seq[Int]): Any =
    try target.invoke(null, v.asInstanceOf[AnyRef] +: ints.map(Int.box): _*)
    catch { case e: InvocationTargetException => throw e.getCause }
}

/** One row-wise call of a [[NativeFn]] on `child` with int constants
  * `ints`. A plain `UnaryExpression`: null in, null out; foldable and
  * nullable as its child. Analysis refuses a child of the wrong type and a
  * constant outside its declared range, so neither reaches a task. Prints
  * as `name(child, ints...)`, e.g. `minhash_signature(sh#12, 32)`; its SQL
  * is `name(child)`.
  */
case class NativeCall(fn: NativeFn, child: Expression, ints: Seq[Int])
    extends UnaryExpression {
  override def prettyName: String = fn.name
  override def dataType: DataType = fn.result.getOrElse(child.dataType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (!DataTypeUtils.sameType(child.dataType, fn.input))
      TypeCheckResult.TypeCheckFailure(s"${fn.name} requires " +
        s"${fn.input.catalogString}, got ${child.dataType.catalogString}")
    else fn.outOfRange(ints).fold[TypeCheckResult](
      TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure)

  override def nullSafeEval(v: Any): Any = fn.invoke(v, ints)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"${fn.owner}.${fn.method}(${(c +: ints).mkString(", ")})")

  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ ints

  override protected def withNewChildInternal(c: Expression): NativeCall =
    copy(child = c)
}
