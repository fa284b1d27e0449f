package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.IntegerType

/** Bridge into Spark's `private[sql]` compilation errors, so graft's SQL
  * function builders refuse bad arguments with the same
  * `AnalysisException`s Spark's built-in functions raise, each naming the
  * function.
  */
object ArgErrors {
  def wrongNumArgs(fn: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(fn, Seq(expected), actual)
  def nonFoldable(fn: String, param: String): Throwable =
    QueryCompilationErrors.nonFoldableArgumentError(fn, param, IntegerType)
  def notAnInt(fn: String, param: String, arg: Expression): Throwable =
    QueryCompilationErrors.invalidParameter("INTEGER", fn, param, arg)
}
