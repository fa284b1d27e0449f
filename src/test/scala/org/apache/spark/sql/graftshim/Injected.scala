package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Bridge into `SparkSessionExtensions`' `private[sql]` registration step:
  * the functions a configured extension injects at session build, in an
  * otherwise empty registry.
  */
object Injected {
  def functions(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)
}
