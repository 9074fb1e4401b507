package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Access to the package-private function injection of
  * [[SparkSessionExtensions]]: the registry a session built with
  * `extensions` would resolve functions from. */
object SpecExtensions {
  def functionRegistry(extensions: SparkSessionExtensions): FunctionRegistry =
    extensions.registerFunctions(FunctionRegistry.builtin.clone())
}
