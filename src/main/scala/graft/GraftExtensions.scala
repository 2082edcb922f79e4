package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions

/** Standard `SparkSessionExtensions` entry point for graft's Catalyst
  * extensions — the construction-time injection path:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) // or
  * --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * It injects every row of [[GraftFunctions.table]] and every rule of
  * [[GraftFunctions.rules]]. Sessions graft does not construct (one handed to
  * `SparkEntry.queries`) get the same table and rules at runtime from
  * `graft.engine.Engine.ensureInitialized`, which registers the functions
  * through the session's FunctionRegistry and adds the rules to
  * `experimental.extraOptimizations`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftFunctions.table.foreach(ext.injectFunction)
  }
}
