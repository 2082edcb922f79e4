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
  * It injects every row of [[GraftFunctions.table]], every rule of
  * [[GraftFunctions.rules]] and every strategy of
  * [[GraftFunctions.strategies]]. Sessions graft does not construct (one
  * handed to `SparkEntry.queries`) get the same table, rules and strategies
  * at runtime from `graft.engine.Engine.ensureInitialized`, which registers
  * the functions through the session's FunctionRegistry and adds the rules
  * to `experimental.extraOptimizations` and the strategies to
  * `experimental.extraStrategies`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftFunctions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
    GraftFunctions.table.foreach(ext.injectFunction)
  }
}
