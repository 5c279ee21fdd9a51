package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.NativeFunctions

/** Session-extension entry point: installs every function of the
  * [[NativeFunctions]] table (the same set `NativeFunctions.register`
  * installs) and the [[graft.plans.FuseCosine]] rule at session build
  * time —
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *     ...
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`). This is the idiomatic
  * deployment for a cluster where the `graft_*` functions should exist
  * in every session from the start; `NativeFunctions.register`, which
  * [[SparkEntry.queries]] calls, covers sessions that did not opt in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    NativeFunctions.table.foreach { f =>
      e.injectFunction((new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    }
    // composed dot/(sqrt*sqrt) cosine → fused single-pass expression
    e.injectOptimizerRule(_ => graft.plans.FuseCosine)
  }
}
