package graft.core

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions hook: injects the engine's one optimizer rule,
  * `HoistLambdaInvariants`. The native expressions have no SQL names; each
  * is built through the Column API by the operator that uses it.
  *
  * Activate with `.withExtensions(new GraftExtensions)` (GraftSession does)
  * or `spark.sql.extensions=graft.core.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    // hoists lambda-invariant tokenize/shingle chains out of HOF bodies —
    // the O(len²)-per-row interpreted re-evaluation class
    ext.injectOptimizerRule(_ => graft.plans.HoistLambdaInvariants)
}
