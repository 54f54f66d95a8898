package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftnative.{
  AsOfJoinStrategy, GraftNative, PushFilterThroughAsOfJoin}

/** SparkSessionExtensions entry point: registers the engine's native
  * surface permanently for a session built with
  * `.withExtensions(new GraftExtensions)` or via
  * `spark.sql.extensions=graft.functions.GraftExtensions`:
  *
  *   - every function in `GraftNative.functions` (`cosine_sim`,
  *     `shingles`, `bloom_filter_agg`, `might_contain`);
  *   - the native as-of join's planner strategy + filter-pushdown
  *     optimizer rule (plan injection) — the full custom-operator
  *     stack (`org.apache.spark.sql.graftnative.AsOfJoin*`).
  *
  * Sessions not built with extensions (the Verify/Bench sessions) get
  * the same surface lazily from `GraftNative.install`, which the query
  * sites call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftNative.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        build))
    }
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
  }
}
