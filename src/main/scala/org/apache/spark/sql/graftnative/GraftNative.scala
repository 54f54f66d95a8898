package org.apache.spark.sql.graftnative

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The engine's native surface, registered in one place.
  *
  * `functions` is the single list of SQL-callable native functions:
  *   - `cosine_sim`: the fused codegen'd cosine expression;
  *   - `shingles`: the n-word shingle Generator (UDTF);
  *   - `bloom_filter_agg` / `might_contain`: Spark's own internal
  *     bloom-filter expressions (the machinery `InjectRuntimeFilter`
  *     builds runtime bloom joins from), exposed under SQL names Spark
  *     does not publish, for `Dedup.d13BloomDedup`.
  *
  * Two ways in, one list: `graft.functions.GraftExtensions` injects it
  * into sessions built with extensions, and `install` registers it
  * (plus the as-of join's planner strategy and filter-pushdown rule)
  * on any other session. Query sites call `install` lazily, so a
  * session built without extensions still plans every query.
  *
  * Lives in this package because the function registry and the
  * experimental methods hang off `sessionState`, which is private[sql].
  */
object GraftNative {
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      e => CosineSimilarity(e(0), e(1))),
    ("shingles", classOf[Shingles], e => Shingles(e(0), e(1))),
    ("bloom_filter_agg", classOf[BloomFilterAggregate],
      e => new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    ("might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))

  /** Idempotent: each function, the strategy and the rule are added
    * only when absent (a replace would log a registry WARN on every
    * query-site call).
    */
  def install(spark: SparkSession): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val reg = s.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
    val exp = s.experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
    if (!exp.extraOptimizations.contains(PushFilterThroughAsOfJoin))
      exp.extraOptimizations = exp.extraOptimizations :+ PushFilterThroughAsOfJoin
  }
}
