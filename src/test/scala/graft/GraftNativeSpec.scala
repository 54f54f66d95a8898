package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftnative.{
  AsOfJoinStrategy, GraftNative, PushFilterThroughAsOfJoin}
import org.scalatest.funsuite.AnyFunSuite

/** `GraftNative.install` is the one registration path for sessions
  * built without extensions, and `GraftExtensions` injects the same
  * list. Proven on FRESH sessions (default cleared) with a
  * before-install negative control, so a temp registration leaking
  * from another suite can't fake the pass.
  */
class GraftNativeSpec extends AnyFunSuite {
  lazy val base = TestSpark.spark // ensure the shared context exists

  private val probes = Seq(
    "shingles" -> "SELECT count(*) FROM (SELECT shingles('a b c d', 2))",
    "cosine_sim" ->
      "SELECT round(cosine_sim(array(1.0F, 0.0F), array(0.6F, 0.8F)), 3)",
    "bloom_filter_agg" ->
      "SELECT bloom_filter_agg(xxhash64(id), 100L, 1024L) FROM range(10)",
    "might_contain" -> "SELECT might_contain(CAST(NULL AS BINARY), 0L)")

  private def freshSession(withExt: Boolean): SparkSession = {
    base // touch
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[2]").appName("graft-native-test")
      .config("spark.ui.enabled", "false")
    (if (withExt) b.withExtensions(new graft.functions.GraftExtensions) else b)
      .getOrCreate()
  }

  private def restore(): Unit = {
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
  }

  private def resolvesAll(s: SparkSession): Unit = {
    probes.foreach { case (_, sql) => s.sql(sql).collect() }
    assert(s.sql(probes(1)._2).head().getDouble(0) == 0.6)
    assert(s.sql(
      "SELECT might_contain((SELECT bloom_filter_agg(xxhash64(id), 100L, " +
        "1024L) FROM range(10)), xxhash64(3L))").head().getBoolean(0))
  }

  test("install registers the four functions, the strategy and the rule once") {
    try {
      val s = freshSession(withExt = false)
      probes.foreach { case (name, sql) =>
        val err = intercept[Exception](s.sql(sql).collect())
        assert(err.getMessage.toLowerCase.contains(name), s"$name: $err")
      }
      GraftNative.install(s)
      GraftNative.install(s)
      resolvesAll(s)
      val exp = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .experimental
      assert(exp.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
      assert(exp.extraOptimizations.count(_ == PushFilterThroughAsOfJoin) == 1)
    } finally restore()
  }

  test("a withExtensions(GraftExtensions) session resolves the same four") {
    try resolvesAll(freshSession(withExt = true))
    finally restore()
  }
}
