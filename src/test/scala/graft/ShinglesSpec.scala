package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.GraftNative
import org.scalatest.funsuite.AnyFunSuite

/** Native shingles Generator: values match the composed HOF form,
  * short/empty/null inputs, and the plan is a Generate node.
  */
class ShinglesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val composed =
    """if(size(ws) < 3, array(concat_ws(' ', ws)),
      |   transform(sequence(1, size(ws) - 2),
      |             i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1), element_at(ws, i+2))))""".stripMargin

  test("generator output matches the composed HOF shingles") {
    GraftNative.install(spark)
    val df = Seq(
      "the quick brown fox jumps",
      "one two",
      "single",
      "  spaced   out   tokens  here ").toDF("text")
    val native = df.select(expr("shingles(text, 3)").as("shingle"))
      .collect().map(_.getString(0)).sorted.toSeq
    val hof = df.withColumn("ws", expr("split(trim(text), '\\\\s+')"))
      .select(explode(expr(composed)).as("shingle"))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(native == hof)
    assert(native.contains("the quick brown"))
    assert(native.contains("one two"))
  }

  test("n=2 and n=5 shingle widths") {
    GraftNative.install(spark)
    val df = Seq("a b c d").toDF("text")
    assert(df.select(expr("shingles(text, 2)").as("s"))
      .collect().map(_.getString(0)).toSeq == Seq("a b", "b c", "c d"))
    // fewer tokens than n → ONE whole-text shingle
    assert(df.select(expr("shingles(text, 5)").as("s"))
      .collect().map(_.getString(0)).toSeq == Seq("a b c d"))
    // n=1 → one shingle per token
    assert(df.select(expr("shingles(text, 1)").as("s"))
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c", "d"))
  }

  test("null text emits no rows; plan is a Generate node") {
    GraftNative.install(spark)
    val df = Seq(Option("a b c d"), None).toDF("text")
    val out = df.select(expr("shingles(text, 3)").as("shingle"))
    assert(out.count() == 2) // only the non-null doc's 2 shingles
    assert(out.queryExecution.executedPlan.toString.contains("Generate"),
           s"expected Generate in:\n${out.queryExecution.executedPlan}")
  }

  test("null or non-positive width emits no rows instead of crashing") {
    GraftNative.install(spark)
    val df = Seq(("a b c d", Option(0)), ("a b c d", Option(-2)),
                 ("a b c d", Option.empty[Int])).toDF("text", "k")
    assert(df.select(expr("shingles(text, k)")).count() == 0)
  }

  test("generator participates in whole-stage codegen (no silent fallback)") {
    GraftNative.install(spark)
    val prevFb = spark.conf.get("spark.sql.codegen.fallback")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // fallback=false: a Janino failure would throw instead of running
      // the interpreted path; AQE off so codegenString sees the plan
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Seq("the quick brown fox jumps", "one two").toDF("text")
        .select(expr("shingles(text, 3)").as("shingle"))
      assert(df.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("brown fox jumps", "one two", "quick brown fox", "the quick brown"))
      val code = org.apache.spark.sql.execution.debug.codegenString(
        df.queryExecution.executedPlan)
      assert(code.contains("shingleArray"),
        s"shingles not in generated code:\n${code.take(1500)}")
      // interpreted path (codegen off) agrees
      val prevWs = spark.conf.get("spark.sql.codegen.wholeStage")
      val interp = try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        Seq("the quick brown fox jumps", "one two").toDF("text")
          .select(expr("shingles(text, 3)").as("shingle"))
          .collect().map(_.getString(0)).sorted.toSeq
      } finally spark.conf.set("spark.sql.codegen.wholeStage", prevWs)
      assert(interp == Seq("brown fox jumps", "one two", "quick brown fox",
                           "the quick brown"))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFb)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("mistyped arguments fail at analysis, not on the executor") {
    GraftNative.install(spark)
    val df = Seq(("a b c", 3)).toDF("text", "k")
    val e1 = intercept[Exception] {
      df.select(expr("shingles(k, 3)")).collect()
    }
    assert(e1.getMessage.contains("shingles() first argument"), e1.getMessage)
    val e2 = intercept[Exception] {
      df.select(expr("shingles(text, 'x')")).collect()
    }
    assert(e2.getMessage.contains("shingles() width"), e2.getMessage)
  }

}
