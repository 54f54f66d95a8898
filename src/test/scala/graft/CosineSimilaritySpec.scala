package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd CosineSimilarity must be bit-identical to the
  * composable HOF form (same left-to-right double fold) — that
  * equivalence is what keeps the DuckDB oracle valid.
  */
class CosineSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def pairs() = {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe")).filter(col("qid") < 20)
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce")).filter(col("cid") < 50)
    q.crossJoin(c)
  }

  def hofCosine = {
    val dot = aggregate(
      zip_with(col("qe"), col("ce"), (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)
    def norm(c2: String) = sqrt(aggregate(
      transform(col(c2), x => x.cast(DoubleType) * x.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x))
    dot / (norm("qe") * norm("ce"))
  }

  test("native expression == HOF fold, bit-exact over 1000 pairs") {
    val df = pairs()
      .withColumn("native", VectorFunctions.cosineSim(col("qe"), col("ce")))
      .withColumn("hof", hofCosine)
    val bad = df.filter(col("native") =!= col("hof")).count()
    assert(bad == 0)
    assert(df.count() == 1000)
  }

  test("registered SQL function works and survives codegen") {
    org.apache.spark.sql.graftnative.GraftNative.install(spark)
    pairs().createOrReplaceTempView("graft_cos_pairs")
    val n = spark.sql(
      "SELECT qid, cid, cosine_sim(qe, ce) AS s FROM graft_cos_pairs WHERE cosine_sim(qe, ce) > -2")
      .count()
    assert(n == 1000)
  }

  test("null and empty arrays behave") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 2.0f), Seq.empty[Float])
    ).toDF("a", "b")
      .withColumn("s", VectorFunctions.cosineSim(col("a"), col("b")))
    val got = df.select("s").collect().map(_.getDouble(0))
    assert(got(0) == 1.0)
    assert(got(1) == 0.0) // zero norm → 0.0, not NaN
  }
}
