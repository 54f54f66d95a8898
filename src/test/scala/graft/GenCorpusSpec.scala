package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** GenCorpus: one generator for every gate rung. A 2-copy rung built
  * from the sf0.001 source has all ten tables at the replicated row
  * counts, and a second run over the complete rung rewrites nothing.
  */
class GenCorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val src = s"${ScaleCurve.testdata}/sf0.001"
  private val unreplicated = Set("region", "nation")
  private val replicated = Seq("documents", "embeddings", "events",
    "customer", "supplier", "part", "orders", "lineitem")

  private def mtimes(dir: Path): Map[String, Long] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString ->
        Files.getLastModifiedTime(p).toMillis).toMap
    finally walk.close()
  }

  test("rung -> copies map") {
    assert(GenCorpus.copies ==
      Map("sf1" -> 10, "sf10" -> 100, "sf30" -> 300, "sf100" -> 1000))
  }

  test("2 copies: ten tables at 2x (region/nation 1x); a re-run is a no-op") {
    val out = Files.createTempDirectory("graft-gencorpus")
    try check(out)
    finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  private def check(out: Path): Unit = {
    GenCorpus.generate(spark, src, out.toString, 2)
    def rows(dir: String, t: String) =
      spark.read.parquet(s"$dir/$t.parquet").count()
    for (t <- replicated ++ unreplicated) {
      assert(Files.exists(out.resolve(s"$t.parquet/_SUCCESS")), t)
      val factor = if (unreplicated(t)) 1 else 2
      assert(rows(out.toString, t) == factor * rows(src, t), t)
    }
    val before = mtimes(out)
    Thread.sleep(1100) // a rewrite would now show a later mtime
    GenCorpus.generate(spark, src, out.toString, 2)
    assert(mtimes(out) == before)
  }
}
