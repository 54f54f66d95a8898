package graft

import org.apache.spark.sql.SparkSession

/** Builds the gate corpora, one rung per argument:
  *
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.GenCorpus sf10"
  *
  * A rung is `copies(rung)` structure-preserving disjoint copies of
  * `$SPARK_GRAFT_TESTDATA/sf0.1` (the scheme in the ScaleCurve
  * scaladoc) written to `ScaleCurve.rungDir(rung)`: documents, events,
  * embeddings and FK-consistent TPC-H, so `graft.Verify <dir>` +
  * `tools/gate_isolated.py` can gate any query at that rung. Each
  * table sits behind its own scheme-versioned marker, so re-running a
  * complete rung is a no-op, and a partial rung (the deep curve's
  * documents/events-only dirs) is completed without regenerating what
  * it already has.
  */
object GenCorpus {

  /** rung → copies of sf0.1. */
  val copies: Map[String, Int] =
    Map("sf1" -> 10, "sf10" -> 100, "sf30" -> 300, "sf100" -> 1000)

  def generate(spark: SparkSession, srcDir: String, outDir: String,
               nCopies: Int): Unit = {
    ScaleCurve.genScaled(spark, srcDir, outDir, nCopies, Set("documents"))
    ScaleCurve.genEvents(spark, srcDir, outDir, nCopies)
    if (!ScaleCurve.embeddingsCurrent(outDir))
      ScaleCurve.genEmbeddings(spark, srcDir, outDir, nCopies)
    ScaleCurve.genTpchScaled(spark, srcDir, outDir, nCopies)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && args.forall(copies.contains),
      s"usage: runMain graft.GenCorpus <rung>... with rungs from " +
        copies.toSeq.sortBy(_._2).map(_._1).mkString(", "))
    val spark = GenSession.local()
    try args.foreach { rung =>
      val out = ScaleCurve.rungDir(rung)
      generate(spark, s"${ScaleCurve.testdata}/sf0.1", out, copies(rung))
      println(s"$rung corpus ready at $out")
    } finally spark.stop()
  }
}
