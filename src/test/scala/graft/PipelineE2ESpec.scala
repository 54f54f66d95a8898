package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** Capstone integration drive: the advertised Kafka→curated-shards
  * flow as ONE CLI command (`pipeline`), pinned end to end —
  *
  *   documents → producer records → dump (K1 %015d catalog naming)
  *   → reload (transformer + state) → decode → corpus parquet
  *   → d10 near-dup curation → t14 corpus curation → t26 epoch shards
  *
  * The assertions are the user-visible contract: catalog file naming,
  * per-stage row conservation, BIT-EXACT corpus fidelity through the
  * byte-pair round trip, and — the part that matters — the t14/t26
  * curation reports on the round-tripped corpus equal to the same
  * queries run directly on the source corpus, down to t26's per-shard
  * `order_checksum` (sum(pos · doc_id) — any drift in membership OR
  * training order is a mismatch). A second invocation must hot-reload
  * off the saved state (offset reset, no data re-produced).
  */
class PipelineE2ESpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("pipeline command: dump → reload → decode → t14/t26 match direct runs") {
    val dest = tmp("graft-e2e-dump")
    // not pre-created: mirroring a Kafka sink, a fresh topic is one
    // that does not exist yet (ParquetRecordSink reads a missing or an
    // empty directory as offset 0)
    val sink = tmp("graft-e2e-sink") + "/topic"
    val corpus = tmp("graft-e2e-corpus")
    val dumpId = "20240101000000"
    val opts = Map("sf-dir" -> sf, "dest" -> dest, "sink" -> sink,
                   "corpus-out" -> corpus, "dump-id" -> dumpId,
                   "max-per-file" -> "64")
    Cli.run(spark, "pipeline", opts)

    val orig = graft.sources.Tables.documents(spark, sf)
    val nDocs = orig.count()

    // K1 catalog naming: lexicographic == write order, cumulative %015d
    val cat = new DumpCatalog(dest,
      spark.sparkContext.hadoopConfiguration)
    assert(cat.latestDumpId().contains(dumpId))
    val names = cat.dumpFiles(dumpId)
    assert(names.nonEmpty && names == names.sorted)
    assert(names.forall(_.matches(s"$dumpId-\\d{15}\\.parquet")))
    assert(names.head == s"$dumpId-000000000000000.parquet")

    // row conservation at each stage: dump, reloaded sink, decoded corpus
    assert(spark.read.parquet(s"$dest/$dumpId").count() == nDocs)
    assert(spark.read.parquet(sink).count() == nDocs)
    val roundTripped = spark.read.parquet(s"$corpus/documents.parquet")
    assert(roundTripped.count() == nDocs)

    // corpus fidelity: exact multiset equality, every column
    assert(orig.exceptAll(roundTripped).isEmpty &&
           roundTripped.exceptAll(orig).isEmpty,
           "decoded corpus must be bit-identical to the source")

    // the curated-shard contract: the d10 near-dup curation report
    // (run 9 — the dedup stage a real curation flow inserts between
    // decode and packing), the t14 curation report and the t26 epoch
    // shards computed on the ROUND-TRIPPED corpus equal the direct
    // runs on the source dir — including t26's order_checksum, which
    // pins the exact per-shard training order
    for (q <- Seq("d10_curate_canonical", "t14_corpus_pipeline",
                  "t26_epoch_shuffle")) {
      val direct = SparkEntry.queries(q)(spark, sf)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val piped = SparkEntry.queries(q)(spark, corpus)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(direct.nonEmpty, s"$q produced no rows")
      assert(direct.toSeq == piped.toSeq,
             s"$q differs between source and round-tripped corpus")
    }
    // the shards are non-degenerate: every one of the 8 shards is hit
    // at this corpus size and the checksums are distinct across shards
    val shards = SparkEntry.queries("t26_epoch_shuffle")(spark, corpus)
    assert(shards.count() == 8)
    assert(shards.select(countDistinct(col("order_checksum"))).head().getLong(0) == 8)

    // run 2: state matches → hot reload, nothing re-produced
    Cli.run(spark, "pipeline", opts)
    assert(spark.read.parquet(sink).count() == nDocs,
           "second run must hot-reload (offset reset), not re-produce")
  }
}
