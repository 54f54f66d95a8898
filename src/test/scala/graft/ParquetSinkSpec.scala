package graft

import java.nio.file.Files
import graft.pipeline._
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

/** Drops every record (1→0). */
class DropAllTransformer extends Transformer {
  override def id: String = "DropAll"
  override def transform(r: KafkaRecord): Iterator[KafkaRecord] = Iterator.empty
}

/** Emits each record 0–3 times at random and counts its calls. */
class RandomFanOutTransformer(calls: LongAccumulator) extends Transformer {
  override def id: String = "RandomFanOut"
  override def transform(r: KafkaRecord): Iterator[KafkaRecord] = {
    calls.add(1)
    Iterator.fill(java.util.concurrent.ThreadLocalRandom.current().nextInt(4))(r)
  }
}

/** ParquetRecordSink: end offsets from parquet footers, write deltas
  * from the files an append added, and no Spark job for an offset.
  */
class ParquetSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sinkDir(): String =
    Files.createTempDirectory("graft-sink").toString + "/out"

  private def records(n: Int): Dataset[KafkaRecord] =
    (0 until n).map(i => KafkaRecord(s"k$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8")))
      .toDS().repartition(3)

  private def rows(dir: String): Long = spark.read.parquet(dir).count()

  test("endOffsets equals the rows Spark reads, beside _SUCCESS and .crc files") {
    val dir = sinkDir()
    val sink = new ParquetRecordSink(spark, dir)
    for (n <- Seq(50, 1, 120, 7)) {
      sink.write(records(n))
      assert(sink.endOffsets == Map(0 -> rows(dir)))
    }
    assert(rows(dir) == 178)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS"))
    assert(names.exists(n => n.startsWith(".") && n.endsWith(".crc")), names.mkString(", "))
  }

  test("a missing and an empty sink directory are both at offset 0") {
    val missing = sinkDir()
    assert(new ParquetRecordSink(spark, missing).endOffsets == Map(0 -> 0L))
    val empty = Files.createTempDirectory("graft-sink-empty").toString
    assert(new ParquetRecordSink(spark, empty).endOffsets == Map(0 -> 0L))
  }

  test("write returns the exact row delta for 1→1, 1→2 and 1→0 transformers") {
    val dir = sinkDir()
    val sink = new ParquetRecordSink(spark, dir)
    for ((t, want) <- Seq(new IdentityTransformer -> 90L, new SplitTransformer -> 180L,
                          new DropAllTransformer -> 0L, new IdentityTransformer -> 90L)) {
      val before = sink.endOffsets(0)
      val n = sink.write(records(90).flatMap(t.transform(_)))
      assert(n == want, t.id)
      assert(rows(dir) - before == want, t.id)
    }
  }

  test("write returns the rows persisted by one run of a non-deterministic transformer") {
    val dir = sinkDir()
    val sink = new ParquetRecordSink(spark, dir)
    sink.write(records(40))
    val calls = spark.sparkContext.longAccumulator("transform-calls")
    val t = new RandomFanOutTransformer(calls)
    val n = sink.write(records(500).flatMap(t.transform(_)))
    assert(calls.value == 500L, "the transformer must run exactly once per record")
    assert(n == rows(dir) - 40)
  }

  test("endOffsets starts no Spark job") {
    val dir = sinkDir()
    val sink = new ParquetRecordSink(spark, dir)
    (1 to 3).foreach(_ => sink.write(records(30)))
    val sc = spark.sparkContext
    // only jobs started under this test's local property count, so a
    // job of another suite sharing the session cannot leak in
    val tag = "graft.sinkSpec.guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty(tag)).contains("on")) jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      TestBus.drain(sc)
      jobs.set(0)
      sc.setLocalProperty(tag, "on")
      try body finally sc.setLocalProperty(tag, null)
      TestBus.drain(sc)
      jobs.get()
    }
    sc.addSparkListener(listener)
    try {
      assert(jobsOf(assert(sink.endOffsets == Map(0 -> 90L))) == 0)
      // the listener does see a count job, so the zero above is not vacuous
      assert(jobsOf(assert(rows(dir) == 90L)) > 0)
    } finally sc.removeSparkListener(listener)
  }
}
