package graft

import java.nio.file.Files
import graft.pipeline._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A transformer that splits every record into two (1→n UDTF shape). */
class SplitTransformer extends Transformer {
  override def id: String = "Split"
  override def transform(r: KafkaRecord): Iterator[KafkaRecord] =
    Iterator(r, KafkaRecord(r.key, (new String(r.value, "UTF-8") + "-copy").getBytes("UTF-8")))
}

/** Broker-free GroupOffsetsAdmin double: records the reset requests. */
class RecordingGroupAdmin extends GroupOffsetsAdmin {
  var calls: Vector[(String, Map[(String, Int), Long])] = Vector.empty
  override def alterConsumerGroupOffsets(
      g: String, o: Map[(String, Int), Long]): Unit = calls :+= (g -> o)
}

/** Dump → reload round-trip parity (FIXTURES.md A1/A2): chunked gzip
  * parquet with deterministic names and the "0"/"1" schema, filename-
  * sorted reload, transformer flatMap, hot-reload short-circuit.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference corpus shape (utils/kafka_producer.py:24-31) + keyed
    * variant: 350 records over 3 partitions.
    */
  def corpus() = {
    val rows = (0 until 350).map { i =>
      (s"k${i % 16}".getBytes("UTF-8"),
       f"Message to send to kafka as a value. This message is the test message $i%015d".getBytes("UTF-8"),
       i % 3, (i / 3).toLong)
    }
    rows.toDF("key", "value", "partition", "offset")
  }

  test("dump writes chunked gzip parquet with cumulative %015d names and 0/1 schema") {
    val dir = Files.createTempDirectory("graft-dump").toString
    val names = new Dumper(spark).dump(corpus(), dir, "20240101000000", maxPerFile = 100)
    assert(names.nonEmpty)
    assert(names.forall(_.matches("20240101000000-\\d{15}\\.parquet")))
    assert(names == names.sorted, "lexicographic order == write order")
    assert(names.head == "20240101000000-000000000000000.parquet")
    val df = spark.read.parquet(s"$dir/20240101000000")
    assert(df.columns.toSeq == Seq("0", "1"))
    assert(df.count() == 350)
    // every file respects the row bound; footers carry gzip codec
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    for (n <- names) {
      val f = spark.read.parquet(s"$dir/20240101000000/$n")
      assert(f.count() <= 100)
    }
    // cumulative naming: suffix of file i == rows in files 0..i-1
    val counts = names.map(n => spark.read.parquet(s"$dir/20240101000000/$n").count())
    val cum = counts.scanLeft(0L)(_ + _).init
    assert(names.map(_.drop("20240101000000-".length).take(15).toLong) == cum)
    // gzip codec is a pinned parity detail (kafka_client.py:181) —
    // read it from the actual parquet footer
    val codecs = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/20240101000000/${names.head}"), conf))
      try r.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala.map(_.getCodec.name())).toSet
      finally r.close()
    }
    assert(codecs == Set("GZIP"), s"expected gzip, got $codecs")
  }

  test("reload round-trips the corpus under Identity, in EXACT order") {
    val dir = Files.createTempDirectory("graft-dump").toString
    new Dumper(spark).dump(corpus(), dir, "d1", maxPerFile = 64)
    val store = new FileStateStore(Files.createTempDirectory("graft-state").toString)
    val rel = new Reloader(spark, store)
    val got = rel.transformed(s"$dir/d1", new IdentityTransformer)
      .collect().map(r => new String(r.value, "UTF-8"))
    val want = corpus().orderBy($"partition", $"offset")
      .collect().map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
    // exact sequence equality — a sorted compare would hide
    // consumption-order regressions (the invariant under test)
    assert(got.toSeq == want.toSeq)
    assert(got.length == 350)
  }

  test("reload order survives a dump file spanning multiple scan splits") {
    val dir = Files.createTempDirectory("graft-dump").toString
    // one big file: every row in a single parquet, then force tiny
    // scan splits so the file is read as many input partitions —
    // ordering must come from _metadata.row_index, not split luck
    new Dumper(spark).dump(corpus(), dir, "dbig", maxPerFile = 1000000)
    val store = new FileStateStore(Files.createTempDirectory("graft-state").toString)
    val rel = new Reloader(spark, store)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val got = try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      rel.transformed(s"$dir/dbig", new IdentityTransformer)
        .collect().map(r => new String(r.value, "UTF-8"))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    val want = corpus().orderBy($"partition", $"offset")
      .collect().map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
    assert(got.toSeq == want.toSeq)
  }

  test("splitting transformer doubles the row count") {
    val dir = Files.createTempDirectory("graft-dump").toString
    new Dumper(spark).dump(corpus(), dir, "d2", maxPerFile = 200)
    val store = new FileStateStore(Files.createTempDirectory("graft-state").toString)
    val rel = new Reloader(spark, store)
    assert(rel.transformed(s"$dir/d2", new SplitTransformer).count() == 700)
  }

  test("transformer reflective loading (U2)") {
    val t = Transformer.load("graft.SplitTransformer")
    assert(t.id == "Split")
    val out = t.transform(KafkaRecord(null, "x".getBytes)).toSeq
    assert(out.size == 2)
  }

  test("reload produces then hot-reloads on second run (state short-circuit)") {
    val dir = Files.createTempDirectory("graft-dump").toString
    new Dumper(spark).dump(corpus(), dir, "d3", maxPerFile = 100)
    val store = new FileStateStore(Files.createTempDirectory("graft-state").toString)
    val sinkDir = Files.createTempDirectory("graft-sink").toString + "/out"
    val sink = new ParquetRecordSink(spark, sinkDir)
    val rel = new Reloader(spark, store)

    val first = rel.reload("topicA", s"$dir/d3", "d3", new IdentityTransformer, sink)
    first match {
      case Reloaded(n, state) =>
        assert(n == 350)
        // pre-produce snapshot: sink was empty before the produce
        assert(state.offsets == Map("0" -> 0L))
      case other => fail(s"expected Reloaded, got $other")
    }
    // second run: same (topic, dump, transformer) → offsets only
    val second = rel.reload("topicA", s"$dir/d3", "d3", new IdentityTransformer, sink)
    assert(second == HotReload(Map("0" -> 0L)))
    // different transformer → full reload again
    val third = rel.reload("topicA", s"$dir/d3", "d3", new SplitTransformer, sink)
    assert(third.isInstanceOf[Reloaded])
    assert(third.asInstanceOf[Reloaded].state.offsets == Map("0" -> 350L))
  }

  test("hot reload resets the consumer group via the admin boundary (reload 3a)") {
    val dir = Files.createTempDirectory("graft-dump").toString
    new Dumper(spark).dump(corpus(), dir, "d4", maxPerFile = 100)
    val store = new FileStateStore(Files.createTempDirectory("graft-state").toString)
    val sink = new ParquetRecordSink(spark,
      Files.createTempDirectory("graft-sink").toString + "/out")
    val rel = new Reloader(spark, store)
    val admin = new RecordingGroupAdmin

    // first reload moves data → consumers are fresh, NO group reset
    val first = rel.reload("topicB", s"$dir/d4", "d4", new IdentityTransformer, sink)
    assert(GroupReset.applyIfHot(admin, "grp", "topicB", first).isEmpty)
    assert(admin.calls.isEmpty)
    // second is a hot reload → the group is reset to the state's
    // offsets, parsed from the string-keyed map (kafka_client.py:360-370)
    val second = rel.reload("topicB", s"$dir/d4", "d4", new IdentityTransformer, sink)
    val applied = GroupReset.applyIfHot(admin, "grp", "topicB", second)
    assert(applied.contains(Map(("topicB", 0) -> 0L)))
    assert(admin.calls == Vector("grp" -> Map(("topicB", 0) -> 0L)))
  }

  test("progress listener reports task percentages during a dump") {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new ProgressListener(s => { calls.add(s); () })
    spark.sparkContext.addSparkListener(listener)
    try {
      val dir = Files.createTempDirectory("graft-dump").toString
      new Dumper(spark).dump(corpus(), dir, "dprog", maxPerFile = 100)
      // the listener bus delivers asynchronously — wait for it to drain
      val deadline = System.currentTimeMillis() + 10000
      while (calls.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(!calls.isEmpty, "listener never fired during the dump")
    assert(calls.iterator().next()
      .matches("\\[graft\\] progress: \\d+% \\(\\d+/\\d+ tasks\\)"))
  }

  test("state JSON round-trip keeps string offset keys (A3 quirk)") {
    val s0 = DumpState("20240101000000", "t", Map("0" -> 12L, "1" -> 34L), 1700000000L, "Identity")
    val s1 = DumpState.fromJson(s0.toJson)
    assert(s1 == s0)
    assert(s1.offsets.keySet == Set("0", "1"))
  }

  test("latest state = arg-max dump_date; match is null-safe (F1)") {
    val a = DumpState("d1", "t", Map(), 100, "Identity")
    val b = DumpState("d2", "t", Map(), 200, "Identity")
    assert(DumpState.latest(Seq(a, b)).contains(b))
    assert(DumpState.latest(Nil).isEmpty)
    // dump_date has one-second resolution: among ties the last saved wins
    val b2 = DumpState("d3", "t", Map(), 200, "Identity")
    assert(DumpState.latest(Seq(a, b, b2)).contains(b2))
    assert(DumpState.latest(Seq(b2, a, b)).contains(b))
    assert(!DumpState("d", null, Map(), 1, "x").matches("t", "d", "x"))
    assert(DumpState("d", "t", Map(), 1, "x").matches("t", "d", "x"))
    assert(!DumpState("d", "t", Map(), 1, "x").matches("t", "d", "y"))
  }

  test("state store: of two saves in the same second, the second is current") {
    val store = new FileStateStore(Files.createTempDirectory("graft-state").toString)
    val first = DumpState("d1", "t", Map("0" -> 0L), 1700000000L, "Identity")
    val second = DumpState("d2", "t", Map("0" -> 350L), 1700000000L, "Identity")
    store.save(first)
    store.save(second)
    assert(store.latestMatching("t", "d2", "Identity").contains(second))
    assert(store.latestMatching("t", "d1", "Identity").isEmpty)
  }

  test("catalog: lexicographic max = latest dump; files sorted; empty dump throws") {
    val root = Files.createTempDirectory("graft-cat").toString
    val dmp = new Dumper(spark)
    dmp.dump(corpus(), root, "20240101000000", 100)
    dmp.dump(corpus(), root, "20240102000000", 100)
    val cat = new DumpCatalog(root, spark.sparkContext.hadoopConfiguration)
    // hidden/metadata dirs must not win the lexicographic-latest race
    // ('_' sorts above digits; found by driving the CLI with the
    // default --state-dir under the dump root)
    Files.createDirectories(java.nio.file.Paths.get(root, "_state"))
    assert(cat.latestDumpId().contains("20240102000000"))
    val files = cat.dumpFiles("20240101000000")
    assert(files == files.sorted && files.nonEmpty)
    Files.createDirectories(java.nio.file.Paths.get(root, "20240103000000"))
    intercept[IllegalStateException](cat.dumpFiles("20240103000000"))
  }

  test("dump id format is UTC yyyyMMddHHmmss (main.py:107-110)") {
    assert(DumpCatalog.newDumpId(0L) == "19700101000000")
    assert(DumpCatalog.newDumpId(1700000000000L) == "20231114221320")
  }
}
