package perfbench

import graft.pipeline._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The 1→2 transformer of the fan-out reload: every record twice. */
class DoubleTransformer extends Transformer {
  override def id: String = "Double"
  override def transform(r: KafkaRecord): Iterator[KafkaRecord] = Iterator(r, r)
}

/** Stands in for the broker's admin client and keeps every request. */
class RecordingAdmin extends GroupOffsetsAdmin {
  var requests: Vector[(String, Map[(String, Int), Long])] = Vector.empty
  override def alterConsumerGroupOffsets(
      groupId: String, offsets: Map[(String, Int), Long]): Unit =
    requests :+= groupId -> offsets
}

/** The parquet sink with a span around each end-offset scan and write.
  * `write` calls `endOffsets` itself, so those scans nest in the write.
  */
class TracedSink(spark: SparkSession, dir: String, tr: Tracer)
    extends ParquetRecordSink(spark, dir) {
  override def endOffsets: Map[Int, Long] = tr.span("sink.end_offsets")(super.endOffsets)
  override def write(records: Dataset[KafkaRecord]): Long =
    tr.span("sink.write")(super.write(records))
}

/** The file state store with a span around each lookup and save. */
class TracedStore(dir: String, tr: Tracer) extends FileStateStore(dir) {
  override def states(topic: String): Seq[DumpState] = {
    val s = super.states(topic)
    tr.attr("lines", s.size.toDouble)
    s
  }
  override def latestMatching(topic: String, dumpId: String, transformerId: String)
      : Option[DumpState] =
    tr.span("state.latest_matching")(super.latestMatching(topic, dumpId, transformerId))
  override def save(state: DumpState): Unit = tr.span("state.save")(super.save(state))
}

/** What one tail-N dump produced, and what the checks need to know. */
final case class DumpOut(dumpId: String, files: Seq[String], targets: Map[Int, Long],
                         available: Long, topic: Gen.Topic) {
  /** Rows of the partitions before p in dump order. */
  def base: Map[Int, Long] = {
    val parts = targets.keys.toSeq.sorted
    parts.zip(parts.scanLeft(0L)((acc, p) => acc + topic.end(p) - targets(p))).toMap
  }
}

object Pipeline {

  /** The session `graft.pipeline.Cli` builds, plus local paths kept
    * inside the run's work directory.
    */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Plan tail-N on `t`, select those records from the cached topic
    * and dump them under `root/dumpId`.
    */
  def dumpTail(spark: SparkSession, tr: Tracer, topic: DataFrame, t: Gen.Topic,
               n: Long, root: String, dumpId: String, maxPerFile: Int): DumpOut = {
    val (targets, available) =
      tr.span("planner.tail_n")(OffsetPlanner.tailN(t.begin, t.end, n))
    val records = topic.where(
      col("offset") >= element_at(typedLit(targets), col("partition")))
    val files = tr.span("dumper.dump") {
      val names = new Dumper(spark).dump(records, root, dumpId, maxPerFile)
      tr.attr("files_out", names.size.toDouble)
      names
    }
    DumpOut(dumpId, files, targets, available, t)
  }

  def dirBytes(spark: SparkSession, dir: String): Long = {
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(new HPath(dir)).getLength
  }

  def delete(spark: SparkSession, dir: String): Unit = {
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(dir), true)
  }

  private val Hash = sum(xxhash64(col("k"), col("v")).cast("decimal(38,0)"))

  /** Checks a dump directory against the records it should hold:
    * names `{id}-{%015d}.parquet` listed in order, each file's suffix
    * equal to the rows before it, every row at its (partition, offset)
    * rank, and `available` rows. Returns an error or the order-free
    * xxhash64 sum of the rows.
    */
  def checkDump(spark: SparkSession, root: String, d: DumpOut): Either[String, BigDecimal] = {
    val listed = new DumpCatalog(root, spark.sparkContext.hadoopConfiguration)
      .dumpFiles(d.dumpId)
    val name = ("^" + java.util.regex.Pattern.quote(d.dumpId) + "-\\d{15}\\.parquet$").r
    val key = col("0").cast("string")
    val p = substring(key, 1, 4).cast("int")
    val o = substring(key, 6, 12).cast("long")
    val rank = element_at(typedLit(d.base), p) + o - element_at(typedLit(d.targets), p)
    val at = regexp_extract(col("_metadata.file_name"), "-(\\d{15})\\.parquet$", 1)
      .cast("long") + col("_metadata.row_index")
    val r = spark.read.parquet(s"$root/${d.dumpId}")
      .select(col("0").as("k"), col("1").as("v"), (at =!= rank).cast("int").as("bad"))
      .agg(count(lit(1)), sum(col("bad")), Hash).head()
    if (!listed.forall(n => name.findFirstIn(n).isDefined))
      Left(s"dump ${d.dumpId}: bad file names ${listed.take(3)}")
    else if (r.getLong(0) != d.available)
      Left(s"dump ${d.dumpId}: ${r.getLong(0)} rows, tailN planned ${d.available}")
    else if (r.getLong(1) != 0)
      Left(s"dump ${d.dumpId}: ${r.getLong(1)} rows out of order or misnamed")
    else Right(BigDecimal(r.getDecimal(2)))
  }

  /** Row count and order-free xxhash64 sum of a sink directory. */
  def sinkDigest(spark: SparkSession, dir: String): (Long, BigDecimal) = {
    val r = spark.read.parquet(dir).select(col("key").as("k"), col("value").as("v"))
      .agg(count(lit(1)), Hash).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Live heap after a full collection, in MB: the old generation
    * when the collector names one, else the whole heap. The first
    * collection lets Spark's cleaner drop blocks of unreachable
    * broadcasts and RDDs; the second frees them.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    import scala.jdk.CollectionConverters._
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName.contains("Old Gen"))
    val used = old.map(_.getUsage.getUsed).getOrElse(
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    used / 1048576.0
  }
}
