package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, SparkSession}

/** Parquet-backed RecordSink: the dry-run / broker-less stand-in
  * (reference dry_run keeps files local instead of uploading,
  * kafka_client.py:250-253). Also what the test suite drives.
  *
  * "End offsets" for a single-log file sink = current row count in
  * partition 0 — preserving the invariant that a consumer positioned
  * at the pre-produce snapshot reads exactly the reloaded rows. The
  * count is the sum of the data files' parquet footer row counts:
  * O(#files) metadata reads and no Spark job, so a reload's fixed cost
  * does not grow with the rows already in the sink. A sink directory
  * that does not exist yet, or holds no data files, is at offset 0.
  */
class ParquetRecordSink(spark: SparkSession, dir: String) extends RecordSink {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def files: Seq[FileStatus] = ParquetFiles.dataFiles(dir, conf)
  private def rows(fs: Seq[FileStatus]): Long = fs.map(ParquetFiles.rowCount(_, conf)).sum

  override def endOffsets: Map[Int, Long] = Map(0 -> rows(files))

  /** Single execution: snapshot the data files, append, and count the
    * footer rows of the files the append added. A count()-then-write
    * would run the (possibly non-deterministic) transformer twice and
    * could report a count that differs from the rows actually
    * persisted. Appended part files carry the write job's unique id in
    * their names, so "new" is decided by name.
    */
  override def write(records: Dataset[KafkaRecord]): Long = {
    val before = files.map(_.getPath.getName).toSet
    records.toDF().write.mode("append").parquet(dir)
    rows(files.filterNot(f => before(f.getPath.getName)))
  }
}

/** Metadata-only parquet reads, no Spark job: shared by the dumper and the sink. */
object ParquetFiles {

  /** The data files of a parquet directory as Spark's file index sees
    * them: `_*` (`_SUCCESS`, `_temporary`) and `.*` (checksums) names
    * are skipped. A missing directory has none.
    */
  def dataFiles(dir: String, conf: Configuration): Seq[FileStatus] = {
    val p = new HPath(dir)
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Row count from the parquet footer (metadata-only read). */
  def rowCount(file: FileStatus, conf: Configuration): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try r.getRecordCount finally r.close()
  }
}
