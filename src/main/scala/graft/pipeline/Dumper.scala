package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dump side of the pipeline (kafka_client.py:207-257): records →
  * size-bounded gzip Parquet files under <dest>/<dumpId>/ with the
  * reference's deterministic names `{dumpId}-{cumulative:015d}.parquet`
  * and its positional `"0"`(key)/`"1"`(value) binary schema
  * (FIXTURES.md A2), so lexicographic file sort == record order.
  *
  * Scale shape: ONE distributed write job. Records are range-
  * partitioned and sorted on (partition, offset) so part files come
  * out in global order, `maxRecordsPerFile` bounds file size, and a
  * driver-side O(#files) rename pass applies the cumulative naming
  * (parquet footers give row counts without data reads — SURVEY.md §7
  * hard-part 1). No per-row driver work at any scale.
  */
class Dumper(spark: SparkSession) {

  /** @param records   DataFrame with `key`,`value` binary columns plus
    *                   ordering columns (default: partition, offset)
    * @param maxPerFile max rows per parquet file (reference -m flag)
    * @return file names in order
    */
  def dump(
      records: DataFrame,
      destDir: String,
      dumpId: String,
      maxPerFile: Int,
      orderCols: Seq[String] = Seq("partition", "offset")): Seq[String] =
    writeOrdered(records, orderCols.map(col),
      Seq(col("key").as("0"), col("value").as("1")),
      s"$destDir/$dumpId", dumpId, maxPerFile)

  /** Compact a dump's small files into at-most-`maxPerFile`-row files,
    * preserving both catalog invariants (lexicographic file order ==
    * record order; cumulative `%015d` naming). Order is recovered from
    * the SPLIT-SAFE `_metadata` columns (file_path, row_index): they
    * stay correct even when one input file spans several scan splits —
    * which compact's own output can (maxPerFile up to 1M rows vs the
    * 128 MB default split), so a re-compaction must not rely on
    * `input_file_name + monotonically_increasing_id`, whose ordering
    * holds only within a task. CompactionSpec re-compacts under a
    * 64 KB split size to pin this. The rewrite is a distributed job;
    * the swap is a driver-side O(#files) rename (compaction is an
    * offline maintenance op, run it when no reader races the swap).
    *
    * Crash safety: the new files are staged in a hidden tmp dir, the
    * old dump is renamed ASIDE (visible `<dumpId>.old`), the tmp
    * renamed into place, and only then the old copy deleted — at every
    * instant either `<dumpId>` or `<dumpId>.old` holds a complete dump
    * at a discoverable path (recovery = one rename), instead of the
    * data vanishing into a hidden tmp on a crash between delete and
    * rename.
    *
    * The 100 TB point: a long-running dumper accumulates
    * files-per-trigger small files; compaction bounds file count (and
    * thus listing and task-scheduling overhead for every later read)
    * without breaking the reload contract.
    */
  def compact(destDir: String, dumpId: String, maxPerFile: Int): Seq[String] = {
    val dir = s"$destDir/$dumpId"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val df = spark.read.parquet(dir)
      .select(col("0"), col("1"),
              col("_metadata.file_path").as("__f"),
              col("_metadata.row_index").as("__i"))
    val tmp = s"$destDir/.$dumpId-compacting"
    fs.delete(new HPath(tmp), true)
    val names = writeOrdered(df, Seq(col("__f"), col("__i")),
      Seq(col("0"), col("1")), tmp, dumpId, maxPerFile)
    val old = new HPath(s"$dir.old")
    fs.delete(old, true)
    if (!fs.rename(new HPath(dir), old))
      throw new java.io.IOException(s"rename failed: $dir -> $old")
    if (!fs.rename(new HPath(tmp), new HPath(dir))) {
      fs.rename(old, new HPath(dir)) // restore the old dump
      throw new java.io.IOException(s"rename failed: $tmp -> $dir")
    }
    fs.delete(old, true)
    names
  }

  /** The one dump file writer: range-partition and sort on `order`,
    * project `cols`, write gzip Parquet in files of at most `maxPerFile`
    * rows, then apply the cumulative naming. Every dump file, fresh or
    * compacted, is written here.
    */
  private def writeOrdered(df: DataFrame, order: Seq[Column],
      cols: Seq[Column], out: String, dumpId: String,
      maxPerFile: Int): Seq[String] = {
    val n = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    df.repartitionByRange(n, order: _*).sortWithinPartitions(order: _*)
      .select(cols: _*)
      .write.mode("overwrite")
      .option("compression", "gzip")
      .option("maxRecordsPerFile", maxPerFile.toLong)
      .parquet(out)
    renameToCumulative(out, dumpId)
  }

  /** Rename part-* files (lexicographic = global row order after the
    * range partition + sort) to `{dumpId}-{cumulative:015d}.parquet`.
    */
  private def renameToCumulative(dir: String, dumpId: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val parts = fs.listStatus(new HPath(dir))
      .filter(f => f.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    var cumulative = 0L
    val names = for (f <- parts) yield {
      val name = f"$dumpId-$cumulative%015d.parquet"
      val rows = ParquetFiles.rowCount(f, conf)
      // FileSystem.rename reports failure by RETURNING false, not
      // throwing — a silently-kept part-* name would corrupt the
      // lexicographic-order contract
      if (!fs.rename(f.getPath, new HPath(dir, name)))
        throw new java.io.IOException(s"rename failed: ${f.getPath} -> $dir/$name")
      cumulative += rows
      name
    }
    names.toSeq
  }
}
