package graft

import org.apache.spark.sql.SparkSession

/** Shared session boot for the corpus mains (GenCorpus, CellStats):
  * one place for the env-driven width and the nanos-timestamp legacy
  * conf, so a config fix cannot land in one of them but not the other.
  */
private[graft] object GenSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }
}
