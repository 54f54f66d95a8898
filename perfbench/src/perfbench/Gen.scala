package perfbench

import graft.pipeline.DumpState
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generator. Every record is a pure function of
  * (seed, partition, offset), so the same seed always yields the same
  * topic and a different seed a different one. The program under test
  * only ever sees what this produces.
  */
object Gen {

  /** A Kafka-like topic: partition p holds offsets [begin(p), end(p)). */
  final case class Topic(seed: Long, begin: Map[Int, Long], end: Map[Int, Long],
                         valueBytes: Int)

  /** Partition length weights. A seeded permutation assigns them, so
    * the shortest partitions (below 1/P of the total) change place
    * with the seed but always exist: tail-N per partition is uneven.
    */
  private val Skew = Seq(0.2, 0.45, 0.7, 0.9, 1.1, 1.3, 1.5, 1.85)

  def topic(seed: Long, records: Long, valueBytes: Int): Topic = {
    val rnd = new scala.util.Random(seed)
    val weights = rnd.shuffle(Skew).map(_ * (0.97 + 0.06 * rnd.nextDouble()))
    val scale = records / weights.sum
    val lens = weights.map(w => math.max(1L, (w * scale).toLong))
    // retention has already trimmed each partition: begin offsets > 0
    val begins = Skew.indices.map(_ => (rnd.nextInt(1000000) + 1).toLong)
    val parts = Skew.indices
    Topic(seed, parts.map(p => p -> begins(p)).toMap,
          parts.map(p => p -> (begins(p) + lens(p))).toMap, valueBytes)
  }

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Fixed-width ASCII key `pppp-oooooooooooo`, parseable in SQL. */
  def key(p: Int, o: Long): Array[Byte] =
    f"$p%04d-$o%012d".getBytes("US-ASCII")

  private val Syllables = Array("ka", "fe", "to", "pi", "ru", "mo", "sel", "dar",
    "ne", "vo", "lin", "qua", "ste", "bor", "ix", "um")

  /** 512 pseudo-words; picking them with a skewed distribution makes
    * values compress like natural text (somewhat, not trivially).
    */
  private val Words: Array[String] = Array.tabulate(512) { i =>
    val h = mix(i.toLong)
    (0 until 2 + (i % 3)).map(j => Syllables(((h >>> (4 * j)) & 15).toInt)).mkString
  }

  /** Exactly `bytes` bytes of text: the record id, then skewed words. */
  def value(seed: Long, p: Int, o: Long, bytes: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(bytes + 16)
    sb.append(p).append(':').append(o)
    var h = mix(seed ^ mix(p.toLong * 1000003L + o))
    while (sb.length < bytes) {
      h = mix(h)
      val u = (h >>> 11).toDouble / (1L << 53).toDouble
      sb.append(' ').append(Words((u * u * u * Words.length).toInt))
    }
    sb.setLength(bytes)
    sb.toString.getBytes("US-ASCII")
  }

  /** The topic as a (key, value, partition, offset) DataFrame. */
  def topicDF(spark: SparkSession, t: Topic): DataFrame = {
    import spark.implicits._
    val parts = t.begin.keys.toSeq.sorted
    spark.sparkContext.parallelize(parts, parts.size).flatMap { p =>
      (t.begin(p) until t.end(p)).iterator
        .map(o => (key(p, o), value(t.seed, p, o, t.valueBytes), p, o))
    }.toDF("key", "value", "partition", "offset")
  }

  /** `n` prior reload states of `topic`, all dated before any state a
    * run saves, over a mix of older dump ids and transformers.
    */
  def stateHistory(seed: Long, topic: String, n: Int): Iterator[DumpState] = {
    val rnd = new scala.util.Random(mix(seed ^ 0x57A7EL))
    val t0 = 1600000000L
    Iterator.tabulate(n) { i =>
      DumpState(
        dump_id = f"${20200101000000L + i * 37L}%014d",
        topic_name = topic,
        offsets = (0 until 1 + rnd.nextInt(8))
          .map(p => p.toString -> rnd.nextInt(50000000).toLong).toMap,
        dump_date = t0 + i * 60L + rnd.nextInt(60),
        transformer_id = if (rnd.nextInt(4) == 0) "Double" else "Identity")
    }
  }
}
