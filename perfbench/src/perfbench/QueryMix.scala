package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** query_mix: a fixed set of `graft.SparkEntry.queries` over the
  * bundled corpus, executed the way `graft.Bench` executes them, with
  * the pipeline layers idle.
  */
object QueryMix {

  /** Heavy queries with a known suspect: the shared tf/bigram subtree
    * of t8/t17/t19/t24, the prefix filter of d8 and the minhash compare
    * of d16. Then queries from the canonical map's sub-0.3 s floor,
    * where fixed planning and scheduling costs rule.
    */
  val Heavy = Seq("d16_minhash_calibration", "d8_prefix_join", "t8_tfidf",
    "t17_bigram_lm", "t19_bm25", "t24_perplexity_filter")
  val Light = Seq("p1_tail_n", "p2_offset_plan", "q3_project", "a11_listagg")
  val Queries: Seq[String] = Heavy ++ Light

  /** Row count and order-free result hash (see `digest`) of each query
    * on the bundled corpus, pinned from a run whose outputs
    * `tools/check.py` passed against the DuckDB oracle.
    */
  val Expected: Map[String, (Long, String)] = Map(
    "d16_minhash_calibration" -> (4L, "3f6a5ea5d16ed4fd96fa55ab77222afc41cd689821d0fb4fd2cc99423136e99c"),
    "d8_prefix_join" -> (5L, "a74f3a3ea6f356b525ea83e42afc1b8e53c18e9d5f28a73bdda103b477dacdb1"),
    "t8_tfidf" -> (60L, "93cd095ead06cdae64b8bfe0c5d3bd0093114fabc439f38d2000de6669a7797b"),
    "t17_bigram_lm" -> (15L, "414ec430428817d11ac2b68e088942756675edc37713b5779e9e929fcfe34b43"),
    "t19_bm25" -> (10L, "383b7dc6b81cac41c5f0200b5a757103068cf07e2efbcb37f9175b67cc704f70"),
    "t24_perplexity_filter" -> (15L, "84e86b4e06d8749c45d233bf5363686c658fb910541bde21bcfc8a2dfb45dd34"),
    "p1_tail_n" -> (4L, "9a3f2f42a1b4be2ebaddc47638e725c1e6f2771d2c16b953b75d31e456139a08"),
    "p2_offset_plan" -> (4L, "f093d165e308cfe01c7dd69dbf56ecfc92b8c2ca4575c0638ef3a4605c988bbf"),
    "q3_project" -> (705L, "83eff47a28369ab4b5856be23ae595983fa004a79599f0b3ec8c0b43c4f3e243"),
    "a11_listagg" -> (3L, "031ab08c0d6551ef95fc601547229db1efad30d42637e59e7ff4c787809d61fa")
  )

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** The session `graft.Bench` builds, plus local paths kept inside the
    * run's work directory.
    */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The tables `graft.Bench` caches for all queries. */
  private def benchTables(spark: SparkSession, corpus: String): Seq[DataFrame] = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.map(graft.sources.Tables.table(spark, corpus, _))
  }

  /** Row count and an order-free digest of collected result rows:
    * SHA-256 over the sorted rows, each rendered field by field with
    * doubles rounded to 6 places, so the last bits of a float sum
    * cannot flip it.
    */
  def digest(rows: Array[Row]): (Long, String) = {
    def render(v: Any): String = v match {
      case null => "\u2205"
      case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toString
      case f: Float => render(f.toDouble)
      case t: java.sql.Timestamp => s"${t.getTime}/${t.getNanos}"
      case b: Array[Byte] => b.mkString("b[", ",", "]")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def run(spark: SparkSession, tr: Tracer, corpus: String, seed: Long,
          seconds: Int): Outcome = {
    val tables = benchTables(spark, corpus)
    val setup = Workloads.phase("set-up")((0 until 3).map { _ =>
      tables.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      tables.foreach { df => df.cache(); df.count() }
      (System.nanoTime() - t0) / 1e9
    })
    // RDDs persisted now are the table cache; any other persisted RDD
    // is a query's own checkpoint, dropped after the query as Bench does
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val ops = new Ops

    /** Runs each query once, each time through its own physical plan.
      * The cold pass collects each result and checks its digest; a
      * timed pass executes `toRdd.count()`, as Bench does, and checks
      * the row count.
      */
    def pass(order: Seq[String], cold: Boolean): RepSpans = {
      val from = tr.spans.size
      order.foreach { name =>
        ops.rep(1) {
          val fn = graft.SparkEntry.queries(name)
          val pinned = Expected.getOrElse(name, (-1L, ""))
          if (cold) {
            val got = tr.span(s"query.$name.cold")(digest(fn(spark, corpus).collect()))
            ops.check(got == pinned, s"$name digest $got, pinned $pinned")
          } else {
            val df = tr.span(s"query.$name.build")(fn(spark, corpus))
            tr.span(s"query.$name.plan")(df.queryExecution.executedPlan)
            val rows = tr.span(s"query.$name.exec")(df.queryExecution.toRdd.count())
            ops.check(rows == pinned._1, s"$name returned $rows rows, pinned ${pinned._1}")
          }
        }
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!keep.contains(id)) rdd.unpersist(blocking = true)
        }
      }
      new RepSpans(tr, tr.spans.drop(from).toSeq)
    }

    // the cold pass compiles the plan shapes and builds the queries'
    // memoized artifacts once; it is not measured
    Workloads.phase("warm-up")(pass(Queries, cold = true))
    val heap = Pipeline.liveHeapMb()
    val rnd = new scala.util.Random(seed)
    val reps = mutable.ArrayBuffer.empty[Map[String, Double]]
    Workloads.phase("measured")(Workloads.loop(seconds, minReps = 1) { _ =>
      reps += layers(pass(rnd.shuffle(Queries), cold = false))
    })
    tables.foreach(_.unpersist(blocking = true))
    Outcome(setup, reps.toSeq, ops.attempted, ops.failed,
            math.max(heap, Pipeline.liveHeapMb()))
  }

  private def layers(rs: RepSpans): Map[String, Double] = {
    val perQuery = for {
      q <- Queries
      phase <- Seq("build", "plan", "exec")
      s <- rs.named(s"query.$q.$phase")
    } yield s"query.$q.${phase}_s" -> s.seconds
    val families = rs.spans.groupBy(s => s.name.stripPrefix("query.").takeWhile(_.isLetter))
      .toSeq.flatMap { case (f, ss) =>
        val a = rs.sum(ss)
        Seq(s"query.family.$f.task_cpu_s" -> a.cpuNs / 1e9,
            s"query.family.$f.shuffle_bytes" -> a.shuffleWrite.toDouble)
      }
    (perQuery ++ families ++ rs.sparkTotals ++ rs.ops).toMap
  }

  /** Prints `Expected` entries for the bundled corpus. */
  def pin(spark: SparkSession, corpus: String): Unit = {
    benchTables(spark, corpus)
    Queries.foreach { q =>
      val (n, h) = digest(graft.SparkEntry.queries(q)(spark, corpus).collect())
      println(s"""    "$q" -> (${n}L, "$h"),""")
    }
  }
}
