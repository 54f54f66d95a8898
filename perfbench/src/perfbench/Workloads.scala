package perfbench

import graft.pipeline._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** What one workload run measured. `reps` holds one map of per-layer
  * values per repetition of the closed loop, each with the wall time of
  * every top-level call under "op:<span name>" (see `RepSpans.ops`).
  */
final case class Outcome(setupS: Seq[Double], reps: Seq[Map[String, Double]],
                         attempted: Int, failed: Int, heapPeakMb: Double)

/** Counts operations and the ones that threw or failed a check. */
final class Ops {
  var attempted = 0
  var failed = 0

  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** One repetition of `n` operations; if it throws, every operation
    * of the repetition not already failed counts as failed.
    */
  def rep(n: Int)(body: => Unit): Unit = {
    attempted += n
    val before = failed
    try body
    catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] repetition failed: $e")
        e.printStackTrace()
        failed = before + n
    }
    failed = math.min(failed, before + n)
  }
}

/** Span lookups over the spans of one repetition. */
final class RepSpans(tr: Tracer, val spans: Seq[Span]) {
  private val byId = spans.map(s => s.id -> s).toMap

  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def one(name: String): Span = named(name).head

  def under(root: Span): Seq[Span] = spans.filter { s =>
    var p = s.parent
    while (p >= 0 && p != root.id) p = byId.get(p).fold(-1)(_.parent)
    p == root.id
  }

  /** Spark work of `root` and every span under it. */
  def spark(root: Span): SparkAcc = sum(root +: under(root))

  def sum(ss: Seq[Span]): SparkAcc = {
    val t = new SparkAcc
    ss.map(s => tr.spark(s.id)).foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks
      t.jobMs += a.jobMs; t.resultStageMs += a.resultStageMs
      t.cpuNs += a.cpuNs; t.shuffleWrite += a.shuffleWrite; t.spill += a.spill
      t.recordsRead += a.recordsRead; t.outBytes += a.outBytes
    }
    t
  }

  /** Wall time of each call the repetition made from its top level,
    * summed by span name, under "op:<name>".
    */
  def ops: Map[String, Double] = spans.filterNot(s => byId.contains(s.parent))
    .groupMapReduce(s => s"op:${s.name}")(_.seconds)(_ + _)

  /** Totals over the whole repetition. */
  def sparkTotals: Map[String, Double] = {
    val a = sum(spans)
    Map("spark.jobs" -> a.jobs.toDouble, "spark.stages" -> a.stages.toDouble,
        "spark.tasks" -> a.tasks.toDouble, "spark.task_cpu_s" -> a.cpuNs / 1e9,
        "spark.spill_bytes" -> a.spill.toDouble)
  }
}

object Workloads {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `rep` at least `minReps` times, then again while another
    * repetition as long as the last one still ends within `seconds`.
    */
  def loop(seconds: Int, minReps: Int)(rep: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 0
    var last = 0.0
    while (r < minReps || elapsed + last <= seconds) {
      val start = elapsed
      rep(r)
      last = elapsed - start
      r += 1
    }
  }

  /** Runs `body` and logs its wall time on stderr. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Spans recorded while `body` ran. */
  private def recording(tr: Tracer)(body: => Unit): RepSpans = {
    val from = tr.spans.size
    body
    new RepSpans(tr, tr.spans.drop(from).toSeq)
  }

  // ---- dump_reload ----------------------------------------------------
  // The data path does most of the work: the dumper's range shuffle and
  // gzip encode, the reloader's scan and sort, and the sink write.
  val TopicRecords = 80000L
  val TailN = 40000L
  val ValueBytes = 200
  val DumpPerFile = 1600
  val CompactPerFile = 10000

  def dumpReload(spark: SparkSession, tr: Tracer, work: String, seed: Long,
                 seconds: Int): Outcome = {
    val t = Gen.topic(seed, TopicRecords, ValueBytes)
    var topic = Gen.topicDF(spark, t)
    val setup = phase("set-up")((0 until 3).map { _ =>
      topic.unpersist(blocking = true)
      topic = Gen.topicDF(spark, t)
      timed { topic.cache(); topic.count() }
    })
    val root = s"$work/dumps"
    val store = new TracedStore(s"$work/state", tr)
    val reloader = new Reloader(spark, store)
    val dumper = new Dumper(spark)
    val ops = new Ops
    val reps = mutable.ArrayBuffer.empty[Map[String, Double]]

    def rep(r: Int, n: Long): Map[String, Double] = {
      val dumpId = f"${20261017000000L + r}%014d"
      val dir = s"$root/$dumpId"
      var values = Map.empty[String, Double]
      val rs = recording(tr) {
        ops.rep(6) {
          val d = Pipeline.dumpTail(spark, tr, topic, t, n, root, dumpId, DumpPerFile)
          val dumpBytes = Pipeline.dirBytes(spark, dir)
          val hash = Pipeline.checkDump(spark, root, d) match {
            case Left(msg) => ops.fail(msg); BigDecimal(-1)
            case Right(h) => h
          }
          val compacted = tr.span("dumper.compact") {
            val names = dumper.compact(root, dumpId, CompactPerFile)
            tr.attr("files_out", names.size.toDouble)
            names
          }
          Pipeline.checkDump(spark, root, d.copy(files = compacted)) match {
            case Left(msg) => ops.fail(s"compact: $msg")
            case Right(h) => ops.check(h == hash, s"compact changed the hash of $dumpId")
          }
          val compactBytes = Pipeline.dirBytes(spark, dir)
          val identitySink = s"$work/sinks/identity-$r"
          val doubleSink = s"$work/sinks/double-$r"
          val identity = tr.span("reload")(reloader.reload(s"identity-$r", dir, dumpId,
            new IdentityTransformer, new TracedSink(spark, identitySink, tr)))
          ops.check(identity match { case Reloaded(n, _) => n == d.available; case _ => false },
            s"identity reload returned $identity, expected ${d.available} rows")
          ops.check(Pipeline.sinkDigest(spark, identitySink) == (d.available -> hash),
            "identity sink differs from the dump")
          val fanout = tr.span("reload.fanout")(reloader.reload(s"double-$r", dir, dumpId,
            new DoubleTransformer, new TracedSink(spark, doubleSink, tr)))
          ops.check(fanout match { case Reloaded(n, _) => n == 2 * d.available; case _ => false },
            s"1->2 reload returned $fanout, expected ${2 * d.available} rows")
          val hot = tr.span("reload.hot")(reloader.reload(s"double-$r", dir, dumpId,
            new DoubleTransformer, new TracedSink(spark, doubleSink, tr)))
          val saved = fanout match { case Reloaded(_, s) => Some(s.offsets); case _ => None }
          ops.check(saved.contains(Map("0" -> 0L)) && hot == HotReload(Map("0" -> 0L)),
            s"hot reload returned $hot, saved state offsets $saved")
          // after the hot reload, so it also shows that no rows moved
          ops.check(Pipeline.sinkDigest(spark, doubleSink) == (2 * d.available -> 2 * hash),
            "1->2 sink is not the dump twice")
          values = Map("rows" -> d.available.toDouble, "dump_bytes" -> dumpBytes.toDouble,
                       "compact_bytes" -> compactBytes.toDouble,
                       "files_in" -> d.files.size.toDouble)
          Seq(dir, identitySink, doubleSink).foreach(Pipeline.delete(spark, _))
        }
      }
      if (values.isEmpty) Map.empty else dumpReloadLayers(rs, values)
    }

    // warm-up on a tenth of the data, not measured: the first Spark
    // jobs, codegen and the JIT
    phase("warm-up")(rep(-1, TailN / 10))
    val heap = Pipeline.liveHeapMb()
    phase("measured")(loop(seconds, minReps = 3)(r => reps += rep(r, TailN)))
    topic.unpersist(blocking = true)
    Outcome(setup, reps.filter(_.nonEmpty).toSeq, ops.attempted, ops.failed,
            math.max(heap, Pipeline.liveHeapMb()))
  }

  private def dumpReloadLayers(rs: RepSpans, v: Map[String, Double]): Map[String, Double] = {
    val rows = v("rows")
    val compact = rs.one("dumper.compact")
    val compactSpark = rs.spark(compact)
    val fanout = rs.one("reload.fanout")
    Map(
      "compact.s" -> compact.seconds,
      "compact.job_s" -> compactSpark.jobMs / 1e3,
      "compact.driver_s" -> (compact.seconds - compactSpark.jobMs / 1e3),
      "compact.files_in" -> v("files_in"),
      "compact.files_out" -> compact.attrs("files_out"),
      "compact.rows_per_s" -> rows / compact.seconds,
      "reloader.rows_out" -> 2 * rows,
      "reloader.fanout_rows_per_s" -> 2 * rows / fanout.seconds,
      "stored_bytes_per_user_byte" -> v("dump_bytes") / (rows * (17 + ValueBytes))
    ) ++ dumpLayers(rs, rows, v("dump_bytes")) ++
      reloadLayers(rs, rows, v("compact_bytes")) ++ rs.sparkTotals ++ rs.ops
  }

  /** Layers of the tail-N dump: planner and dumper. */
  private def dumpLayers(rs: RepSpans, rows: Double, bytes: Double): Map[String, Double] = {
    val dump = rs.one("dumper.dump")
    val a = rs.spark(dump)
    Map(
      "planner.tail_n_ms" -> rs.one("planner.tail_n").seconds * 1e3,
      "dumper.dump_s" -> dump.seconds,
      "dumper.job_s" -> a.jobMs / 1e3,
      "dumper.driver_s" -> (dump.seconds - a.jobMs / 1e3),
      "dumper.files_out" -> dump.attrs("files_out"),
      "dumper.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
      "dumper.bytes_out" -> bytes,
      "dumper.task_cpu_s" -> a.cpuNs / 1e9,
      "dumper.rows_per_s" -> rows / dump.seconds)
  }

  /** Layers of the producing reload ("reload") and of the hot one:
    * reloader, sink and state store. The sink's write job also runs the
    * reloader's scan, sort and transform, so the reloader's time is the
    * reload's wall time less the state store's and the end-offset scans.
    */
  private def reloadLayers(rs: RepSpans, rows: Double, inputBytes: Double)
      : Map[String, Double] = {
    val reload = rs.one("reload")
    val inReload = rs.under(reload)
    val write = inReload.find(_.name == "sink.write").get
    val offsets = inReload.filter(_.name == "sink.end_offsets")
    val state = inReload.filter(_.name.startsWith("state."))
    val self = rs.sum(Seq(reload, write))
    val lookups = rs.named("state.latest_matching")
    Map(
      "reloader.read_transform_s" ->
        (reload.seconds - (offsets ++ state).map(_.seconds).sum),
      "reloader.shuffle_write_bytes" -> self.shuffleWrite.toDouble,
      "reloader.shuffle_bytes_per_input_byte" -> self.shuffleWrite / inputBytes,
      "reloader.task_cpu_s" -> self.cpuNs / 1e9,
      "reloader.rows_in" -> rows,
      "reloader.rows_per_s" -> rows / reload.seconds,
      "sink.end_offsets_s" -> offsets.map(_.seconds).sum,
      "sink.end_offsets_calls" -> offsets.size.toDouble,
      "sink.rows_scanned_per_row_written" -> rs.sum(offsets).recordsRead / rows,
      "sink.write_s" -> self.resultStageMs / 1e3,
      "sink.bytes_out" -> self.outBytes.toDouble,
      "state.latest_matching_ms" -> median(lookups.map(_.seconds * 1e3)),
      "state.lines_read" -> median(lookups.map(_.attrs.getOrElse("lines", 0.0))),
      "state.save_ms" -> median(rs.named("state.save").map(_.seconds * 1e3)),
      "reload.hot_ms" -> rs.one("reload.hot").seconds * 1e3)
  }

  // ---- reload_cycles --------------------------------------------------
  // Fixed per-call costs dominate: the sink's end-offset count jobs over
  // a growing sink, the catalog listing, the state-file scan and the
  // dumper's driver-side renames. Each cycle's data is small.
  val CycleTopic = "cycles"
  val CycleRecords = 32000L
  val CycleN = 25000L
  val CycleValueBytes = 80
  val CyclePerFile = 5000
  val HistoryStates = 20000

  def cycleTopic(seed: Long, cycle: Int): Gen.Topic =
    Gen.topic(Gen.mix(seed) + cycle, CycleRecords, CycleValueBytes)

  /** The seeded state history, in FileStateStore's one-JSON-per-line file. */
  private def writeHistory(dir: String, seed: Long): Unit = {
    val p = java.nio.file.Paths.get(dir, s"$CycleTopic.state.jsonl")
    java.nio.file.Files.createDirectories(p.getParent)
    val w = java.nio.file.Files.newBufferedWriter(p)
    try Gen.stateHistory(seed, CycleTopic, HistoryStates).foreach(s => w.write(s.toJson + "\n"))
    finally w.close()
  }

  def reloadCycles(spark: SparkSession, tr: Tracer, work: String, seed: Long,
                   seconds: Int): Outcome = {
    val stateDir = s"$work/state"
    val setup = phase("set-up")((0 until 3).map { _ =>
      timed {
        writeHistory(stateDir, seed)
        require(new FileStateStore(stateDir).states(CycleTopic).size == HistoryStates)
      }
    })
    val root = s"$work/dumps"
    val sinkDir = s"$work/sink"
    val catalog = new DumpCatalog(root, spark.sparkContext.hadoopConfiguration)
    val reloader = new Reloader(spark, new TracedStore(stateDir, tr))
    val admin = new RecordingAdmin
    val ops = new Ops
    val reps = mutable.ArrayBuffer.empty[Map[String, Double]]
    var sinkRows = 0L
    var sinkHash = BigDecimal(0)

    def cycle(c: Int, n: Long): Map[String, Double] = {
      val t = cycleTopic(seed, c)
      val topic = Gen.topicDF(spark, t).cache()
      topic.count()
      val dumpId = f"${20261017000000L + c}%014d"
      var values = Map.empty[String, Double]
      val rs = recording(tr) {
        ops.rep(5) {
          val sink = new TracedSink(spark, sinkDir, tr)
          val d = Pipeline.dumpTail(spark, tr, topic, t, n, root, dumpId, CyclePerFile)
          val latest = tr.span("catalog.latest")(catalog.latestDumpId())
          val id = latest.getOrElse(dumpId)
          val produced = tr.span("reload")(reloader.reload(
            CycleTopic, catalog.dumpPath(id), id, new IdentityTransformer, sink))
          val hot = tr.span("reload.hot")(reloader.reload(
            CycleTopic, catalog.dumpPath(id), id, new IdentityTransformer, sink))
          val reset = tr.span("group_reset")(
            GroupReset.applyIfHot(admin, "perfbench", CycleTopic, hot))
          Pipeline.checkDump(spark, root, d) match {
            case Left(msg) => ops.fail(msg)
            case Right(h) => sinkHash += h
          }
          ops.check(latest.contains(dumpId), s"latestDumpId is $latest, expected $dumpId")
          val before = Map("0" -> sinkRows)
          ops.check(produced match {
            case Reloaded(n, s) => n == d.available && s.offsets == before && s.dump_id == dumpId
            case _ => false
          }, s"reload of $dumpId returned $produced, expected ${d.available} rows from $before")
          ops.check(hot == HotReload(before), s"hot reload of $dumpId returned $hot")
          val request = Map((CycleTopic, 0) -> sinkRows)
          ops.check(reset.contains(request) &&
            admin.requests.lastOption.contains("perfbench" -> request),
            s"group reset applied $reset, expected $request")
          sinkRows += d.available
          values = Map("rows" -> d.available.toDouble,
            "dump_bytes" -> Pipeline.dirBytes(spark, s"$root/$dumpId").toDouble,
            "catalog.dumps_listed" -> catalog.dumpIds().size.toDouble)
        }
      }
      topic.unpersist(blocking = true)
      if (values.isEmpty) Map.empty else {
        val rows = values("rows")
        Map("catalog.latest_ms" -> rs.one("catalog.latest").seconds * 1e3,
            "catalog.dumps_listed" -> values("catalog.dumps_listed"),
            "group_reset.ms" -> rs.one("group_reset").seconds * 1e3) ++
          dumpLayers(rs, rows, values("dump_bytes")) ++
          reloadLayers(rs, rows, values("dump_bytes")) ++ rs.sparkTotals ++ rs.ops
      }
    }

    // warm-up on a fifth of the data, not measured: the first Spark
    // jobs, codegen and the JIT
    phase("warm-up")(cycle(-1, CycleN / 5))
    val heap = Pipeline.liveHeapMb()
    phase("measured")(loop(seconds, minReps = 5)(c => reps += cycle(c, CycleN)))
    ops.rep(1) {
      ops.check(Pipeline.sinkDigest(spark, sinkDir) == (sinkRows -> sinkHash),
        "the growing sink is not the union of the dumps")
    }
    Outcome(setup, reps.filter(_.nonEmpty).toSeq, ops.attempted, ops.failed,
            math.max(heap, Pipeline.liveHeapMb()))
  }
}
