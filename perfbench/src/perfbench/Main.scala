package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir> <corpusDir> [spansOut]
  *   Main fingerprint <seed>
  *   Main pin <workDir> <corpusDir>
  *
  * Prints one JSON object as its last stdout line: the checks' verdict,
  * operations attempted and failed, set-up times, repetition times, and
  * the median over repetitions of every per-layer value.
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "fingerprint" :: seed :: Nil => println(fingerprint(seed.toLong))
    case "pin" :: work :: corpus :: Nil =>
      val spark = QueryMix.session(work)
      try QueryMix.pin(spark, corpus) finally spark.stop()
    case workload :: seed :: seconds :: trace :: work :: corpus :: rest =>
      run(workload, seed.toLong, seconds.toInt, trace == "1", work, corpus, rest.headOption)
    case _ =>
      System.err.println("usage: Main <workload> <seed> <seconds> <trace> <work> <corpus> [spans]")
      sys.exit(2)
  }

  def run(workload: String, seed: Long, seconds: Int, traced: Boolean, work: String,
          corpus: String, spansOut: Option[String]): Unit = {
    val spark =
      if (workload == "query_mix") QueryMix.session(work) else Pipeline.session(work)
    val tr = new Tracer(spark, traced)
    try {
      val out = workload match {
        case "dump_reload" => Workloads.dumpReload(spark, tr, work, seed, seconds)
        case "reload_cycles" => Workloads.reloadCycles(spark, tr, work, seed, seconds)
        case "query_mix" => QueryMix.run(spark, tr, corpus, seed, seconds)
        case other => sys.error(s"unknown workload '$other'")
      }
      val (ops, values) = out.reps.flatMap(_.keys).distinct.sorted.map { k =>
        k -> Workloads.median(out.reps.flatMap(_.get(k)))
      }.partition(_._1.startsWith("op:"))
      // a repetition's time, and its median taken call by call: each
      // call's median over the repetitions, summed. A burst of host
      // noise that slows one call of one repetition moves it less than
      // the median of whole repetitions.
      val repS = out.reps.map(_.collect { case (k, v) if k.startsWith("op:") => v }.sum).sorted
      val repP50 = ops.map(_._2).sum
      System.err.println(s"[perfbench] repetition seconds: ${repS.mkString(" ")}")
      val layers = values ++ Seq("reps" -> repS.size.toDouble,
        "rep_s_p75" -> repS.lift(math.ceil(0.75 * repS.size).toInt - 1).getOrElse(Double.NaN))
      val fields = Seq(
        "correct" -> (out.failed == 0 && out.reps.nonEmpty).toString,
        "attempted" -> out.attempted.toString,
        "failed" -> out.failed.toString,
        "reps" -> out.reps.size.toString,
        "setup_s" -> num(Workloads.median(out.setupS)),
        "rep_s_p50" -> num(repP50),
        "heap_live_peak_mb" -> num(out.heapPeakMb),
        "layers" -> layers.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}"))
      spansOut.foreach(p => writeSpans(tr, p))
      println(fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    } finally {
      tr.stop()
      Workloads.phase("stop")(spark.stop())
    }
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** One JSON line per span, with the Spark work attributed to it alone. */
  private def writeSpans(tr: Tracer, path: String): Unit = {
    val lines = tr.spans.map { s =>
      val a = tr.spark(s.id)
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":$attrs,""" +
        s""""jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
        s""""job_ms":${a.jobMs},"result_stage_ms":${a.resultStageMs},""" +
        s""""cpu_ns":${a.cpuNs},"shuffle_write_bytes":${a.shuffleWrite},""" +
        s""""spill_bytes":${a.spill},"records_read":${a.recordsRead},""" +
        s""""output_bytes":${a.outBytes}}"""
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** Digests of the generated inputs of one seed, without Spark: the
    * dump_reload topic, its per-partition tail-N yield, one
    * reload_cycles topic and the state history.
    */
  def fingerprint(seed: Long): String = {
    def digest(chunks: Iterator[Array[Byte]]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      chunks.foreach(md.update)
      md.digest().map("%02x".format(_)).mkString
    }
    def records(t: Gen.Topic) = t.begin.keys.toSeq.sorted.iterator.flatMap { p =>
      (t.begin(p) until t.end(p)).iterator
        .flatMap(o => Iterator(Gen.key(p, o), Gen.value(t.seed, p, o, t.valueBytes)))
    }
    val t = Gen.topic(seed, Workloads.TopicRecords, Workloads.ValueBytes)
    val (targets, _) = graft.pipeline.OffsetPlanner.tailN(t.begin, t.end, Workloads.TailN)
    val parts = t.begin.keys.toSeq.sorted
    def obj(f: Int => Long) = parts.map(p => s""""$p":${f(p)}""").mkString("{", ",", "}")
    val cycle = Workloads.cycleTopic(seed, 0)
    val history = Gen.stateHistory(seed, Workloads.CycleTopic, Workloads.HistoryStates)
      .map(s => (s.toJson + "\n").getBytes(UTF_8))
    s"""{"topic":"${digest(records(t))}","lengths":${obj(p => t.end(p) - t.begin(p))},""" +
      s""""tail_rows":${obj(p => t.end(p) - targets(p))},"per_partition_n":""" +
      s"""${graft.pipeline.OffsetPlanner.ceilDiv(Workloads.TailN, parts.size)},""" +
      s""""cycle":"${digest(records(cycle))}","history":"${digest(history)}"}"""
  }
}
