package graft.pipeline

import org.apache.spark.sql.SparkSession

/** CLI surface mirroring the reference's two subcommands (main.py:14-84):
  *
  *   dump   --input <records.parquet> --dest <root> [--dump-id ID]
  *          [--max-per-file N]
  *   reload --dest <root> --topic <t> --sink <dir>
  *          [--dump-id ID | latest] [--transformer FQCN]
  *   explain --query <name> [--sf-dir <dir>]
  *   stream-dump --input <dir> --dest <root> [--dump-id ID]
  *          [--max-per-file N] [--checkpoint DIR]
  *   compact --dest <root> --dump-id ID [--max-per-file N]
  *   pipeline --sf-dir <dir> --dest <root> --sink <dir>
  *          --corpus-out <dir> [--dump-id ID] [--max-per-file N]
  *          [--transformer FQCN]
  *
  * `--input` here is any parquet of (key binary, value binary,
  * partition int, offset long) records — in a brokered deployment the
  * same flow starts from KafkaIO.boundedRead instead (the connector
  * jar is not in this container). `--dry-run` semantics (local files,
  * no upload, kafka_client.py:250-253) are the default: dest is any
  * Hadoop-FS path, s3a:// included.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.drop(1))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[4]"))
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
              sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // stderr task-progress percentages (progress_percentage.py analog)
    val progress = new ProgressListener()
    spark.sparkContext.addSparkListener(progress)
    try run(spark, args.headOption.getOrElse(""), opts)
    finally {
      spark.sparkContext.removeSparkListener(progress)
      spark.stop()
    }
  }

  private[graft] def run(spark: SparkSession, cmd: String, opts: Map[String, String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    cmd match {
      case "dump" =>
        val dumpId = opts.getOrElse("dump-id", DumpCatalog.newDumpId())
        val records = spark.read.parquet(req(opts, "input"))
        val names = new Dumper(spark).dump(
          records, req(opts, "dest"), dumpId,
          opts.getOrElse("max-per-file", "100000").toInt)
        println(s"dumped ${names.size} files under ${req(opts, "dest")}/$dumpId")
        names.foreach(n => println(s"  $n"))

      case "reload" =>
        val root = req(opts, "dest")
        val cat = new DumpCatalog(root, conf)
        val dumpId = opts.get("dump-id").filter(_ != "latest")
          .orElse(cat.latestDumpId())
          .getOrElse(sys.error(s"no dumps under $root"))
        reloadAndReport(spark, opts, req(opts, "topic"), root,
          cat.dumpPath(dumpId), dumpId, req(opts, "sink"))

      case "stream-dump" =>
        // continuous dump: drain the input directory as a stream into
        // the dump-catalog layout (AvailableNow → drains and stops)
        val in = req(opts, "input")
        val dumpId = opts.getOrElse("dump-id", DumpCatalog.newDumpId())
        val q = graft.streaming.Streams.streamingDumpToCatalog(
          spark, spark.read.parquet(in).schema, in,
          req(opts, "dest"), dumpId,
          opts.getOrElse("max-per-file", "100000").toInt,
          opts.getOrElse("checkpoint", s"${req(opts, "dest")}/_checkpoint-$dumpId"))
        q.awaitTermination()
        val cat = new DumpCatalog(req(opts, "dest"), conf)
        val dumps = cat.dumpIds().filter(_.startsWith(dumpId)).sorted
        if (dumps.isEmpty)
          System.err.println(
            s"warning: no dumps produced — --input must be a DIRECTORY of " +
            s"parquet files (file streams don't match single-file paths), " +
            s"and an existing checkpoint means data was already processed")
        dumps.foreach { id =>
          println(s"dump $id: ${cat.dumpFiles(id).size} files")
        }

      case "compact" =>
        // offline maintenance: merge a dump's small files
        val dumpId = req(opts, "dump-id")
        val names = new Dumper(spark).compact(
          req(opts, "dest"), dumpId,
          opts.getOrElse("max-per-file", "1000000").toInt)
        println(s"compacted ${req(opts, "dest")}/$dumpId to ${names.size} files")
        names.foreach(n => println(s"  $n"))

      case "pipeline" =>
        // CAPSTONE: the advertised Kafka→curated-shards flow as ONE
        // command — produce-shaped records of the corpus are dumped in
        // the reference's catalog layout (K1 naming), reloaded through
        // a transformer, decoded back into a corpus, and the near-dup
        // curation (d10) + curation (t14) + epoch-shard (t26) reports
        // run on the result. Every
        // step is a distributed job; the driver only renames files and
        // prints the K-row reports. PipelineE2ESpec pins the whole
        // chain against direct query runs on the source corpus.
        val sfDir = req(opts, "sf-dir")
        val dest = req(opts, "dest")
        val sinkDir = req(opts, "sink")
        val corpusOut = req(opts, "corpus-out")
        val dumpId = opts.getOrElse("dump-id", DumpCatalog.newDumpId())
        val docs = graft.sources.Tables.documents(spark, sfDir)
        val names = new Dumper(spark).dump(
          CorpusCodec.encode(docs), dest, dumpId,
          opts.getOrElse("max-per-file", "100000").toInt)
        println(s"dumped ${names.size} files under $dest/$dumpId")
        reloadAndReport(spark, opts, CorpusCodec.Topic, dest,
          s"$dest/$dumpId", dumpId, sinkDir)
        CorpusCodec.decode(spark.read.parquet(sinkDir))
          .write.mode("overwrite").parquet(s"$corpusOut/documents.parquet")
        // the overwrite above replaces part files under a dir the
        // table memo may already have listed (a re-run with the same
        // --corpus-out) — invalidate before the queries re-read it
        graft.sources.Tables.invalidate(corpusOut)
        // near-dup curation FIRST (the stage a real curation run
        // inserts between decode and packing): LSH-band clusters →
        // canonical member per cluster survives → per-(lang, tier)
        // curated counts. The cluster-membership table materializes
        // once per corpus (Dedup.dupMembership) — the d-report here
        // and any later dedup consumer share that artifact.
        val d10 = graft.SparkEntry.queries("d10_curate_canonical")(spark, corpusOut)
        d10.orderBy("lang", "tier").collect()
          .foreach(r => println(s"  d10 $r"))
        val t14 = graft.SparkEntry.queries("t14_corpus_pipeline")(spark, corpusOut)
        t14.orderBy("source").collect()
          .foreach(r => println(s"  t14 $r"))
        val t26 = graft.SparkEntry.queries("t26_epoch_shuffle")(spark, corpusOut)
        t26.orderBy("shard").collect()
          .foreach(r => println(s"  t26 $r"))

      case "explain" =>
        // explain --query <name> [--sf-dir <dir>]: formatted physical
        // plan of a registered SparkEntry query — the plan-iteration loop
        val name = req(opts, "query")
        val sf = opts.getOrElse("sf-dir", "/root/testdata/sf0.001")
        graft.SparkEntry.queries.get(name) match {
          case Some(fn) => println(fn(spark, sf).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          case None => sys.error(s"unknown query '$name'")
        }

      case other =>
        System.err.println(
          s"unknown command '$other'; expected dump|reload|stream-dump|compact|pipeline|explain")
        sys.exit(2)
    }
  }

  /** Reload one dump into a Parquet sink and print the outcome. The
    * state store defaults to `<dest>/_state` and the transformer to
    * the identity.
    */
  private def reloadAndReport(spark: SparkSession, opts: Map[String, String],
      topic: String, dest: String, dumpDir: String, dumpId: String,
      sinkDir: String): Unit = {
    val store = new FileStateStore(opts.getOrElse("state-dir", s"$dest/_state"))
    val transformer = Transformer.load(
      opts.getOrElse("transformer", classOf[IdentityTransformer].getName))
    new Reloader(spark, store).reload(topic, dumpDir, dumpId, transformer,
        new ParquetRecordSink(spark, sinkDir)) match {
      case HotReload(offsets) =>
        println(s"hot reload: reset consumer group to $offsets (no data moved)")
      case Reloaded(rows, state) =>
        println(s"reloaded $rows rows; state saved: ${state.toJson}")
    }
  }

  private def req(opts: Map[String, String], k: String): String =
    opts.getOrElse(k, sys.error(s"missing required --$k"))

  private def parseArgs(args: Array[String]): Map[String, String] = {
    if (args.length % 2 != 0)
      sys.error(s"flag '${args.last}' is missing a value (flags are --key value pairs)")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case Array(k, _) => sys.error(s"expected a --flag, got '$k'")
    }.toMap
  }
}
