package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-curve harness: turns the 100 TB scaling ARGUMENTS into
  * MEASUREMENTS. For each heavy operator it times the query at three
  * corpus sizes — sf0.01, sf0.1 and a generated ~sf1 (10× sf0.1) — and
  * fits the growth exponent e in t ∝ n^e between the two largest
  * scales (the smaller pair is fixed-DAG-cost dominated, which would
  * flatter the exponent). Sub-quadratic e is the claim under test: a
  * prefix/LSH dedup that silently degenerates to all-pairs shows up
  * here as e → 2 long before a cluster burns a day on it.
  *
  * The ~sf1 corpus is REPLICATION WITH DISJOINT STRUCTURE, modelling
  * how a real corpus grows (new content, longer history) rather than
  * bit-identical duplication (which would quadratically inflate every
  * dedup op by construction and measure the generator, not the plan).
  * Scheme v2 (schemeVersion below; r10 de-vacuolation — the v1 scheme
  * left fixed-search-term and planted-structure queries 0-row at the
  * replicated scales):
  *  - documents: copy 0 is BYTE-IDENTICAL to the source (planted
  *    markers and fixed search terms survive), copies c>0 suffix every
  *    word with the copy id — shingle vocabularies stay disjoint
  *    across copies, so near-dup pairs exist only within a copy and
  *    candidate structure is copy-local;
  *  - events: each copy shifts into its own disjoint time range (+1 h
  *    gap) with shifted user/event ids — constant event density and
  *    per-user stream shape, so interval windows and as-of chains
  *    never span copies;
  *  - embeddings: copy 0 byte-identical; copies c>0 get an ISOMETRIC
  *    per-copy sign relabeling of the vector dimensions — within-copy
  *    cosines (and so each copy's neighborhood structure) are exactly
  *    preserved while cross-copy neighborhoods decorrelate, the
  *    density growth an ANN index sees without bit-identical planted
  *    ties.
  *
  * Writes SCALECURVE.json (committed to the repo); ScaleCurveSpec
  * asserts the fitted exponents from that artifact.
  */
object ScaleCurve {

  private val copies = GenCorpus.copies("sf1")

  /** Root of the source corpora (sf0.001, sf0.01, sf0.1). */
  private[graft] def testdata: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")

  /** Directory of a generated rung ("sf1", "sf3", "sf10", ...):
    * `SPARK_GRAFT_SF<n>_DIR`, or else `target/scalecurve/<rung>`.
    */
  private[graft] def rungDir(rung: String): String =
    sys.env.getOrElse(s"SPARK_GRAFT_${rung.toUpperCase}_DIR",
      s"target/scalecurve/$rung")

  /** Structure-preserving disjoint replication at an arbitrary copy
    * count (see object scaladoc). `tables` selects which tables the
    * target scale needs — the deep sf3/sf10 corpora only serve the
    * documents/events ops, so they skip embeddings.
    */
  /** Replication-scheme version, written INTO the skip markers: a
    * marker that only says "done" cannot tell a pre-r10 corpus (all
    * copies word-suffixed, embedding copies bit-identical) from the
    * current scheme, so a generator change would silently reuse stale
    * data with exactly the degenerate properties the change removed
    * (the r9 vacuous-gate failure). A version mismatch regenerates.
    */
  private[graft] val schemeVersion =
    "v2: copy-0 byte-identical; embedding copies isometric sign-relabeled"

  /** TPC-H replication scheme version (r10 advice: genTpchScaled's
    * bare-existence marker had the exact stale-reuse failure mode the
    * versioned markers fixed for documents/embeddings — a change to
    * the key strides or nCopies semantics would silently reuse stale
    * replicas in the sf1/sf10 gate dirs).
    */
  private[graft] val tpchSchemeVersion =
    "tpch-v1: per-copy disjoint key strides OK=1e9 CK=PK=1e7 SK=1e6; region/nation unreplicated"

  private def versionedMarkerCurrent(f: java.io.File,
      version: String = schemeVersion): Boolean =
    f.exists() && {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      txt == version || {
        println(s"${f.getPath}: scheme '${txt.take(60)}' != current — regenerating")
        false
      }
    }

  def genScaled(spark: SparkSession, srcDir: String, outDir: String,
                nCopies: Int,
                tables: Set[String] = Set("documents", "embeddings", "events"))
      : Unit = {
    val done = new java.io.File(s"$outDir/_GEN_DONE")
    if (versionedMarkerCurrent(done)) return
    java.nio.file.Files.deleteIfExists(done.toPath)
    new java.io.File(outDir).mkdirs()
    if (tables("documents")) {
      // documents: per-copy word suffix → disjoint shingle vocabularies.
      // ONE scan + a copy-id explode, not an nCopies-way union: plan
      // size and analysis cost stay O(1) in nCopies (the sf100 corpus
      // is 1000 copies — a 1000-leaf union tree is a driver stall),
      // and the repartition right after the explode spreads the
      // suffixing regexp and the write across the cluster instead of
      // leaving the ×nCopies fan-out inside the source's few scan
      // tasks.
      //
      // Copy 0 keeps the ORIGINAL text byte-identical (r9 verdict #3:
      // suffixing every copy — including copy 0 — broke fixed-search-
      // term and planted-structure queries at the replicated scales,
      // so t19's BM25 terms and n16's bitext pairs matched nothing and
      // their sf10 gate rows were exact-but-vacuous empties). The
      // disjointness invariant is unchanged: unsuffixed words never
      // collide with "<word>c<N>" suffixed ones, so shingle
      // vocabularies stay copy-local and per-copy candidate structure
      // is identical (each copy is still a per-word bijective
      // relabeling of the source).
      val docs = graft.sources.Tables.table(spark, srcDir, "documents")
      docs
        .withColumn("c", explode(sequence(lit(0), lit(nCopies - 1))))
        .repartition(col("doc_id"), col("c"))
        .select(
          (col("doc_id") + col("c").cast("long") * 10000000L).as("doc_id"),
          when(col("c") === 0, col("text"))
            .otherwise(
              regexp_replace(col("text"), lit("(\\S+)"),
                             concat(lit("$1c"), col("c").cast("string"))))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
                col("n_chars"))
        .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }
    if (tables("embeddings")) genEmbeddings(spark, srcDir, outDir, nCopies)
    if (tables("events")) genEvents(spark, srcDir, outDir, nCopies)
    java.nio.file.Files.write(done.toPath, schemeVersion.getBytes("UTF-8"))
    ()
  }

  /** events replication, own marker so it can COMPLETE a corpus that
    * was generated with a table subset (the genEmbeddings precedent:
    * sf30 was documents-only and its _GEN_DONE guard would otherwise
    * refuse the extension). ts is written as an int64 nanos column
    * (Tables.events div-1000s it on read; tools/check.py normalizes
    * the DuckDB view); source corpora have shipped ts as
    * TIMESTAMP(NANOS) (read as a long via the legacy conf) and as
    * plain TIMESTAMP(MICROS) — normalize either to epoch-nanos first.
    * Copies occupy disjoint time ranges so densities stay constant.
    */
  def genEvents(spark: SparkSession, srcDir: String, outDir: String,
                nCopies: Int): Unit = {
    val done = new java.io.File(s"$outDir/_EVENTS_DONE")
    if (versionedMarkerCurrent(done)) return
    java.nio.file.Files.deleteIfExists(done.toPath)
    new java.io.File(outDir).mkdirs()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev0 = graft.sources.Tables.table(spark, srcDir, "events")
    val ev = ev0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => ev0
      case _ => ev0.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
    val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
    val span = mm.getLong(1) - mm.getLong(0) + 3600000000000L // +1 h gap
    (0 until nCopies).map { c =>
      ev.select(
        (col("event_id") + lit(c.toLong * 1000000000L)).as("event_id"),
        (col("ts") + lit(c.toLong * span)).as("ts"),
        (col("user_id") + lit(c.toLong * 100000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    java.nio.file.Files.write(done.toPath, schemeVersion.getBytes("UTF-8"))
    ()
  }

  /** embeddings replication: id shift + a per-copy ISOMETRIC sign
    * relabeling of the vector space (copy 0 byte-identical). Copy
    * c > 0 multiplies dimension i by the deterministic sign
    * 1 − 2·(murmur3(c, i) mod 2) — a diagonal ±1 matrix is
    * orthogonal, so every WITHIN-copy cosine/dot/distance is exactly
    * preserved (float sign flips are exact) while CROSS-copy
    * similarities decorrelate: neighborhoods stay copy-local, the
    * embedding analog of the documents table's disjoint word
    * suffixes. The r9 scheme copied vectors UNCHANGED, and 100 exact
    * duplicates of every point saturated each top-k neighborhood
    * with equal sims — n16's CSLS margin then collapsed to exactly
    * 1.0 corpus-wide and its sf10 gate row passed vacuously empty
    * (the margin criterion doing its job on a degenerate corpus, but
    * a gate row that proved nothing). Explode-based like documents,
    * not an nCopies-way union (plan stays O(1) in nCopies). Public so
    * GenCorpus can complete a deep corpus that was generated
    * documents/events-only.
    */
  def genEmbeddings(spark: SparkSession, srcDir: String, outDir: String,
                    nCopies: Int): Unit = {
    val emb = graft.sources.Tables.table(spark, srcDir, "embeddings")
    emb
      .withColumn("c", explode(sequence(lit(0), lit(nCopies - 1))))
      .repartition(col("vec_id"), col("c"))
      .select((col("vec_id") + col("c").cast("long") * 10000000L).as("vec_id"),
              when(col("c") === 0, col("embedding"))
                .otherwise(expr(
                  "transform(embedding, (x, i) -> " +
                    "x * cast(1 - 2 * pmod(hash(c, i), 2) as float))"))
                .as("embedding"),
              col("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // scheme-versioned completion marker (see schemeVersion scaladoc);
    // callers check this, not bare directory existence
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/_EMB_DONE"),
      schemeVersion.getBytes("UTF-8"))
    ()
  }

  /** True iff `outDir` holds a COMPLETE embeddings table generated
    * under the CURRENT replication scheme (committer _SUCCESS AND the
    * version-carrying _EMB_DONE marker agree).
    */
  private[graft] def embeddingsCurrent(outDir: String): Boolean =
    new java.io.File(s"$outDir/embeddings.parquet/_SUCCESS").exists() &&
      versionedMarkerCurrent(new java.io.File(s"$outDir/_EMB_DONE"))

  def genSf1(spark: SparkSession, srcDir: String, outDir: String): Unit =
    genScaled(spark, srcDir, outDir, copies)

  /** FK-consistent replication of the five keyed TPC-H tables (region/
    * nation are dimension roots and copy unchanged), so the FULL
    * 151-query oracle surface can run at ~sf1: every copy shifts its
    * order/cust/part/supp keys by a per-copy stride large enough that
    * key spaces stay disjoint, and every foreign key shifts by the SAME
    * stride as its referenced primary key — each copy is a closed,
    * internally consistent TPC-H world (join fan-outs, date
    * distributions and per-copy aggregates identical to the source).
    * Shifted keys widen int32 → int64; Spark and the DuckDB oracle read
    * the same files, so the compare stays type-consistent.
    */
  def genTpchScaled(spark: SparkSession, srcDir: String, outDir: String,
                    nCopies: Int): Unit = {
    val done = new java.io.File(s"$outDir/_GEN_TPCH_DONE")
    if (versionedMarkerCurrent(done, tpchSchemeVersion)) return
    java.nio.file.Files.deleteIfExists(done.toPath)
    new java.io.File(outDir).mkdirs()
    val OK = 1000000000L // order keys
    val CK = 10000000L   // customer keys
    val PK = 10000000L   // part keys
    val SK = 1000000L    // supplier keys
    def t(n: String) = graft.sources.Tables.table(spark, srcDir, n)
    def rep(df: org.apache.spark.sql.DataFrame,
            shifts: (String, Long)*) =
      (0 until nCopies).map { c =>
        shifts.foldLeft(df) { case (d, (name, st)) =>
          d.withColumn(name, col(name) + lit(c.toLong * st))
        }
      }.reduce(_ unionAll _)
    for (dim <- Seq("region", "nation"))
      t(dim).write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
    rep(t("customer"), "c_custkey" -> CK)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    rep(t("supplier"), "s_suppkey" -> SK)
      .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
    rep(t("part"), "p_partkey" -> PK)
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")
    rep(t("orders"), "o_orderkey" -> OK, "o_custkey" -> CK)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    rep(t("lineitem"), "l_orderkey" -> OK, "l_partkey" -> PK,
        "l_suppkey" -> SK)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    java.nio.file.Files.write(done.toPath,
      tpchSchemeVersion.getBytes("UTF-8"))
    ()
  }

  // op → the table whose row count is the op's n; q13 (the composed
  // union+window as-of) rides along so the native q19's advantage is
  // measured ACROSS scales, not just at one point
  private val ops = Seq(
    "d8_prefix_join" -> "documents",
    "d9_dup_clusters" -> "documents",
    "d10_curate_canonical" -> "documents",
    "d11_decontaminate" -> "documents",
    "d12_chunk_dedup" -> "documents",
    "t14_corpus_pipeline" -> "documents",
    // round-5 continuation: the corpus-trained bigram LM is the
    // heaviest new text op (explode + two hash aggs + model join)
    "t17_bigram_lm" -> "documents",
    // round-6: character-window boilerplate detection — the heaviest
    // new corpus-shaped op (a window-hash row per 16 chars of text)
    "d17_substring_dedup" -> "documents",
    // round-7: the nearest-duplicate report re-blocked onto d8's
    // prefix-filtered candidates — the curve proves the re-block
    // actually removed the old (lang, source, len_band) N² term
    "d22_best_match" -> "documents",
    "n5_ivf_kmeans" -> "embeddings",
    "q13_join_asof" -> "events",
    "q19_asof_native" -> "events",
    "q24_interval_join" -> "events")

  /** Ops whose round-4 sf0.1→sf1 fits were FIXED-COST fits (exponents
    * 0.05–0.17, one negative under load): at ≤ sf1 their wall-time is
    * scheduling overhead, so the data term is invisible and the fit
    * proves "not quadratic here", not "linear at 100×". These get a
    * deeper curve — sf1 / sf3 / sf10 (10×/30×/100× sf0.1) — pushing
    * the corpus until the largest two scales differ enough in wall
    * time for the growth term to dominate the fit.
    */
  private val deepOps = Seq(
    "d9_dup_clusters" -> "documents",
    "d10_curate_canonical" -> "documents",
    "t14_corpus_pipeline" -> "documents",
    "q24_interval_join" -> "events",
    // d8's shallow fit already has the data term dominant (0.54,
    // wall 2.2→7.4 s over sf0.1→sf1) — it rides the deep series
    // because it is the TOP BENCH RESIDENT: the decade fit is the
    // direct answer to "how does the heaviest op scale at 300×"
    "d8_prefix_join" -> "documents",
    // d22 rides d8's candidate machinery plus a per-doc argmax window
    // — the deep fit is the direct evidence its round-7 re-block
    // scales like d8 and not like its old fixed-cardinality blocking
    "d22_best_match" -> "documents")

  /** min-of-2 timer WITH the per-measurement block sweep Bench.scala
    * learned in round 5: the iterative ops (d9/d10 run EARLY in the
    * deep series) localCheckpoint per iteration, and without an
    * unpersist those blocks accumulate across every (op, scale)
    * measurement — block-manager/GC pressure then inflates LATE
    * measurements. d8@sf30 (the last deep point) read 112 s inside the
    * polluted r6 session vs 75.9 s in a fresh JVM — the entire
    * "1.22 decade exponent" watch item was this harness leak, not the
    * query (stage profile at both scales shows zero spill and ~2.6×
    * executor time for 3× data).
    */
  private def time2(spark: SparkSession)(body: => Unit): Double = {
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    def one(): Double = {
      // every curve point measures the COLD computation: the
      // dup-membership and link-graph artifact memos (production
      // reuse, see Dedup.dupMembership / Graph.edgeList) would
      // otherwise make d10/d20/d21 ride d9's materialized clusters
      // and flatten their curves
      graft.operators.Dedup.clearMaterialized()
      graft.operators.Graph.clearMaterialized()
      val t0 = System.nanoTime(); body
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = false)
      }
      dt
    }
    // Adaptive third pass: a min can only be polluted UP, but a host
    // burst spanning BOTH passes of one point still lands in the
    // artifact (seen r8: a d22 sf3 point 2.3x its sf10 neighbor). When
    // the two passes disagree by >25% the measurement is demonstrably
    // noisy, so buy one more sample before trusting the min.
    val a = one(); val b = one()
    val m = math.min(a, b)
    if (math.max(a, b) / math.max(m, 1e-9) > 1.25) math.min(one(), m) else m
  }

  private def exponent(n1: Long, v1: Double, n2: Long, v2: Double): Double =
    math.log(math.max(v2, 1e-9) / math.max(v1, 1e-9)) /
      math.log(n2.toDouble / n1.toDouble)

  // Locale.ROOT: f"" uses the default locale, which would emit comma
  // decimals (invalid JSON) on non-dot-decimal JVMs
  private def fmt(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  /** Ops whose deep entries are OWNED by the fresh-JVM-per-point
    * tooling (tools/deep_profile.sh + tools/patch_deepcurve.py): a
    * full regen carries their committed entries over instead of
    * re-measuring in-session, and patchDeep refuses them. d8/d22
    * since r8 (top-decade exponents); t14 since r11 — its in-session
    * sf30 point read 12.2 s (exp 1.22) in the r11 regen session while
    * fresh JVMs read 16.0/8.4 at sf30/sf10 (exp 0.59): in-session
    * warm-state asymmetry across scales distorts the fit for this op,
    * so its ladder (now sf1..sf100) keeps the isolated methodology.
    */
  private val deepestOps =
    Set("d8_prefix_join", "d22_best_match", "t14_corpus_pipeline")

  /** Brace-balanced extraction of the `"key":{...}` entry starting at
    * or after `from`. A regex cannot carry this: the entries nest
    * objects (series points) and their shape evolves (the r8 deep
    * entries gained methodology/exec_s/exp_exec_top2 fields), so shape
    * -pinned patterns silently stop matching exactly when the entry
    * matters most.
    */
  private def extractEntry(json: String, key: String,
                           from: Int = 0): Option[String] = {
    val i = json.indexOf("\"" + key + "\":{", from)
    if (i < 0) None
    else {
      var depth = 0
      var j = json.indexOf('{', i)
      var end = -1
      // brace counting must skip string literals: a methodology/note
      // field containing '{' or '}' would otherwise unbalance the scan
      var inStr = false
      var esc = false
      while (end < 0) {
        require(j < json.length,
          s"""unbalanced braces extracting "$key" — truncated artifact?""")
        val ch = json.charAt(j)
        if (inStr) {
          if (esc) esc = false
          else if (ch == '\\') esc = true
          else if (ch == '"') inStr = false
        } else ch match {
          case '"' => inStr = true
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) end = j
          case _ =>
        }
        j += 1
      }
      Some(json.substring(i, end + 1))
    }
  }

  /** Keys of the immediate members of a `{...}` object literal —
    * brace-depth walk, string-aware (same discipline as extractEntry).
    * Used to enumerate the committed deep_ops entries so a full regen
    * carries over EVERY fresh-JVM entry it does not re-measure, not
    * just a hardcoded list (r10 added d16/x22 entries via the patch
    * tool; a full regen that only carried deepestOps would silently
    * drop them).
    */
  private[graft] def topLevelKeys(objJson: String): Seq[String] = {
    val keys = scala.collection.mutable.ListBuffer.empty[String]
    var depth = 0
    var i = objJson.indexOf('{')
    var inStr = false
    var esc = false
    var strStart = -1
    while (i >= 0 && i < objJson.length) {
      val ch = objJson.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (ch == '\\') esc = true
        else if (ch == '"') {
          inStr = false
          // a depth-1 string followed by ':' is a member key
          if (depth == 1 && i + 1 < objJson.length &&
              objJson.charAt(i + 1) == ':')
            keys += objJson.substring(strStart + 1, i)
        }
      } else ch match {
        case '"' => inStr = true; strStart = i
        case '{' => depth += 1
        case '}' => depth -= 1
        case _ =>
      }
      i += 1
    }
    keys.toList
  }

  /** Re-measure ONLY the named deep-series ops and splice their
    * entries into the existing artifact. This is the recovery path
    * when a host burst pollutes individual points of the ~40-minute
    * full curve: the adaptive third pass in time2 bounds per-point
    * noise, and this mode re-pays only the affected ops instead of
    * the whole curve. Selected via SPARK_GRAFT_CURVE_PATCH_DEEP
    * (comma-separated op names); corpora must already exist.
    */
  private def patchDeep(spark: SparkSession, out: String,
                        opsSel: Seq[String], deepScales: Seq[(String, String)],
                        gen100: String, sf100On: Boolean): Unit = {
    val tableFor = deepOps.toMap
    val path = java.nio.file.Paths.get(out)
    var json = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    opsSel.foreach { op =>
      // d8/d22 deep points are owned by the fresh-JVM-per-point
      // methodology (in-session walls for these ops are bimodal,
      // 1.5-4x between contexts — ROUND8_NOTES) and their entries
      // carry exec_s/spill/methodology fields this splice does not
      // produce. An in-session re-measure here would both mis-measure
      // and strip that evidence.
      require(!deepestOps(op),
        s"$op: use tools/deep_profile.sh + tools/patch_deepcurve.py " +
          "(fresh-JVM-per-point), not PATCH_DEEP — in-session walls " +
          "for this op are bimodal and the splice would drop the " +
          "exec_s/methodology fields")
      val table = tableFor.getOrElse(op,
        sys.error(s"$op is not a deep-series op"))
      val scalesFor =
        if (sf100On && deepestOps(op)) deepScales :+ ("sf100" -> gen100)
        else deepScales
      val pts = scalesFor.map { case (sfName, dir) =>
        val n = graft.sources.Tables.table(spark, dir, table).count()
        val sec = time2(spark) {
          // toRdd, not count(): see Bench.scala (count-rewrite join elimination)
          SparkEntry.queries(op)(spark, dir).queryExecution.toRdd.count(); () }
        println(s"[deep] $op $sfName: ${fmt(sec)} s")
        (sfName, n, sec)
      }
      val Seq(p1, p2) = pts.takeRight(2)
      val e = exponent(p1._2, p1._3, p2._2, p2._3)
      val ratio = p2._3 / math.max(p1._3, 1e-9)
      val ser = pts.map { case (sf, n, sec) =>
        s"""{"sf":"$sf","n":$n,"sec":${fmt(sec)}}""" }.mkString("[", ",", "]")
      val entry = s""""$op":{"table":"$table","series":$ser,""" +
        s""""exp_top2":${fmt(e)},"wall_ratio_top2":${fmt(ratio)}}"""
      // only deep entries carry exp_top2, so the pattern cannot hit
      // the shallow series entry for the same op
      val pat = ("\"" + op + "\":\\{\"table\":\"[a-z]+\",\"series\":" +
        "\\[[^\\]]*\\],\"exp_top2\":[-0-9.]+," +
        "\"wall_ratio_top2\":[-0-9.]+\\}").r
      require(pat.findFirstIn(json).isDefined, s"no deep entry for $op in $out")
      json = pat.replaceFirstIn(json,
        java.util.regex.Matcher.quoteReplacement(entry))
    }
    java.nio.file.Files.write(path, json.getBytes("UTF-8"))
    println(json.substring(json.indexOf("\"deep_ops\"")))
  }

  def main(args: Array[String]): Unit = {
    val base = testdata
    val gen = rungDir("sf1")
    val out = sys.env.getOrElse("SPARK_GRAFT_CURVE_OUT",
      "/root/repo/SCALECURVE.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // partitions == cores, the Bench methodology this harness extends
      .config("spark.sql.shuffle.partitions", cpus)
      // implicit exchanges start at the INITIAL width and AQE only
      // coalesces down; with the 32 default, EnsureRequirements-created
      // exchanges (join sides) at sf30+ carried 4-17 GB per 32
      // reducers and spilled through their SMJ sorts. High initial +
      // AQE coalescing is the cluster deployment shape; at small
      // scales AQE coalesces back toward core count (parallelismFirst
      // stays at Spark's default TRUE, see below), so the small-SF
      // data term is unaffected.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
              "1024")
      // 16 MB advisory: output-expanding stages (see QueryProfile's
      // note) get width headroom their read-sized AQE estimate misses
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB")
      // parallelismFirst stays at Spark's default TRUE here (Bench sets
      // it false to cut small-scale noise): with false, AQE holds
      // per-reducer bytes at the advisory size, so as the corpus grows
      // the reducer COUNT grows while per-reducer wall stays flat —
      // idle cores absorb the data term and a growth fit reads ~0
      // (measured: q24 flat at ~10 s from sf3 to sf30). Pinning the
      // parallelism floor at core count puts the data term back into
      // wall-time, which is what the curve exists to measure.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // events.parquet is TIMESTAMP(NANOS): the legacy conf must be set
    // before ANY events read in this session (row counts below read the
    // raw table), not just inside genSf1 (skipped when _GEN_DONE exists)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(1000).selectExpr("sum(id)").collect() // JVM warmup
    val patchSel = sys.env.get("SPARK_GRAFT_CURVE_PATCH_DEEP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    if (patchSel.isDefined) {
      patchDeep(spark, out, patchSel.get,
        Seq("sf1", "sf3", "sf10", "sf30").map(r => r -> rungDir(r)),
        rungDir("sf100"),
        sys.env.getOrElse("SPARK_GRAFT_SF100", "1") != "0")
      spark.stop(); return
    }
    // SHALLOW_ONLY: re-measure just the sf0.01/sf0.1/sf1 series and
    // splice, preserving the committed deep_ops/d8_candidates sections
    // (which may carry the more expensive fresh-JVM methodology) — the
    // recovery path when the shallow phase of a full run absorbed
    // concurrent-build noise.
    val shallowOnly = sys.env.get("SPARK_GRAFT_CURVE_SHALLOW_ONLY")
      .contains("1")
    genSf1(spark, s"$base/sf0.1", gen)
    val scales = Seq("sf0.01" -> s"$base/sf0.01", "sf0.1" -> s"$base/sf0.1",
                     "sf1" -> gen)
    val nRows: Map[(String, String), Long] = (for {
      (sfName, dir) <- scales
      t <- Seq("documents", "embeddings", "events")
    } yield (sfName, t) ->
        graft.sources.Tables.table(spark, dir, t).count()).toMap
    val series = ops.map { case (op, table) =>
      val fn = SparkEntry.queries(op)
      val pts = scales.map { case (sfName, dir) =>
        val sec = time2(spark) {
          fn(spark, dir).queryExecution.toRdd.count(); () } // toRdd: see Bench.scala
        (sfName, nRows((sfName, table)), sec)
      }
      (op, table, pts)
    }
    val opJson = series.map { case (op, table, pts) =>
      val e = exponent(pts(1)._2, pts(1)._3, pts(2)._2, pts(2)._3)
      val ser = pts.map { case (sf, n, sec) =>
        s"""{"sf":"$sf","n":$n,"sec":${fmt(sec)}}""" }.mkString("[", ",", "]")
      s""""$op":{"table":"$table","series":$ser,"exp_sf01_sf1":${fmt(e)}}"""
    }.mkString(",")
    if (shallowOnly) {
      val path = java.nio.file.Paths.get(out)
      val old = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val keepFrom = old.indexOf("\"d8_candidates\"")
      require(keepFrom >= 0, s"no d8_candidates section in $out")
      val json = s"""{"copies":$copies,"ops":{$opJson},""" +
        old.substring(keepFrom)
      java.nio.file.Files.write(path, json.getBytes("UTF-8"))
      println(json)
      spark.stop(); return
    }
    // The committed artifact carries sections this run does NOT
    // re-measure (the d8/d22 fresh-JVM deep entries and the CandCount
    // extension of d8_candidates): read it up front so a routine full
    // regen PRESERVES that evidence instead of silently reverting it
    // to the weaker in-session / shallow-only form (the r8 ADVICE
    // medium finding).
    val oldArtifact: Option[String] = {
      val p = java.nio.file.Paths.get(out)
      if (java.nio.file.Files.exists(p))
        Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else None
    }
    // d8 candidate-count curve: the direct sub-quadratic evidence (no
    // timer noise) — candidates must grow ≈ linearly in this corpus.
    // This run re-measures the shallow scales (deterministic counts —
    // they change only when the algorithm changes); points BEYOND sf1
    // are owned by the CandCount main (run per deep corpus, spliced by
    // hand or tool) and are carried over from the committed artifact.
    val candShallow = scales.map { case (sfName, dir) =>
      val b = graft.operators.Dedup.d8Build(spark, dir)
      val c = graft.operators.Dedup.d8Candidates(b._1, b._3).count()
      (sfName, nRows((sfName, "documents")), c)
    }
    val shallowSfs = scales.map(_._1).toSet
    val candDeep: Seq[(String, Long, Long)] = oldArtifact.toSeq.flatMap { o =>
      extractEntry(o, "d8_candidates").toSeq.flatMap { e =>
        """\{"sf":"([^"]+)","n":([0-9]+),"candidates":([0-9]+)\}""".r
          .findAllMatchIn(e)
          .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong))
          .filterNot(p => shallowSfs(p._1)).toSeq
      }
    }
    val candAll = candShallow ++ candDeep
    // exponent on the LARGEST adjacent pair of the merged series (the
    // r8 artifact's value was hand-edited under the old, now-mislabeled
    // exp_sf01_sf1 name; the generator owns the computation again)
    val Seq(cp1, cp2) = candAll.takeRight(2)
    val candExp = exponent(cp1._2, cp1._3.toDouble, cp2._2, cp2._3.toDouble)
    val candJson = candAll.map { case (sf, n, c) =>
      s"""{"sf":"$sf","n":$n,"candidates":$c}""" }.mkString("[", ",", "]")
    val candNote = "shallow points re-measured by ScaleCurve full runs; " +
      "deeper points produced by the CandCount main per deep corpus and " +
      "preserved across regens; exp_top2 fits the largest adjacent pair"
    // ---- deep curve: sf1 / sf3 / sf10 for the fixed-cost-dominated ops
    val gen3 = rungDir("sf3")
    val gen10 = rungDir("sf10")
    val gen30 = rungDir("sf30")
    val deepTables = Set("documents", "events")
    genScaled(spark, s"$base/sf0.1", gen3, 30, deepTables)
    genScaled(spark, s"$base/sf0.1", gen10, GenCorpus.copies("sf10"),
      deepTables)
    // sf30 (300x sf0.1): q24/d10 are still partly fixed-cost-bound at
    // sf10 (measured sf3->sf10 wall ratios 1.1-2.2), so the fit pair
    // moves up another 3x to where the data term is unambiguous
    genScaled(spark, s"$base/sf0.1", gen30, GenCorpus.copies("sf30"),
      deepTables)
    // sf100 (1000x sf0.1, ~5M docs): ONLY d8/d22 climb this far —
    // they are the two ops whose sf10→sf30 exponents sit at ~1.0
    // rather than clearly below it, so "survives 100×" for them
    // deserves a measured 3.3× decade on top of sf30 instead of an
    // extrapolation. Documents-only: both ops read nothing else.
    // SPARK_GRAFT_SF100=0 skips (quick artifact refreshes).
    val gen100 = rungDir("sf100")
    val sf100On = sys.env.getOrElse("SPARK_GRAFT_SF100", "1") != "0"
    if (sf100On)
      genScaled(spark, s"$base/sf0.1", gen100, GenCorpus.copies("sf100"),
        Set("documents"))
    val deepScales = Seq("sf1" -> gen, "sf3" -> gen3, "sf10" -> gen10,
                         "sf30" -> gen30)
    val deepN: Map[(String, String), Long] = (for {
      (sfName, dir) <- deepScales
      t <- deepTables.toSeq
    } yield (sfName, t) ->
        graft.sources.Tables.table(spark, dir, t).count()).toMap
    // d8/d22 are EXCLUDED from in-session deep measurement: their
    // committed entries are fresh-JVM-per-point (tools/deep_profile.sh
    // + tools/patch_deepcurve.py — in-session walls for them swing
    // 1.5-4x between contexts) and carry exec_s/spill/methodology
    // fields this loop does not produce. A full regen preserves those
    // entries verbatim; regenerating THEM means re-running the tools.
    val deepSeries = deepOps.filterNot(o => deepestOps(o._1))
      .map { case (op, table) =>
        val fn = SparkEntry.queries(op)
        val pts = deepScales.map { case (sfName, dir) =>
          val sec = time2(spark) {
          fn(spark, dir).queryExecution.toRdd.count(); () } // toRdd: see Bench.scala
          println(s"[deep] $op $sfName: ${fmt(sec)} s")
          (sfName, deepN((sfName, table)), sec)
        }
        (op, table, pts)
      }
    val deepJson = (deepSeries.map { case (op, table, pts) =>
      // fit between the two LARGEST scales; also record the wall
      // ratio — the "data term dominates" evidence the shallow curve
      // lacked (ratio ≈ 1 would mean still fixed-cost-bound)
      val Seq(p1, p2) = pts.takeRight(2)
      val e = exponent(p1._2, p1._3, p2._2, p2._3)
      val ratio = p2._3 / math.max(p1._3, 1e-9)
      val ser = pts.map { case (sf, n, sec) =>
        s"""{"sf":"$sf","n":$n,"sec":${fmt(sec)}}""" }.mkString("[", ",", "]")
      s""""$op":{"table":"$table","series":$ser,""" +
      s""""exp_top2":${fmt(e)},"wall_ratio_top2":${fmt(ratio)}}"""
    } ++ {
      // carry over EVERY committed deep entry this run did not
      // re-measure (the fresh-JVM-per-point entries: deepestOps plus
      // any op the patch tool added — d16/x22 in r10). deepestOps are
      // REQUIRED to exist; extra entries are preserved as found.
      val measured = deepSeries.map(_._1).toSet
      val committed: Map[String, String] = oldArtifact.toSeq.flatMap { o =>
        // a missing deep_ops section means "no committed deep entry"
        // — indexOf's -1 would restart the search at 0 and silently
        // splice the SHALLOW ops entry for the same op instead
        val at = o.indexOf("\"deep_ops\"")
        if (at < 0) Nil
        else extractEntry(o, "deep_ops", at).toSeq.flatMap { section =>
          topLevelKeys(section).flatMap(k =>
            extractEntry(section, k).map(k -> _))
        }
      }.toMap
      deepestOps.foreach { op =>
        require(committed.contains(op),
          s"no committed deep entry for $op in $out — its points come " +
          "from tools/deep_profile.sh + tools/patch_deepcurve.py " +
          "(fresh-JVM-per-point); run those against the generated deep " +
          "corpora")
      }
      committed.keys.toSeq.sorted
        .filterNot(measured)
        .map(committed)
    }).mkString(",")
    val json =
      s"""{"copies":$copies,"scheme":"$schemeVersion",""" +
      s""""ops":{$opJson},""" +
      s""""d8_candidates":{"series":$candJson,"exp_top2":${fmt(candExp)},""" +
      s""""note":"$candNote"},""" +
      s""""deep_ops":{$deepJson}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
