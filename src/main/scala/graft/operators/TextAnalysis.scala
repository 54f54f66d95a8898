package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables._

/** Text analysis for training-data pipelines: language/topic ID,
  * quality scoring, token counting, document fingerprinting.
  * All map-side (no shuffle except the final aggregation) — at 100 TB
  * these run as a single scan pass with whole-stage codegen.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn("ws", expr("split(trim(text), '\\\\s+')"))

  private val sqlDocs =
    "SELECT *, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents"

  /** Marker-profile classifier (the n-gram language-ID shape: score
    * each profile by marker hits, argmax with a fixed tie order). The
    * corpus is synthetic tech text, so profiles are topic profiles;
    * the operator structure is identical to real language ID.
    */
  val t1LangId: Q = (s, d) => {
    val profiles = Seq(
      "article" -> Seq("the", "a"),
      "storage" -> Seq("table", "scan", "merge", "part"),
      "compute" -> Seq("spark", "stream", "batch", "query"),
      "shape"   -> Seq("row", "window", "group", "sort"))
    var df = docs(s, d)
    for ((name, markers) <- profiles) {
      val set = markers.map(m => s"'$m'").mkString(", ")
      df = df.withColumn(s"c_$name",
        expr(s"size(filter(ws, t -> t IN ($set)))"))
    }
    val Seq(a, b, c2, e) = profiles.map(p => col(s"c_${p._1}"))
    df.withColumn("pred",
        when(a >= b && a >= c2 && a >= e, "article")
          .when(b >= c2 && b >= e, "storage")
          .when(c2 >= e, "compute")
          .otherwise("shape"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Quality scoring: length/token/distinct-ratio heuristics → tier. */
  val t2Quality: Q = (s, d) =>
    docs(s, d)
      .withColumn("n_words", size(col("ws")))
      .withColumn("n_distinct", size(array_distinct(col("ws"))))
      .withColumn("len_ok", (col("n_chars") >= 100 && col("n_chars") <= 800).cast("int"))
      .withColumn("diversity_pct",
        floor(col("n_distinct") * 100.0 / col("n_words")).cast("long"))
      .withColumn("tier",
        when(col("len_ok") === 1 && col("diversity_pct") >= 80, "high")
          .when(col("diversity_pct") >= 60, "mid")
          .otherwise("low"))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).cast("long").as("total_words"))

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (word pieces and punctuation as separate tokens) + char count.
    */
  val t3TokenCount: Q = (s, d) =>
    docs(s, d)
      .withColumn("ws_tokens", size(col("ws")))
      .withColumn("bpe_tokens", expr("regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("ws_tokens")).as("sum_ws_tokens"),
           sum(col("bpe_tokens")).as("sum_bpe_tokens"),
           sum(length(col("text"))).as("sum_chars"))

  /** Canonical fingerprint: md5 of the sorted distinct token set —
    * catches reordered/duplicated-word docs. Output: dup clusters.
    */
  val t4Fingerprint: Q = (s, d) =>
    docs(s, d)
      .withColumn("fp", md5(array_join(array_sort(array_distinct(col("ws"))), " ")))
      .groupBy(col("lang"), col("fp"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_clusters"),
           sum(col("n_docs")).as("n_clustered_docs"))

  /** Polynomial rolling hash (Karp-Rabin shape) over the first 64
    * chars: h = fold (h*31 + c) mod p — the incremental-hash primitive
    * behind shingle fingerprinting, computed per doc in one codegen'd
    * fold (no string materialization beyond char codes).
    */
  val t5RollingHash: Q = (s, d) =>
    documents(s, d)
      .withColumn("rh", expr(
        """aggregate(
          |  transform(sequence(1, least(length(text), 64)),
          |            i -> cast(ascii(substring(text, i, 1)) as bigint)),
          |  cast(0 as bigint),
          |  (a, c) -> (a * 31 + c) % 1000000007)""".stripMargin))
      .groupBy((col("rh") % 16).as("rh_bucket"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("rh")).as("n_distinct_hashes"))

  /** End-to-end cleaning pipeline — the composition a training-data
    * run actually executes, as ONE declarative plan: quality gate
    * (length band + lexical diversity) → exact dedup on the content
    * hash (deterministic min-doc_id representative) → per-language
    * corpus stats. One scan, one dedup shuffle on a uniform 128-bit
    * key, one final aggregation: the shape that holds at 100 TB.
    */
  val t6CleanPipeline: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    docs(s, d)
      .withColumn("n_words", size(col("ws")))
      .filter(col("n_chars") >= 100 && col("n_chars") <= 800 &&
              floor(size(array_distinct(col("ws"))) * 100.0 / col("n_words"))
                .cast("long") >= 60)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).cast("long").as("total_words"),
           countDistinct(col("source")).as("n_sources"))
  }

  /** Deterministic train/val/test split (80/10/10) by hashing the
    * document id with a salt — the reproducible-sampling idiom for
    * training pipelines: no RNG, no partitioning dependence, the same
    * doc lands in the same split on any cluster at any scale, and
    * rates are exact in expectation per stratum. (Spark's
    * sample()/sampleBy() seeds are partitioning-dependent, so they
    * cannot be oracle-checked NOR reproduced across layouts.)
    */
  val t7SplitSample: Q = (s, d) =>
    documents(s, d)
      .withColumn("h", expr(
        """cast(conv(substring(md5(concat('split:', cast(doc_id as string))), 1, 8),
          |          16, 10) as bigint) % 100""".stripMargin))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))

  /** TF-IDF term scoring, top-3 terms per document. The idf here is
    * the RAW ratio N/df (monotone in any log-idf): the score is then
    * tf × (N/df) — one IEEE-exact division and one multiplication on
    * exact integer inputs, so both engines produce bit-identical
    * doubles with no transcendental (ln differs in the last ulp
    * across libm implementations and would flake the hash compare).
    * Tokens go through the native 1-gram `shingles` generator.
    *
    * Plan shape at scale: tf = one (doc, term) hash agg; df = one
    * (term) hash agg off the same exploded exchange; N broadcast as a
    * one-row table; the per-doc top-k window is partitioned by doc.
    */
  val t8Tfidf: Q = (s, d) => {
    org.apache.spark.sql.graftnative.GraftNative.install(s)
    import org.apache.spark.sql.expressions.Window
    val toks = documents(s, d)
      .select(col("doc_id"), expr("shingles(lower(text), 1)").as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // r14 (guide §2.3): document frequency is a ROLLUP of the tf
    // grain — distinct (doc_id, term) ≡ one tf row — so it derives
    // from tf instead of a second full explode + corpus-token
    // distinct (one corpus pass fewer; the tf exchange is reused at
    // runtime). Values identical.
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.filter(col("doc_id") < 20)
      .join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * (col("nd").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("score"), col("rnk"))
  }

  /** Domain-balanced MIXTURE SAMPLING (data-mixing reweighting — the
    * "don't let one crawl dominate the mixture" step of assembling a
    * training set): every source slice is deterministically
    * downsampled to the rarest source's size, so the output mixture is
    * uniform over sources. Selection is a pure function of the doc id
    * (md5 threshold in parts-per-million, integer DIV — replayed
    * bit-exactly by the oracle), so the sample is stable across runs,
    * re-partitioning and engines — reproducibility a training pipeline
    * needs and `RAND()`-based sampling can't give.
    *
    * Plan shape at scale: per-source counts are a K-row aggregate
    * (K = #sources); the thresholds broadcast back onto the corpus
    * scan; the filter is map-side — ONE wide pass plus a tiny agg, no
    * shuffle of the corpus itself.
    */
  val t9MixtureSample: Q = (s, d) => {
    val docs = documents(s, d)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val target = counts.agg(min(col("n_src")).as("tgt"))
    val ppm = counts.crossJoin(broadcast(target))
      .withColumn("keep_ppm", expr("CAST(tgt * 1000000 DIV n_src AS BIGINT)"))
      .select(col("source"), col("keep_ppm"))
    docs.join(broadcast(ppm), "source")
      .filter(expr(
        """cast(conv(substring(md5(concat('mix:', cast(doc_id as string))), 1, 8),
          |          16, 10) as bigint) % 1000000""".stripMargin) < col("keep_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc"))
  }

  // PII patterns shared by t10's Spark and oracle sides. Written with
  // character classes only ([.], [0-9]) so the same text is a valid
  // Java regex (Spark) and RE2 regex (DuckDB) with no escape drift.
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  private val phoneRe = "[0-9]{3}-[0-9]{4}"

  /** PII redaction pass: regex-redact emails and phone-shaped numbers,
    * report per-source counts and the redacted corpus size. The
    * synthetic corpus carries no PII, so the query PLANTS deterministic
    * PII (a function of doc_id — no RNG) before scrubbing it: the
    * operator under test is the scrub, and the oracle replays both
    * steps bit-exactly. Map-only (scan → regex → aggregate); at 100 TB
    * this is one codegen'd pass with no shuffle before the K-row
    * per-source aggregate.
    */
  val t10PiiRedact: Q = (s, d) =>
    documents(s, d)
      .withColumn("txt",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"),
                 col("doc_id").cast("string"), lit("@example.com now")))
        .when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" call 555-"),
                 lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(col("text")))
      .withColumn("n_emails", expr(s"regexp_count(txt, '$emailRe')"))
      .withColumn("n_phones", expr(s"regexp_count(txt, '$phoneRe')"))
      .withColumn("red",
        regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
                       phoneRe, "<PHONE>"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_emails")).as("n_emails"),
           sum(col("n_phones")).as("n_phones"),
           sum(when(col("red") =!= col("txt"), 1).otherwise(0))
             .as("n_redacted_docs"),
           sum(length(col("red"))).as("sum_len_redacted"))

  // Shared Gopher-rule repetition metrics (t11 gate + t14 composite —
  // ONE definition so thresholds and formulas cannot drift). Each is a
  // SINGLE-REFERENCE form over the in-row token array: Catalyst pushes
  // filters down by substituting these expressions into the predicate,
  // so a k-reference form gets its (interpreted) lambda inlined k-fold
  // (measured 18 s vs 2 s at sf0.1). The n<2 guard covers single-token
  // docs, where Spark's sequence(1, 0) would auto-reverse and throw.
  // Composed (pre-r14) HOF forms, kept verbatim for TokenStatsSpec's
  // reference computation; the queries now read the native
  // token_stats kernel's fields through the same arithmetic tails.
  private[operators] val topPctExpr =
    "array_max(transform(array_distinct(ws), w -> size(filter(ws, x -> x = w)))) * 100 DIV n"
  private[operators] val dup2PctExpr =
    """if(n < 2, 0L,
      |   ((n - 1) - size(array_distinct(
      |        transform(sequence(1, n - 1),
      |                  i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1))))))
      |     * 100 DIV (n - 1))""".stripMargin
  private val topPctFromStats = "ts.top_cnt * 100 DIV n"
  private val dup2PctFromStats =
    "if(n < 2, 0L, ((n - 1) - ts.dup2_distinct) * 100 DIV (n - 1))"
  private val TopPctMax = 12
  private val Dup2PctMax = 5

  // DuckDB twins of the shared metrics (used by the t11/t14 oracles).
  private val sqlTopPct =
    "list_max(list_transform(list_distinct(ws), w -> length(list_filter(ws, x -> x = w)))) * 100 // length(ws)"
  private val sqlDup2Pct =
    """CASE WHEN length(ws) < 2 THEN 0
      |     ELSE (length(ws) - 1 - length(list_distinct(
      |            list_transform(range(1, length(ws)),
      |                           i -> ws[i] || ' ' || ws[i+1])))) * 100
      |          // (length(ws) - 1) END""".stripMargin

  /** Repetition-based quality filters (the Gopher-rules shape): per
    * doc, the top-word mass fraction and the duplicate-bigram fraction,
    * each as an integer percentage (integer DIV — both engines replay
    * it exactly); docs above either threshold are flagged for removal.
    * Both metrics are higher-order array functions over the in-row
    * token array — pure map-side, no explode, no shuffle until the
    * K-row per-source rollup.
    */
  val t11Repetition: Q = (s, d) =>
    // r14 (guide §4, the d4/SimHash16 lesson): both metrics come from
    // the one-pass native token_stats kernel instead of the
    // O(distinct × n) interpreted HOF forms; the arithmetic on top of
    // the kernel fields is the composed expressions' verbatim tail,
    // so values (and the DuckDB oracle) are unchanged — TokenStatsSpec
    // pins kernel ≡ composed on the real corpus.
    docs(s, d)
      .withColumn("n", size(col("ws")))
      .withColumn("ts", graft.functions.VectorFunctions.tokenStats(col("ws")))
      .withColumn("top_pct", expr(topPctFromStats))
      .withColumn("dup2_pct", expr(dup2PctFromStats))
      .withColumn("flagged",
        (col("top_pct") >= TopPctMax || col("dup2_pct") >= Dup2PctMax).cast("int"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("flagged")).as("n_flagged"),
           sum(col("top_pct")).as("sum_top_pct"),
           sum(col("dup2_pct")).as("sum_dup2_pct"))

  /** Training-sequence packing: assign docs to fixed-capacity (512
    * whitespace-token) training sequences by CUMULATIVE token offset —
    * each doc lands in the sequence where it starts, the deterministic
    * greedy-contiguous packing a dataloader replays. Packing is
    * per-source (the shard unit): a window cumsum ordered by doc_id
    * inside each source partition, then a rollup per sequence. At
    * 100 TB packing is embarrassingly parallel over shards — no global
    * order, no global shuffle; the window sorts only within a shard,
    * exactly how sequence packing runs in production (pack within an
    * input file/shard, never across the corpus).
    */
  val t12SequencePack: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs(s, d)
      .withColumn("n_tok", size(col("ws")))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr("(cum - n_tok) DIV 512"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("seq_tokens"),
           min(col("doc_id")).as("first_doc"))
  }

  /** Fixed-SIZE uniform sample (the reservoir-sampling use case),
    * deterministic: order by a salted content hash of the id and take
    * the first K — a uniform draw without replacement that any engine
    * replays exactly (t7 gives fixed RATES; this gives a fixed COUNT).
    * Plan shape: TakeOrderedAndProject — per-partition top-K then a
    * K-row driver merge, no global sort, no shuffle of the corpus;
    * the scale-safe way to cut a fixed-size eval set from 100 TB.
    */
  val t13UniformSample: Q = (s, d) =>
    documents(s, d)
      .withColumn("hk", md5(concat(lit("samp:"), col("doc_id").cast("string"))))
      .orderBy(col("hk")).limit(100)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))

  /** The assemble-a-training-set pipeline, v2 — t6's clean pipeline
    * extended with this round's operators, as ONE declarative plan:
    * exact dedup (min-doc_id representative per content hash)
    * → repetition gate (t11's top-word / duplicate-bigram thresholds)
    * → quality gate (t2's length band + lexical diversity)
    * → training-sequence packing of the survivors (t12's per-shard
    * cumulative-offset bins) → per-source corpus report.
    *
    * Plan shape at 100 TB: one wide codegen'd scan pass computes every
    * map-side metric and SLIMS the row to ints + the 128-bit hash (the
    * corpus text never rides an exchange); the dedup shuffle is the
    * only corpus-sized exchange; packing windows sort only within a
    * source shard; the report is a K-row rollup.
    *
    * Two deliberate structure choices, both measured at sf0.1:
    * - each interpreted HOF metric is referenced ONCE — Catalyst pushes
    *   filters down by SUBSTITUTING the metric expression into the
    *   predicate, so a k-reference dup2 form gets the lambda inlined
    *   k-fold (18 s vs ~2 s single-reference);
    * - dedup runs BEFORE the metric gates (the other standard pipeline
    *   order): predicates on non-partition columns cannot push through
    *   the window, so the metrics stay computed exactly once in the
    *   pre-shuffle projection instead of being re-inlined into a
    *   pushed-down Filter (5.5 s filter-first vs 0.97 s window-first).
    */
  val t14CorpusPipeline: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val metered = docs(s, d)
      .withColumn("n", size(col("ws")))
      // r14: all three gate metrics from ONE token_stats kernel pass
      // (see t11); previously top/dup2 were O(distinct × n)
      // interpreted HOFs and diversity a separate array_distinct pass
      .withColumn("ts", graft.functions.VectorFunctions.tokenStats(col("ws")))
      .withColumn("top_pct", expr(topPctFromStats))
      .withColumn("dup2_pct", expr(dup2PctFromStats))
      .withColumn("diversity_pct",
        floor(col("ts.distinct_cnt") * 100.0 / col("n")).cast("long"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("n"),
              col("top_pct"), col("dup2_pct"), col("diversity_pct"),
              md5(col("text")).as("h"))
    val wDedup = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val survivors = metered
      .withColumn("rn", row_number().over(wDedup)).filter(col("rn") === 1)
      .filter(col("top_pct") < TopPctMax && col("dup2_pct") < Dup2PctMax)
      .filter(col("n_chars") >= 100 && col("n_chars") <= 800 &&
              col("diversity_pct") >= 60)
    val wPack = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    survivors
      .withColumn("cum", sum(col("n")).over(wPack))
      .withColumn("seq_id", expr("(cum - n) DIV 512"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("seq_id")).as("n_seqs"),
           sum(col("n")).cast("long").as("total_tokens"),
           min(col("doc_id")).as("min_doc"))
  }

  /** Domain filtering — the crawl-pipeline step that drops blocklisted
    * hosts before anything else runs. The synthetic corpus has no URL
    * column, so (as with t10's planted PII) the query synthesizes a
    * deterministic URL per doc, then exercises the REAL machinery:
    * Spark's `parse_url` (HOST / PATH / QUERY-param extraction, a
    * native expression the oracle replays with regexes) and a
    * literal-set host blocklist applied map-side. One codegen'd scan
    * pass, K-row per-host rollup — no shuffle of the corpus.
    */
  val t15DomainFilter: Q = (s, d) => {
    val blocked = Seq("src0.example.com", "src7.example.com",
                      "src13.example.com")
    documents(s, d)
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/docs/"),
               col("doc_id").cast("string"), lit("?ref="), col("lang")))
      .withColumn("host", expr("parse_url(url, 'HOST')"))
      .withColumn("path", expr("parse_url(url, 'PATH')"))
      .withColumn("ref", expr("parse_url(url, 'QUERY', 'ref')"))
      .filter(!col("host").isInCollection(blocked))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("ref")).as("n_refs"),
           min(col("path")).as("first_path"))
  }

  /** Lexical-concentration quality filter — the Simpson/Herfindahl
    * index Σ cnt(w)² over the doc's word counts, reported in basis
    * points of n² (and its reciprocal, the EFFECTIVE VOCABULARY size
    * n²/Σcnt²). This is the integer-exact stand-in for token entropy:
    * both measure mass concentration, but entropy needs a
    * transcendental log (last-ulp divergence across libm
    * implementations would flake the hash gate) while the collision
    * index is pure integer arithmetic both engines replay bit-exactly.
    * Docs above 800 bp (vocabulary collapsed to <12.5 effective words)
    * are flagged — the repetitive-gibberish gate, complementary to
    * t11's positional repetition rules (t11 catches REPEATED RUNS,
    * this catches concentrated UNIGRAM mass regardless of position).
    * Map-only over the in-row token array: no explode, no shuffle
    * before the K-row per-source rollup.
    */
  val t16Concentration: Q = (s, d) =>
    docs(s, d)
      .withColumn("n", size(col("ws")).cast("long"))
      // r14: Σ cnt² from the one-pass token_stats kernel instead of
      // the O(distinct × n) interpreted HOF (see t11; values
      // identical, TokenStatsSpec pins it)
      .withColumn("coll",
        graft.functions.VectorFunctions.tokenStats(col("ws"))
          .getField("coll"))
      .withColumn("conc_bp", expr("coll * 10000 DIV (n * n)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum((col("conc_bp") >= 800).cast("long")).as("n_flagged"),
           sum(col("conc_bp")).as("sum_conc_bp"),
           sum(expr("(n * n) DIV coll")).as("sum_eff_vocab"))

  /** Bigram-LM fluency scoring — the perplexity-proxy quality gate:
    * TRAIN a bigram model on the corpus itself (count(w1,w2) and
    * context count(w1) — two hash aggregations off one exploded bigram
    * stream), then SCORE each doc by the mean conditional probability
    * of its bigrams, in ppm with integer division (a monotone
    * transform of add-nothing-smoothed LM likelihood; no log, so both
    * engines are bit-exact). Low scorers are word salad even when
    * every individual token is in-vocabulary — the signal repetition
    * (t11) and concentration (t16) gates cannot see.
    *
    * Plan shape at 100 TB: the bigram stream is exploded ONCE and
    * feeds both count aggregations; model assembly joins bigram counts
    * to context counts CO-KEYED on w1 (one shuffle of the model, which
    * is vocab²-bounded — far smaller than the corpus); scoring joins
    * the doc stream to the model on (w1, w2) — AQE broadcasts the
    * model side when it measures small, as a real vocabulary would be.
    */
  val t17BigramLm: Q = (s, d) => {
    val bg = docs(s, d)
      .withColumn("n", size(col("ws")))
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(1, n - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("lang"),
              col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bgCnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // r14 optimization (guide §2.3): the context count is a ROLLUP of
    // the bigram counts — count(bg per w1) ≡ Σ_w2 c2 — so it derives
    // from the vocab²-bounded bgCnt table instead of a second full
    // explode + corpus-sized aggregation of the bigram stream (the
    // old plan scanned and exploded the corpus twice before scoring;
    // this removes one corpus pass and replaces its exchange with a
    // vocab²-row one). Values identical: same integer counts.
    val ctxCnt = bgCnt.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val model = bgCnt.join(ctxCnt, "w1")
      .select(col("w1"), col("w2"), expr("c2 * 1000000 DIV c1").as("cond_ppm"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("sum(cond_ppm) DIV count(1)").as("avg_ppm"))
      .withColumn("tier",
        when(col("avg_ppm") >= 35000, "fluent")
          .when(col("avg_ppm") >= 34000, "typical")
          .otherwise("odd"))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("avg_ppm")).as("sum_avg_ppm"),
           min(col("doc_id")).as("min_doc"))
  }

  /** LEAKAGE-SAFE train/val/test split — the GROUP split an eval-
    * honest training pipeline needs where t7's per-document hash split
    * is NOT enough: near-duplicate pages from one site land in
    * different splits under a per-doc hash, so the val set "tests" on
    * paraphrases of training data. Here the split key is the CANONICAL
    * DOMAIN (lowercased `parse_url` host of the crawl URL, d15's
    * canonicalization family): every document of a domain lands in the
    * same split by construction, so site-level near-dups cannot
    * straddle the boundary. The report carries the verification an ML
    * platform actually runs — `max_domain_splits`, the maximum number
    * of distinct splits any domain touches, which MUST be 1.
    *
    * Scale shape: domain + split are map-side expressions (no RNG, no
    * partitioning dependence — same doc → same split on any cluster);
    * the report is one hash agg on the K-valued split key, and the
    * leak check is a (domain)-keyed agg reduced to ONE row and
    * broadcast back. With coarse groups the 80/10/10 targets are
    * approximate per split — the inherent group-split trade-off the
    * counts make visible.
    */
  val t18GroupSplit: Q = (s, d) => {
    val assigned = documents(s, d)
      .withColumn("domain",
        lower(parse_url(graft.operators.Dedup.syntheticUrl, lit("HOST"))))
      .withColumn("h", expr(
        """cast(conv(substring(md5(concat('gsplit:', domain)), 1, 8),
          |          16, 10) as bigint) % 100""".stripMargin))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test"))
    val leak = assigned.groupBy(col("domain"))
      .agg(countDistinct(col("split")).as("k"))
      .agg(max(col("k")).as("max_domain_splits"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("domain")).as("n_domains"),
           countDistinct(col("lang")).as("n_langs"))
      .crossJoin(broadcast(leak))
  }

  /** BM25 ranking for a fixed query — the retrieval scorer a
    * RAG-style training pipeline runs over the corpus where t8's raw
    * TF-IDF is only a weighting. Same one-exchange shape as t8: the
    * exploded token stream feeds document length, term frequency and
    * document frequency; corpus stats (N, total tokens) reduce to ONE
    * row and broadcast back onto the per-(doc, term) score map.
    *
    * Arithmetic is integer at fixed points (the t16/t17 discipline) so
    * both engines replay it bit-exactly: the Robertson log-idf is
    * replaced by the documented rational idf `(N - df) * 1000 DIV df`
    * (same ordering, zero for terms in over half the corpus — the
    * stopword suppression BM25's idf exists for, visible on 'the'),
    * and the length norm `1 - b + b * dl/avgdl` with k1 = 1.2,
    * b = 0.75 becomes `250000 + (750000 * dl * N) DIV total_tokens`
    * ppm. Per-term score = idf_milli * tfc_milli (micro units), summed
    * per document; the global rank-10 filter over the empty window
    * partition is rewritten by Catalyst (`LimitPushDownThroughWindow`)
    * into `TakeOrderedAndProject(limit=10)` — per-partition top-10 +
    * driver merge, with the window ranking only the surviving 10 rows
    * — so the full scored set never rides an exchange (SqlPlanSpec
    * pins the rewrite).
    */
  val t19Bm25: Q = (s, d) => {
    org.apache.spark.sql.graftnative.GraftNative.install(s)
    import org.apache.spark.sql.expressions.Window
    val qTerms = Seq("spark", "merge", "window", "the")
    val toks = documents(s, d)
      .select(col("doc_id"), col("lang"),
              expr("shingles(lower(text), 1)").as("term"))
    val dl = toks.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("tot"), count(lit(1)).as("nd"))
    val tf = toks.filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // r14 (guide §2.3, the t8 rollup): df ≡ tf rows per term, so it
    // derives from the (already query-term-filtered) tf table instead
    // of a third full corpus explode. Values identical.
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_milli", expr("((nd - df) * 1000) DIV df"))
      .withColumn("norm_ppm",
        expr("250000 + (750000 * dl * nd) DIV tot"))
      .withColumn("tfc_milli", expr(
        "(tf * 2200000000) DIV (tf * 1000000 + (1200000 * norm_ppm) DIV 1000000)"))
      .withColumn("term_micro", expr("idf_milli * tfc_milli"))
    scored.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("term_micro")).as("score_micro"),
           count(lit(1)).as("n_hit"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
  }

  /** One BPE-training merge round — the inner loop of tokenizer
    * training, which at corpus scale is exactly this map-reduce job
    * repeated: count adjacent symbol pairs, pick the most frequent,
    * apply the merge, re-derive the vocabulary. Pair emission is a
    * map-side explode linear in corpus characters feeding ONE hash
    * agg; the winning pair is a 1-row TakeOrdered broadcast (ties
    * break lexicographically, so the round is deterministic — the
    * property that makes a distributed tokenizer build reproducible);
    * the merge itself is a map-only `replace` (leftmost
    * non-overlapping in both engines) and the before/after vocabulary
    * sizes are distinct aggregates over words. Real BPE iterates this
    * job ~50k times; one round is the unit of distributed work.
    */
  val t20BpePairs: Q = (s, d) => {
    // r14 optimization (guide §2.3 "aggregate before you shuffle"):
    // every downstream step — pair emission, the winning-pair scan,
    // the merge map, the vocabulary and occurrence rollups — is a
    // pure function of the DISTINCT word and its occurrence count, so
    // the corpus-sized word stream collapses to the vocab-sized
    // (w, cnt) table FIRST (one hash agg with map-side combine) and
    // everything after runs on |V| rows instead of corpus tokens:
    // pair counts become Σ cnt-weighted sums, vocab_before the row
    // count, n_occ_merged a cnt-weighted sum — all arithmetic
    // identical to the per-instance form. The old plan exploded the
    // corpus TWICE (pair counting + the merge/rollup) and pushed
    // every word instance through a 2-column countDistinct Expand;
    // the new plan touches the corpus once.
    val wc = docs(s, d)
      .select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      // two consumers (pair emission + the merge rollup)
      .localCheckpoint(eager = false)
    val pairs = wc.filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("cnt"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("pc"))
    val top = pairs
      .orderBy(col("pc").desc, col("pair")).limit(1)
    val merged = wc.crossJoin(broadcast(top))
      .select(col("pair"), col("pc"), col("w"), col("cnt"),
              expr("replace(w, pair, 'Ø')").as("mw"))
    merged.groupBy(col("pair"), col("pc"))
      .agg(count(lit(1)).as("vocab_before"),
           countDistinct(col("mw")).as("vocab_after"),
           sum(when(col("w") =!= col("mw"), col("cnt")).otherwise(0L))
             .as("n_occ_merged"))
      .select(col("pair").as("top_pair"), col("pc").as("pair_count"),
              col("vocab_before"), col("vocab_after"), col("n_occ_merged"))
  }

  /** Stratified EXACT-quota sampling — the mixture-spec operator t9's
    * rate sampler cannot express: "exactly `quota` docs per language",
    * not "≈ rate · n". Selection is rank-by-salted-hash within each
    * stratum, so membership is deterministic, uniform, and stable
    * under re-runs and partitioning.
    *
    * Scale shape (two-phase oversample-then-trim): a naive per-stratum
    * rank windows the WHOLE corpus through a lang-keyed sort. Instead
    * the exact stratum counts (a K-row aggregate, broadcast) set a
    * per-stratum hash-gate at 8× the quota rate, the gate runs as a
    * map-side filter on the scan, and only the ~8·quota survivors per
    * stratum pay the rank window — the sort input is O(quota), not
    * O(stratum). Both phases are pure functions of (doc_id, lang), so
    * the oracle replays them bit-exactly; the 8× margin makes a
    * stratum shortfall vanishingly unlikely at any corpus size (and
    * the gate disables itself — keep_ppm = 1e6 — for strata near the
    * quota).
    */
  val t21StratifiedSample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val quota = 12
    val docsT = documents(s, d)
    val gates = docsT.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"))
      .withColumn("keep_ppm",
        least(lit(1000000L), expr(s"(8L * $quota * 1000000) DIV n_lang")))
    val surv = docsT.join(broadcast(gates), "lang")
      .withColumn("hk", md5(concat(lit("strat:"), col("doc_id").cast("string"))))
      .filter(expr(
        "cast(conv(substring(hk, 1, 8), 16, 10) as bigint) % 1000000")
        < col("keep_ppm"))
    val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    surv.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= quota)
      .groupBy(col("lang"), col("n_lang"))
      .agg(count(lit(1)).as("n_sample"),
           min(col("doc_id")).as("min_doc"),
           sum(col("doc_id")).as("id_sum"))
  }

  /** Flesch-reading-ease readability scoring, transcendental-free:
    * sentences = runs of terminal punctuation, words = whitespace
    * splits, syllables = vowel-group runs (the standard heuristic —
    * exact syllabification needs a dictionary; vowel-group counting is
    * the deterministic proxy every readability library falls back to).
    * The score rides as integer MILLI-points
    * (206.835 → 206835, truncating integer division at each term) so
    * both engines produce identical bits — the t16/t17 discipline.
    * Rolled up per (lang, tier) — the readability-mix dashboard a
    * curation pipeline gates on.
    *
    * Scale shape: pure map over the corpus (three regex scans per
    * doc, no explode — counts come from regexp_extract_all sizes),
    * then a K-row hash agg. Text never rides an exchange.
    */
  val t22Readability: Q = (s, d) => {
    documents(s, d)
      .select(col("doc_id"), col("lang"),
        greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
          .cast("long").as("n_sent"),
        greatest(size(split(trim(col("text")), "\\s+")), lit(1))
          .cast("long").as("n_words"),
        greatest(size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
                 lit(1)).cast("long").as("n_syll"))
      .withColumn("score_m",
        expr("206835 - (1015 * n_words) DIV n_sent" +
             " - (84600 * n_syll) DIV n_words"))
      .withColumn("tier",
        when(col("score_m") >= 90000, lit("easy"))
          .when(col("score_m") >= 60000, lit("medium"))
          .otherwise(lit("hard")))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
           expr("sum(score_m) DIV count(1)").as("avg_score_m"),
           min(col("score_m")).as("min_score_m"),
           max(col("score_m")).as("max_score_m"))
  }

  /** Hashed-linear quality-classifier INFERENCE — the fastText /
    * CCNet-filter shape: no vocabulary table ships with the model;
    * each token hashes straight to its weight slot (the hashing trick),
    * the document score is the mean token weight, and the sign decides
    * keep/drop. Weights here are derived from the shared md5-prefix
    * hash (weight(t) = h32(t) % 2001 − 1000, milli-units in
    * [−1000, 1000]) so the DuckDB oracle replays inference exactly —
    * a trained model would substitute its weight array without
    * changing the plan. Scoring is one map-side pass (the in-row fold
    * never explodes tokens to rows); the K-row (lang, pred) rollup is
    * the only exchange. Integer milli-unit arithmetic end-to-end:
    * Spark DIV and DuckDB // both truncate toward zero, so negative
    * mean scores agree (verified against DuckDB — see u3's dialect
    * notes on truncating division).
    */
  val t23Classifier: Q = (s, d) =>
    docs(s, d)
      .withColumn("score_milli", expr(
        """(aggregate(ws, cast(0 as bigint), (acc, t) ->
          |   acc + cast(conv(substring(md5(lower(t)), 1, 8), 16, 10) as bigint)
          |         % 2001 - 1000))
          | DIV greatest(size(ws), 1)""".stripMargin))
      .withColumn("pred",
        when(col("score_milli") >= 0, "keep").otherwise("drop"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("score_milli")).as("sum_score"),
           min(col("doc_id")).as("min_doc"))

  /** CCNet-style PERPLEXITY FILTERING: a bigram LM is trained on a
    * REFERENCE slice only (sources src0/src1 — the "wikipedia" of the
    * synthetic corpus), every document is scored under that model with
    * a fixed backoff floor for bigrams the reference never saw, and
    * each language's documents split into head/middle/tail score
    * thirds (the CCNet bucketing that decides keep/maybe/drop). The
    * score is integer ppm end-to-end (truncating division both
    * engines), and bucketing is ntile over a fully-determined order,
    * so the oracle replays the whole filter exactly.
    *
    * Scale shape: the model is |ref bigram| rows keyed on (w1, w2) —
    * the score join shuffles on the same key as the model build, and
    * the doc-grain re-aggregate reuses the doc_id clustering the
    * bigram explode started from. The per-lang ntile sorts only the
    * K-doc score table (doc grain, not token grain); at 100 TB the
    * bucket boundaries would come from approx quantiles instead, with
    * the same plan shape minus the total order.
    */
  val t24PerplexityFilter: Q = (s, d) => {
    val bg = docs(s, d)
      .withColumn("n", size(col("ws")))
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("lang"), col("source"), explode(expr(
        """transform(sequence(1, n - 1),
          |          i -> struct(element_at(ws, i) AS w1,
          |                      element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("lang"), col("source"),
              col("b.w1").as("w1"), col("b.w2").as("w2"))
    val ref = bg.filter(col("source").isin("src0", "src1"))
    val bgCnt = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // context counts roll up from the vocab²-bounded bigram counts
    // (count per w1 ≡ Σ_w2 c2) instead of a second full explode +
    // corpus-sized aggregation of the reference stream — same r14
    // one-corpus-pass-fewer rewrite as t17 (guide §2.3), identical
    // integer counts.
    val ctxCnt = bgCnt.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val model = bgCnt.join(ctxCnt, "w1")
      .select(col("w1"), col("w2"), expr("c2 * 1000000 DIV c1").as("cond_ppm"))
    val scored = bg.join(model, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("sum(coalesce(cond_ppm, 100)) DIV count(1)").as("score_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score_ppm").desc, col("doc_id"))
    scored.withColumn("third", ntile(3).over(w))
      .withColumn("bucket",
        when(col("third") === 1, "head")
          .when(col("third") === 2, "middle").otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("score_ppm")).as("sum_score"),
           min(col("doc_id")).as("min_doc"))
  }

  /** Inverted-index conjunctive search: the corpus as posting lists.
    * Stage 1 (index build) is one explode + hash aggregate to the
    * (term, doc_id, tf) grain — term is the shuffle key, so at 100 TB
    * the index is term-partitioned exactly like a sharded search
    * engine; each term's postings are co-located and independent.
    * Stage 2 (AND query) filters the grain to the query terms BEFORE
    * the aggregate (predicate reaches the scan side of the exchange),
    * then a doc-keyed aggregate demands all |Q| terms
    * (count(distinct term) = 3 — the posting-list intersection) and
    * ranks by summed term frequency. Nothing corpus-sized crosses the
    * driver; the only data-sized exchange is the (doc_id, term) agg.
    */
  val t25InvertedIndex: Q = (s, d) => {
    val qterms = Seq("spark", "merge", "window")
    val toks = docs(s, d).select(col("doc_id"), explode(col("ws")).as("term"))
    toks
      .filter(col("term").isin(qterms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nt"),
           sum(col("tf")).cast("long").as("score"))
      .filter(col("nt") === qterms.size)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)
  }

  /** Deterministic epoch shuffle + shard assignment (the training-data
    * "global shuffle" step): order key = md5('ep1:' || doc_id) — a
    * seedable, engine-replayable permutation — shard = key % 8, and
    * the within-shard training order is row_number over (key, doc_id).
    * The plan IS the 100 TB recipe: one map pass computes (key,
    * shard), one exchange partitions by shard, and each shard sorts
    * independently — repartition-by-output-shard + sortWithinPartitions,
    * never a global sort. The checksum sum(pos * doc_id) pins the
    * exact per-shard order, not just membership, so any drift in the
    * permutation is a hash mismatch.
    */
  val t26EpochShuffle: Q = (s, d) =>
    documents(s, d)
      .withColumn("ok", expr(
        """cast(conv(substring(md5(concat('ep1:', cast(doc_id as string))),
          |          1, 12), 16, 10) as bigint)""".stripMargin))
      .withColumn("shard", col("ok") % 8)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("ok"), col("doc_id"))))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).cast("long").as("sum_chars"),
           sum(col("pos") * col("doc_id")).cast("long").as("order_checksum"))

  /** Span-corruption sample construction (the T5 / fill-in-the-middle
    * shape): each document splits into (prefix, middle, suffix) around
    * a DETERMINISTIC masked span — start = 1 + md5('span:'||doc_id)
    * mod max(n−4, 1), middle = up to 4 tokens — so the training set is
    * reproducible across runs and engines (no RNG). The middle's md5
    * (aggregated as a per-source min) proves the TEXT was actually
    * sliced, not just the arithmetic replayed; token conservation
    * (prefix + middle + suffix = n) rides the three sums. Map-only +
    * K-row aggregate — sample construction costs one scan at any
    * scale.
    */
  val t27SpanCorruption: Q = (s, d) =>
    docs(s, d)
      .withColumn("n", size(col("ws")))
      .withColumn("st", expr(
        """1 + cast(conv(substring(md5(concat('span:', cast(doc_id as string))),
          |          1, 8), 16, 10) as bigint) % greatest(n - 4, 1)""".stripMargin))
      .withColumn("mid_len", least(lit(4), col("n") - col("st") + 1))
      .withColumn("mid_md5",
        md5(concat_ws(" ", expr("slice(ws, st, mid_len)"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("st") - 1).cast("long").as("sum_prefix_toks"),
           sum(col("mid_len")).cast("long").as("sum_middle_toks"),
           sum(col("n") - (col("st") - 1) - col("mid_len")).cast("long")
             .as("sum_suffix_toks"),
           min(col("mid_md5")).as("min_mid_md5"))

  /** Unicode NFC normalization — the canonicalization pass a
    * multilingual curation pipeline runs before any hashing or dedup:
    * the same visible text arrives both precomposed (é = U+00E9) and
    * decomposed (e + U+0301) from different crawls/encoders, and
    * every downstream exact-match (d1's md5 groups, d13's bloom keys,
    * t4's fingerprints) silently treats them as DIFFERENT documents
    * until normalized. The corpus carries no decomposed text, so the
    * query PLANTS deterministic combining sequences (a function of
    * doc_id — the t10 planted-PII discipline) and proves the
    * normalizer collapses them: per-lang changed-doc counts, exact
    * code-point totals before/after, and an md5 over the normalized
    * text that only matches the oracle if both engines produced
    * byte-identical NFC output.
    *
    * This is a deliberate Scala UDF (`java.text.Normalizer`): Spark
    * has no built-in NFC, and a custom Expression would wrap the same
    * JVM library call without codegen benefit — the honest exception
    * to the functions-over-UDFs rule, like the u-family exemplars.
    * Scale shape: pure per-row map, no shuffle; the aggregation is
    * the only exchange.
    */
  val t28NfcNormalize: Q = (s, d) => {
    val nfc = udf((t: String) =>
      if (t == null) null
      else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))
    documents(s, d)
      .withColumn("planted",
        // DECOMPOSED sequences (source bytes really are 'e'+U+0301 and
        // 'A'+U+030A — editors render them composed): NFC collapses
        // each to one precomposed code point, so every planted doc
        // shrinks by exactly one code point and flips n_changed
        when(col("doc_id") % 3 === 0, concat(lit("Café "), col("text")))
          .when(col("doc_id") % 3 === 1, concat(lit("Å "), col("text")))
          .otherwise(col("text")))
      .withColumn("norm", nfc(col("planted")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("norm") =!= col("planted"), 1L).otherwise(0L))
             .as("n_changed"),
           sum(length(col("planted"))).cast("long").as("sum_len_raw"),
           sum(length(col("norm"))).cast("long").as("sum_len_norm"),
           min(md5(col("norm"))).as("min_norm_md5"))
  }

  val queries: Map[String, Q] = Map(
    "t28_nfc_normalize" -> t28NfcNormalize,
    "t27_span_corruption" -> t27SpanCorruption,
    "t25_inverted_index" -> t25InvertedIndex,
    "t26_epoch_shuffle" -> t26EpochShuffle,
    "t24_perplexity_filter" -> t24PerplexityFilter,
    "t23_classifier" -> t23Classifier,
    "t22_readability" -> t22Readability,
    "t21_stratified_sample" -> t21StratifiedSample,
    "t19_bm25" -> t19Bm25,
    "t20_bpe_pairs" -> t20BpePairs,
    "t18_group_split" -> t18GroupSplit,
    "t16_concentration" -> t16Concentration,
    "t17_bigram_lm" -> t17BigramLm,
    "t15_domain_filter" -> t15DomainFilter,
    "t14_corpus_pipeline" -> t14CorpusPipeline,
    "t9_mixture_sample" -> t9MixtureSample,
    "t10_pii_redact" -> t10PiiRedact,
    "t11_repetition" -> t11Repetition,
    "t12_sequence_pack" -> t12SequencePack,
    "t13_uniform_sample" -> t13UniformSample,
    "t1_lang_id" -> t1LangId,
    "t2_quality" -> t2Quality,
    "t3_token_count" -> t3TokenCount,
    "t4_fingerprint" -> t4Fingerprint,
    "t5_rolling_hash" -> t5RollingHash,
    "t6_clean_pipeline" -> t6CleanPipeline,
    "t7_split_sample" -> t7SplitSample,
    "t8_tfidf" -> t8Tfidf,
  )

  val oracles: Map[String, String] = Map(
    // the same planted combining sequences built explicitly from
    // code points (chr(769) = U+0301, chr(778) = U+030A), normalized
    // by DuckDB's utf8proc NFC — the md5 only matches if both
    // engines' normalizers emit byte-identical output
    "t28_nfc_normalize" ->
      """WITH p AS (SELECT lang,
        |  CASE WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(769) || ' ' || text
        |       WHEN doc_id % 3 = 1 THEN 'A' || chr(778) || ' ' || text
        |       ELSE text END AS planted
        |FROM documents),
        |n AS (SELECT lang, planted, nfc_normalize(planted) AS norm FROM p)
        |SELECT lang, count(1) AS n_docs,
        |  CAST(sum(CASE WHEN norm <> planted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed,
        |  CAST(sum(length(planted)) AS BIGINT) AS sum_len_raw,
        |  CAST(sum(length(norm)) AS BIGINT) AS sum_len_norm,
        |  min(md5(norm)) AS min_norm_md5
        |FROM n GROUP BY lang""".stripMargin,
    // the same md5 span arithmetic and the sliced middle's md5
    "t27_span_corruption" ->
      s"""WITH t AS ($sqlDocs),
         |sp AS (SELECT source, length(ws) AS n,
         |  1 + ('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |        % greatest(length(ws) - 4, 1) AS st,
         |  ws
         |FROM t),
         |m AS (SELECT source, n, st,
         |        least(4, n - st + 1) AS mid_len,
         |        md5(array_to_string(ws[st:st + least(4, n - st + 1) - 1], ' '))
         |          AS mid_md5
         |      FROM sp)
         |SELECT source, count(1) AS n_docs,
         |  CAST(sum(st - 1) AS BIGINT) AS sum_prefix_toks,
         |  CAST(sum(mid_len) AS BIGINT) AS sum_middle_toks,
         |  CAST(sum(n - (st - 1) - mid_len) AS BIGINT) AS sum_suffix_toks,
         |  min(mid_md5) AS min_mid_md5
         |FROM m GROUP BY source""".stripMargin,
    // posting-list build + AND-intersection replayed via unnest
    "t25_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(1) AS tf FROM toks
        |       WHERE term IN ('spark', 'merge', 'window')
        |       GROUP BY doc_id, term)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
        |FROM tf GROUP BY doc_id
        |HAVING count(DISTINCT term) = 3
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    // the same md5 permutation, shard partition, and ordered checksum
    "t26_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    ('0x' || substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
        |      AS ok
        |  FROM documents),
        |p AS (SELECT *, ok % 8 AS shard,
        |        row_number() OVER (PARTITION BY ok % 8
        |                           ORDER BY ok, doc_id) AS pos
        |      FROM h)
        |SELECT shard, count(1) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
        |FROM p GROUP BY shard""".stripMargin,
    // the whole filter replayed: reference-trained model, backoff
    // floor, truncating ppm mean, per-lang ntile thirds
    "t24_perplexity_filter" ->
      s"""WITH t AS ($sqlDocs),
         |bgr AS (SELECT doc_id, lang, source,
         |          unnest(list_transform(range(1, length(ws)),
         |            i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b
         |        FROM t WHERE length(ws) >= 2),
         |p AS (SELECT doc_id, lang, source,
         |             struct_extract(b, 'w1') AS w1,
         |             struct_extract(b, 'w2') AS w2 FROM bgr),
         |r AS (SELECT * FROM p WHERE source IN ('src0', 'src1')),
         |c2 AS (SELECT w1, w2, count(1) AS c2 FROM r GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(1) AS c1 FROM r GROUP BY w1),
         |m AS (SELECT w1, w2, c2 * 1000000 // c1 AS cond_ppm
         |      FROM c2 JOIN c1 USING (w1)),
         |sc AS (SELECT doc_id, lang,
         |         CAST(sum(coalesce(cond_ppm, 100)) AS BIGINT) // count(1)
         |           AS score_ppm
         |       FROM p LEFT JOIN m USING (w1, w2) GROUP BY doc_id, lang),
         |nt AS (SELECT lang, doc_id, score_ppm,
         |         ntile(3) OVER (PARTITION BY lang
         |                        ORDER BY score_ppm DESC, doc_id) AS third
         |       FROM sc)
         |SELECT lang,
         |  CASE third WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  count(1) AS n_docs, CAST(sum(score_ppm) AS BIGINT) AS sum_score,
         |  min(doc_id) AS min_doc
         |FROM nt GROUP BY 1, 2""".stripMargin,
    // inference replayed token-for-token: same md5-slot weights, same
    // truncating integer mean
    "t23_classifier" ->
      """WITH t AS (SELECT doc_id, lang,
        |    regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  CAST(list_sum(list_transform(ws, t ->
        |      ('0x' || substr(md5(lower(t)), 1, 8))::BIGINT % 2001 - 1000))
        |    AS BIGINT) // greatest(len(ws), 1) AS score_milli
        |  FROM t)
        |SELECT lang,
        |  CASE WHEN score_milli >= 0 THEN 'keep' ELSE 'drop' END AS pred,
        |  count(1) AS n_docs,
        |  CAST(sum(score_milli) AS BIGINT) AS sum_score,
        |  min(doc_id) AS min_doc
        |FROM sc GROUP BY 1, 2""".stripMargin,
    "t22_readability" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent,
        |    greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)
        |      AS n_words,
        |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
        |      AS n_syll
        |  FROM documents),
        |sc AS (
        |  SELECT lang,
        |    206835 - (1015 * n_words) // n_sent
        |           - (84600 * n_syll) // n_words AS score_m
        |  FROM m)
        |SELECT lang,
        |  CASE WHEN score_m >= 90000 THEN 'easy'
        |       WHEN score_m >= 60000 THEN 'medium'
        |       ELSE 'hard' END AS tier,
        |  count(1) AS n_docs,
        |  CAST(sum(score_m) // count(1) AS BIGINT) AS avg_score_m,
        |  CAST(min(score_m) AS BIGINT) AS min_score_m,
        |  CAST(max(score_m) AS BIGINT) AS max_score_m
        |FROM sc GROUP BY 1, 2""".stripMargin,
    // same two-phase replay: K-row gate from exact counts, map-side
    // hash filter, rank-by-hash trim within each stratum
    "t21_stratified_sample" ->
      """WITH cnt AS (SELECT lang, count(1) AS n_lang FROM documents GROUP BY 1),
        |g AS (SELECT lang, n_lang,
        |        least(1000000, (8 * 12 * 1000000) // n_lang) AS keep_ppm
        |      FROM cnt),
        |sv AS (SELECT d.doc_id, d.lang, g.n_lang,
        |         md5('strat:' || CAST(d.doc_id AS VARCHAR)) AS hk
        |       FROM documents d JOIN g USING (lang)
        |       WHERE ('0x' || substr(md5('strat:' || CAST(d.doc_id AS VARCHAR)),
        |              1, 8))::BIGINT % 1000000 < g.keep_ppm),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY lang ORDER BY hk, doc_id) AS rnk FROM sv)
        |SELECT lang, n_lang, count(1) AS n_sample, min(doc_id) AS min_doc,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r WHERE rnk <= 12 GROUP BY lang, n_lang""".stripMargin,
    // the same integer-ppm BM25 pipeline: rational idf, length norm,
    // saturating tf component, micro-unit per-term scores
    "t19_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, lang, count(1) AS dl FROM toks GROUP BY 1, 2),
        |st AS (SELECT CAST(sum(dl) AS BIGINT) AS tot, count(1) AS nd FROM dl),
        |tf AS (SELECT doc_id, term, count(1) AS tf FROM toks
        |       WHERE term IN ('spark', 'merge', 'window', 'the')
        |       GROUP BY 1, 2),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |        WHERE term IN ('spark', 'merge', 'window', 'the')
        |        GROUP BY 1),
        |sc AS (SELECT t.doc_id, d2.lang,
        |         (((nd - df) * 1000) // df) *
        |         ((t.tf * 2200000000) //
        |          (t.tf * 1000000 +
        |           (1200000 * (250000 + (750000 * d2.dl * nd) // tot))
        |             // 1000000)) AS term_micro
        |       FROM tf t JOIN dfq USING (term)
        |       JOIN dl d2 ON d2.doc_id = t.doc_id CROSS JOIN st),
        |ag AS (SELECT doc_id, lang, CAST(sum(term_micro) AS BIGINT)
        |         AS score_micro, count(1) AS n_hit
        |       FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER
        |        (ORDER BY score_micro DESC, doc_id) AS rnk FROM ag)
        |SELECT doc_id, lang, score_micro, n_hit, rnk FROM r
        |WHERE rnk <= 10""".stripMargin,
    // one BPE merge round: sliding char-pair emit, lexicographic-tie
    // top pair, leftmost-non-overlapping replace in both engines
    "t20_bpe_pairs" ->
      """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
        |           FROM documents),
        |w AS (SELECT unnest(ws) AS w FROM t),
        |p AS (SELECT unnest(list_transform(range(1, length(w)),
        |               i -> substr(w, i, 2))) AS pair
        |      FROM w WHERE length(w) >= 2),
        |pc AS (SELECT pair, count(1) AS pc FROM p GROUP BY 1),
        |top AS (SELECT pair, pc FROM pc ORDER BY pc DESC, pair LIMIT 1),
        |m AS (SELECT top.pair, top.pc, w.w,
        |        replace(w.w, top.pair, 'Ø') AS mw
        |      FROM w CROSS JOIN top)
        |SELECT pair AS top_pair, pc AS pair_count,
        |  count(DISTINCT w) AS vocab_before,
        |  count(DISTINCT mw) AS vocab_after,
        |  CAST(sum(CASE WHEN w <> mw THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_occ_merged
        |FROM m GROUP BY 1, 2""".stripMargin,
    // the shared synthetic-URL builder + the HOST regex twin of
    // parse_url (d15's dialect), then the same salted-hash split
    "t18_group_split" ->
      s"""WITH u AS (
         |  SELECT doc_id, lang,
         |    ${graft.operators.Dedup.sqlSyntheticUrl} AS url
         |  FROM documents),
         |a AS (SELECT lang,
         |  lower(regexp_extract(url, 'https://([^/]+)/', 1)) AS domain
         |  FROM u),
         |sp AS (SELECT lang, domain,
         |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM (SELECT *,
         |    ('0x' || substr(md5('gsplit:' || domain), 1, 8))::BIGINT % 100 AS h
         |    FROM a)),
         |leak AS (SELECT max(k) AS max_domain_splits FROM
         |  (SELECT domain, count(DISTINCT split) AS k FROM sp GROUP BY domain))
         |SELECT split, count(1) AS n_docs,
         |  count(DISTINCT domain) AS n_domains,
         |  count(DISTINCT lang) AS n_langs,
         |  max_domain_splits
         |FROM sp CROSS JOIN leak
         |GROUP BY split, max_domain_splits""".stripMargin,
    "t16_concentration" ->
      s"""WITH t AS ($sqlDocs),
         |p AS (SELECT source, CAST(length(ws) AS BIGINT) AS n,
         |  list_sum(list_transform(
         |    list_transform(list_distinct(ws),
         |                   w -> CAST(length(list_filter(ws, x -> x = w)) AS BIGINT)),
         |    c -> c * c)) AS coll
         |  FROM t)
         |SELECT source, count(1) AS n_docs,
         |  CAST(sum(CASE WHEN coll * 10000 // (n*n) >= 800 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_flagged,
         |  CAST(sum(coll * 10000 // (n*n)) AS BIGINT) AS sum_conc_bp,
         |  CAST(sum((n*n) // coll) AS BIGINT) AS sum_eff_vocab
         |FROM p GROUP BY source""".stripMargin,
    "t17_bigram_lm" ->
      s"""WITH t AS ($sqlDocs),
         |bgr AS (SELECT doc_id, lang,
         |          unnest(list_transform(range(1, length(ws)),
         |            i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS b
         |        FROM t WHERE length(ws) >= 2),
         |p AS (SELECT doc_id, lang, struct_extract(b, 'w1') AS w1,
         |             struct_extract(b, 'w2') AS w2 FROM bgr),
         |c2 AS (SELECT w1, w2, count(1) AS c2 FROM p GROUP BY w1, w2),
         |c1 AS (SELECT w1, count(1) AS c1 FROM p GROUP BY w1),
         |m AS (SELECT w1, w2, c2 * 1000000 // c1 AS cond_ppm
         |      FROM c2 JOIN c1 USING (w1)),
         |sc AS (SELECT doc_id, lang, sum(cond_ppm) // count(1) AS avg_ppm
         |       FROM p JOIN m USING (w1, w2) GROUP BY doc_id, lang)
         |SELECT lang,
         |  CASE WHEN avg_ppm >= 35000 THEN 'fluent'
         |       WHEN avg_ppm >= 34000 THEN 'typical'
         |       ELSE 'odd' END AS tier,
         |  count(1) AS n_docs,
         |  CAST(sum(avg_ppm) AS BIGINT) AS sum_avg_ppm,
         |  min(doc_id) AS min_doc
         |FROM sc GROUP BY lang, tier""".stripMargin,
    "t15_domain_filter" ->
      """WITH u AS (
        |  SELECT 'https://' || source || '.example.com/docs/' ||
        |         CAST(doc_id AS VARCHAR) || '?ref=' || lang AS url
        |  FROM documents),
        |p AS (SELECT
        |  regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |  regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
        |  regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref
        |  FROM u)
        |SELECT host, count(1) AS n_docs,
        |  count(DISTINCT ref) AS n_refs, min(path) AS first_path
        |FROM p
        |WHERE host NOT IN ('src0.example.com', 'src7.example.com',
        |                   'src13.example.com')
        |GROUP BY host""".stripMargin,
    "t14_corpus_pipeline" ->
      s"""WITH t AS ($sqlDocs),
         |m AS (SELECT *, length(ws) AS n,
         |  $sqlTopPct AS top_pct,
         |  $sqlDup2Pct AS dup2_pct,
         |  CAST(floor(length(list_distinct(ws)) * 100.0 / length(ws)) AS BIGINT)
         |    AS diversity_pct
         |  FROM t),
         |surv AS (SELECT * FROM (
         |           SELECT *, row_number() OVER (PARTITION BY md5(text)
         |                                        ORDER BY doc_id) AS rn FROM m)
         |         WHERE rn = 1
         |           AND top_pct < $TopPctMax AND dup2_pct < $Dup2PctMax
         |           AND n_chars BETWEEN 100 AND 800 AND diversity_pct >= 60),
         |p AS (SELECT source, doc_id, n,
         |        sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |      FROM surv)
         |SELECT source, count(1) AS n_docs,
         |  count(DISTINCT CAST((cum - n) // 512 AS BIGINT)) AS n_seqs,
         |  CAST(sum(n) AS BIGINT) AS total_tokens,
         |  min(doc_id) AS min_doc
         |FROM p GROUP BY source""".stripMargin,
    "t13_uniform_sample" ->
      """WITH s AS (
        |  SELECT * FROM documents
        |  ORDER BY md5('samp:' || CAST(doc_id AS VARCHAR)) LIMIT 100)
        |SELECT source, count(1) AS n_docs, min(doc_id) AS min_doc
        |FROM s GROUP BY source""".stripMargin,
    "t12_sequence_pack" ->
      s"""WITH t AS ($sqlDocs),
         |c AS (SELECT source, doc_id, length(ws) AS n_tok,
         |        sum(length(ws)) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |      FROM t),
         |b AS (SELECT source, doc_id, n_tok,
         |        CAST((cum - n_tok) // 512 AS BIGINT) AS seq_id FROM c)
         |SELECT source, seq_id, count(1) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
         |  min(doc_id) AS first_doc
         |FROM b GROUP BY source, seq_id""".stripMargin,
    "t10_pii_redact" ->
      s"""WITH p AS (SELECT source,
         |  CASE WHEN doc_id % 3 = 0
         |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         |       WHEN doc_id % 7 = 0
         |         THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |       ELSE text END AS txt
         |  FROM documents),
         |r AS (SELECT source, txt,
         |  length(regexp_extract_all(txt, '$emailRe')) AS n_emails,
         |  length(regexp_extract_all(txt, '$phoneRe')) AS n_phones,
         |  regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
         |                 '$phoneRe', '<PHONE>', 'g') AS red
         |  FROM p)
         |SELECT source, count(1) AS n_docs,
         |  CAST(sum(n_emails) AS BIGINT) AS n_emails,
         |  CAST(sum(n_phones) AS BIGINT) AS n_phones,
         |  CAST(sum(CASE WHEN red <> txt THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted_docs,
         |  CAST(sum(length(red)) AS BIGINT) AS sum_len_redacted
         |FROM r GROUP BY source""".stripMargin,
    "t11_repetition" ->
      s"""WITH t AS ($sqlDocs),
         |p AS (SELECT source, $sqlTopPct AS top_pct, $sqlDup2Pct AS dup2_pct
         |      FROM t)
         |SELECT source, count(1) AS n_docs,
         |  CAST(sum(CASE WHEN top_pct >= $TopPctMax OR dup2_pct >= $Dup2PctMax
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(top_pct) AS BIGINT) AS sum_top_pct,
         |  CAST(sum(dup2_pct) AS BIGINT) AS sum_dup2_pct
         |FROM p GROUP BY source""".stripMargin,
    "t9_mixture_sample" ->
      """WITH c AS (SELECT source, count(1) AS n_src FROM documents GROUP BY source),
        |t AS (SELECT min(n_src) AS tgt FROM c),
        |f AS (SELECT source, CAST(tgt * 1000000 // n_src AS BIGINT) AS keep_ppm
        |      FROM c, t),
        |k AS (SELECT d.source, d.doc_id
        |      FROM documents d JOIN f USING (source)
        |      WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |              % 1000000 < keep_ppm)
        |SELECT source, CAST(count(1) AS BIGINT) AS n_kept, min(doc_id) AS min_doc
        |FROM k GROUP BY source""".stripMargin,
    "t8_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(1) AS tf FROM toks
        |       GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |        GROUP BY term),
        |n AS (SELECT count(1) AS nd FROM documents),
        |sc AS (SELECT doc_id, term, tf,
        |         tf * (CAST(nd AS DOUBLE) / df) AS score
        |       FROM tf JOIN dfq USING (term) CROSS JOIN n
        |       WHERE doc_id < 20),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rnk FROM sc)
        |SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 3""".stripMargin,
    "t1_lang_id" ->
      s"""WITH t AS ($sqlDocs),
         |c AS (SELECT lang,
         |  length(list_filter(ws, t -> t IN ('the', 'a'))) AS c_article,
         |  length(list_filter(ws, t -> t IN ('table', 'scan', 'merge', 'part'))) AS c_storage,
         |  length(list_filter(ws, t -> t IN ('spark', 'stream', 'batch', 'query'))) AS c_compute,
         |  length(list_filter(ws, t -> t IN ('row', 'window', 'group', 'sort'))) AS c_shape
         |FROM t)
         |SELECT lang,
         |  CASE WHEN c_article >= c_storage AND c_article >= c_compute AND c_article >= c_shape THEN 'article'
         |       WHEN c_storage >= c_compute AND c_storage >= c_shape THEN 'storage'
         |       WHEN c_compute >= c_shape THEN 'compute'
         |       ELSE 'shape' END AS pred,
         |  count(1) AS n_docs
         |FROM c GROUP BY lang, pred""".stripMargin,
    "t2_quality" ->
      s"""WITH t AS ($sqlDocs),
         |q AS (SELECT lang, length(ws) AS n_words,
         |        CASE WHEN n_chars BETWEEN 100 AND 800 THEN 1 ELSE 0 END AS len_ok,
         |        CAST(floor(length(list_distinct(ws)) * 100.0 / length(ws)) AS BIGINT) AS diversity_pct
         |      FROM t)
         |SELECT lang,
         |  CASE WHEN len_ok = 1 AND diversity_pct >= 80 THEN 'high'
         |       WHEN diversity_pct >= 60 THEN 'mid' ELSE 'low' END AS tier,
         |  count(1) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_words
         |FROM q GROUP BY 1, 2""".stripMargin,
    "t3_token_count" ->
      s"""WITH t AS ($sqlDocs)
         |SELECT source, count(1) AS n_docs,
         |  CAST(sum(length(ws)) AS BIGINT) AS sum_ws_tokens,
         |  CAST(sum(length(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS sum_bpe_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
         |FROM t GROUP BY source""".stripMargin,
    "t4_fingerprint" ->
      s"""WITH t AS ($sqlDocs),
         |f AS (SELECT lang, md5(array_to_string(list_sort(list_distinct(ws)), ' ')) AS fp,
         |             count(1) AS n_docs
         |      FROM t GROUP BY lang, fp)
         |SELECT lang, count(1) AS n_clusters, CAST(sum(n_docs) AS BIGINT) AS n_clustered_docs
         |FROM f WHERE n_docs > 1 GROUP BY lang""".stripMargin,
    "t7_split_sample" ->
      """SELECT lang,
        | CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |      ELSE 'test' END AS split,
        | count(1) AS n_docs, min(doc_id) AS min_doc
        |FROM (SELECT *,
        |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    "t6_clean_pipeline" ->
      s"""WITH t AS ($sqlDocs),
         |q AS (SELECT *, length(ws) AS n_words FROM t
         |      WHERE n_chars BETWEEN 100 AND 800
         |        AND floor(length(list_distinct(ws)) * 100.0 / length(ws)) >= 60),
         |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
         |                                   ORDER BY doc_id) AS rn FROM q)
         |SELECT lang, count(1) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS total_words,
         |  count(DISTINCT source) AS n_sources
         |FROM d WHERE rn = 1 GROUP BY lang""".stripMargin,
    "t5_rolling_hash" ->
      """WITH h AS (
        |  SELECT list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(range(1, least(length(text), 64) + 1),
        |                     i -> ascii(substring(text, i, 1))::BIGINT)),
        |    (a, c) -> (a * 31 + c) % 1000000007) AS rh
        |  FROM documents)
        |SELECT rh % 16 AS rh_bucket, count(1) AS n_docs,
        |       count(DISTINCT rh) AS n_distinct_hashes
        |FROM h GROUP BY 1""".stripMargin,
  )
}
